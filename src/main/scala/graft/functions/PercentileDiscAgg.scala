package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact Postgres `percentile_disc(p) WITHIN GROUP (ORDER BY x)` as a
  * native Catalyst aggregate (SURVEY.md §4 custom work item 1; reference
  * semantics `catalog/dags/common/popularity/sql.py:214-229`).
  *
  * The buffer is a value→count map (distinct values, not raw rows), so
  * memory is bounded by group cardinality of the metric — the same
  * collapse the DataFrame implementation in operators.Popularity gets
  * from its pre-aggregation. Registered as SQL function
  * `percentile_disc_exact(x, p)` for API parity with the reference's
  * `image_popularity_percentile` SQL function surface.
  */
case class PercentileDiscAgg(
    child: Expression,
    percentage: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Double, Long]]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): mutable.HashMap[Double, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[Double, Long], input: InternalRow)
      : mutable.HashMap[Double, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val d = v.asInstanceOf[Double]
      buf.update(d, buf.getOrElse(d, 0L) + 1L)
    }
    buf
  }

  override def merge(b1: mutable.HashMap[Double, Long],
      b2: mutable.HashMap[Double, Long]): mutable.HashMap[Double, Long] = {
    b2.foreach { case (k, n) => b1.update(k, b1.getOrElse(k, 0L) + n) }
    b1
  }

  override def eval(buf: mutable.HashMap[Double, Long]): Any = {
    if (buf.isEmpty) return null
    val total = buf.valuesIterator.sum
    val threshold = total * percentage
    var cum = 0L
    // smallest value whose cumulative count reaches total * p
    for ((v, n) <- buf.toSeq.sortBy(_._1)) {
      cum += n
      if (cum >= threshold) return v
    }
    buf.keysIterator.max // unreachable (fp slack guard)
  }

  override def serialize(buf: mutable.HashMap[Double, Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (k, n) => out.writeDouble(k); out.writeLong(n) }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Double, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[Double, Long]
    var i = 0
    while (i < n) { buf.update(in.readDouble(), in.readLong()); i += 1 }
    buf
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def withNewMutableAggBufferOffset(offset: Int): PercentileDiscAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): PercentileDiscAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): PercentileDiscAgg =
    copy(child = c)
}

object PercentileDiscAgg {

  /** Expression builder for `percentile_disc_exact(x, p)` (p must be a
    * literal), for the temp-function registration.
    */
  val builder: Seq[Expression] => Expression = { exprs =>
    val p = exprs(1) match {
      case Literal(v, DoubleType) => v.asInstanceOf[Double]
      case Literal(v, _: DecimalType) =>
        v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
      case other => throw new IllegalArgumentException(
        s"percentile_disc_exact: p must be a literal, got $other")
    }
    // unconditional numeric cast; a double→double Cast folds away
    val childD = org.apache.spark.sql.catalyst.expressions.Cast(
      exprs.head, DoubleType)
    PercentileDiscAgg(childD, p).toAggregateExpression()
  }

  /** Register `percentile_disc_exact(x, p)` in an existing session's
    * function registry.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "percentile_disc_exact", builder, "built-in")
}
