package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GetArrayItem,
  Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exact Postgres `percentile_disc(p) WITHIN GROUP (ORDER BY x)` as a
  * native Catalyst aggregate (SURVEY.md §4 custom work item 1; reference
  * semantics `catalog/dags/common/popularity/sql.py:214-229`): for each
  * fraction p, the smallest value whose cumulative count reaches
  * `total * p`.
  *
  * The buffer is a value→count map (distinct values, not raw rows), so
  * memory is bounded by the number of distinct values per group; the
  * map-side partial collapses duplicates before the shuffle. Values keep
  * their own type (no cast through double: longs above 2^53 and wide
  * decimals stay exact), and every fraction in `percentages` is read
  * from the one buffer. The result is an array holding one value per
  * fraction, in `percentages` order; a group with no non-null value
  * yields null. Float and double values are normalized as grouping
  * normalizes them (-0.0 is 0.0, one NaN), and order as Spark orders
  * them (NaN last).
  */
case class PercentileDiscAgg(
    child: Expression,
    percentages: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Any, Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!PercentileDiscAgg.supports(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"percentile_disc_exact: unsupported value type ${child.dataType.sql}")
    else if (percentages.isEmpty || percentages.exists(p => !(p >= 0 && p <= 1)))
      TypeCheckResult.TypeCheckFailure(
        s"percentile_disc_exact: fractions must lie in [0, 1], got $percentages")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val normalize: Any => Any = child.dataType match {
    case DoubleType => NormalizeFloatingNumbers.DOUBLE_NORMALIZER
    case FloatType => NormalizeFloatingNumbers.FLOAT_NORMALIZER
    case _ => InternalRow.copyValue // strings point into the input row
  }

  private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)

  override def createAggregationBuffer(): mutable.HashMap[Any, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[Any, Long], input: InternalRow)
      : mutable.HashMap[Any, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val k = normalize(v)
      buf.update(k, buf.getOrElse(k, 0L) + 1L)
    }
    buf
  }

  override def merge(b1: mutable.HashMap[Any, Long],
      b2: mutable.HashMap[Any, Long]): mutable.HashMap[Any, Long] = {
    b2.foreach { case (k, n) => b1.update(k, b1.getOrElse(k, 0L) + n) }
    b1
  }

  override def eval(buf: mutable.HashMap[Any, Long]): Any = {
    if (buf.isEmpty) return null
    val sorted = buf.toArray.sortBy(_._1)(ordering)
    val cum = sorted.scanLeft(0L)(_ + _._2).tail
    val total = cum.last
    // cum >= total * p compares as doubles, like the SQL form; the last
    // value always qualifies since p <= 1
    new GenericArrayData(percentages.map { p =>
      sorted(cum.indexWhere(_ >= total * p))._1
    }.toArray)
  }

  override def serialize(buf: mutable.HashMap[Any, Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (k, n) => writeValue(out, k); out.writeLong(n) }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Any, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[Any, Long]
    var i = 0
    while (i < n) { buf.update(readValue(in), in.readLong()); i += 1 }
    buf
  }

  private def writeValue(out: DataOutputStream, v: Any): Unit =
    child.dataType match {
      case ByteType => out.writeByte(v.asInstanceOf[Byte])
      case ShortType => out.writeShort(v.asInstanceOf[Short])
      case IntegerType | DateType => out.writeInt(v.asInstanceOf[Int])
      case LongType | TimestampType | TimestampNTZType =>
        out.writeLong(v.asInstanceOf[Long])
      case FloatType => out.writeFloat(v.asInstanceOf[Float])
      case DoubleType => out.writeDouble(v.asInstanceOf[Double])
      case _: DecimalType =>
        writeBytes(out,
          v.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue.toByteArray)
      case _: StringType => writeBytes(out, v.asInstanceOf[UTF8String].getBytes)
    }

  private def readValue(in: DataInputStream): Any = child.dataType match {
    case ByteType => in.readByte()
    case ShortType => in.readShort()
    case IntegerType | DateType => in.readInt()
    case LongType | TimestampType | TimestampNTZType => in.readLong()
    case FloatType => in.readFloat()
    case DoubleType => in.readDouble()
    case d: DecimalType =>
      Decimal(new java.math.BigDecimal(new java.math.BigInteger(readBytes(in)),
        d.scale), d.precision, d.scale)
    case _: StringType => UTF8String.fromBytes(readBytes(in))
  }

  private def writeBytes(out: DataOutputStream, b: Array[Byte]): Unit = {
    out.writeInt(b.length)
    out.write(b)
  }

  private def readBytes(in: DataInputStream): Array[Byte] = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    b
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "percentile_disc_exact"
  override def withNewMutableAggBufferOffset(offset: Int): PercentileDiscAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): PercentileDiscAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): PercentileDiscAgg =
    copy(child = c)
}

object PercentileDiscAgg {

  /** Value types the buffer can hold: ordered atomic types whose
    * equality is their binary equality (strings in the default
    * collation only).
    */
  private def supports(t: DataType): Boolean = t match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType |
        StringType => true
    case _ => false
  }

  /** The exact percentiles of `value` at each of `ps`, as one array
    * column typed like `value` (element i is fraction `ps(i)`).
    */
  def column(value: Column, ps: Seq[Double]): Column =
    ColumnBridge.column(
      PercentileDiscAgg(ColumnBridge.expression(value), ps)
        .toAggregateExpression())

  /** Expression builder for `percentile_disc_exact(x, p)` (p must be a
    * literal), for the temp-function registration; the result is typed
    * like `x`.
    */
  val builder: Seq[Expression] => Expression = { exprs =>
    val p = exprs(1) match {
      case Literal(v, DoubleType) => v.asInstanceOf[Double]
      case Literal(v, _: DecimalType) => v.asInstanceOf[Decimal].toDouble
      case other => throw new IllegalArgumentException(
        s"percentile_disc_exact: p must be a literal, got $other")
    }
    GetArrayItem(
      PercentileDiscAgg(exprs.head, Seq(p)).toAggregateExpression(),
      Literal(0))
  }

  /** Register `percentile_disc_exact(x, p)` in an existing session's
    * function registry.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "percentile_disc_exact", builder, "built-in")
}
