package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All signed-random-projection bits of one vector in ONE compact
  * loop: bit p is '1' iff dot(vec, planes(p)) > 0, emitted in plane
  * order as a '0'/'1' string (the banding substr downstream is
  * unchanged).
  *
  * Why an expression instead of `concat(planes.map(p => when(
  * dot_product(vec, lit(p)) > 0, "1").otherwise("0")))`: with 64
  * planes that concat inlines 64 independent dot-product loops plus
  * 64 CASE branches into the generated method — compiling it is
  * multi-second Janino work, and in a many-query session the
  * whole-stage codegen cache (default 100 entries) evicts it between
  * runs, so EVERY run re-pays the compile (q62 measured 0.9s solo but
  * 15-20s inside the 79-query bench suite for exactly this reason).
  * One generated nested loop over a broadcast plane matrix is ~30
  * lines of Java regardless of plane count, compiles in milliseconds,
  * and does the same FLOPs with one ArrayData traversal per plane.
  *
  * Accumulation parity with [[DotProductExpr]] (and DuckDB's
  * list_dot_product, which the q62 oracle uses): elements widened to
  * double and summed left-to-right in index order, `> 0` strict —
  * bit-identical signs.
  *
  * Why this stays an inline loop: SCALING.md § Kernel calls.
  */
case class SrpBitsExpr(child: Expression, planes: Seq[Seq[Double]])
  extends UnaryExpression {

  private val nPlanes = planes.size
  private val dim = planes.head.size
  // flattened row-major so codegen indexes one double[]
  private val flat: Array[Double] = planes.flatten.toArray

  require(planes.forall(_.size == dim), "ragged plane matrix")

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case Some(_) => TypeCheckResult.TypeCheckSuccess
    case None => TypeCheckResult.TypeCheckFailure(
      s"srp_bits requires array<float|double> input, got ${child.dataType}")
  }

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val isFloat = elemType.contains(FloatType)
    val n = math.min(a.numElements(), dim)
    val bytes = new Array[Byte](nPlanes)
    var p = 0
    while (p < nPlanes) {
      val base = p * dim
      var sum = 0.0
      var j = 0
      while (j < n) {
        val x = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
        sum += x * flat(base + j)
        j += 1
      }
      bytes(p) = if (sum > 0) '1' else '0'
      p += 1
    }
    UTF8String.fromBytes(bytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val planesRef = ctx.addReferenceObj("srpPlanes", flat, "double[]")
    val getElem = if (elemType.contains(FloatType))
      (v: String, i: String) => s"(double) $v.getFloat($i)"
    else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val sum = ctx.freshName("sum")
      val base = ctx.freshName("base")
      val bytes = ctx.freshName("bytes")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $dim);
         |byte[] $bytes = new byte[$nPlanes];
         |for (int $p = 0; $p < $nPlanes; $p++) {
         |  int $base = $p * $dim;
         |  double $sum = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $sum += ${getElem(a, j)} * $planesRef[$base + $j];
         |  }
         |  $bytes[$p] = ($sum > 0) ? (byte) '1' : (byte) '0';
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromBytes($bytes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): SrpBitsExpr =
    copy(child = c)
}
