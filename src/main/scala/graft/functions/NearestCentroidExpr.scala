package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** cell_id of the max-cosine centroid for a vector, as ONE codegen'd
  * per-row loop — the in-row form of the IVF cell assignment.
  *
  * The original assignment shape
  * (`crossJoin(broadcast(centroids)).groupBy(id).agg(min_by(...))`)
  * multiplies every corpus row k× through the nested-loop join and
  * shuffles the whole corpus through the argmax aggregation; callers
  * then JOIN the (id, cell_id) result back onto the corpus — a second
  * corpus-sized shuffle (guide §2.4: remove shuffles outright). With
  * the centroids as a referenced constant (they are literal k×dim
  * frames everywhere — Lloyd passes collect them by design) the whole
  * assignment is a narrow projection: zero Exchange, zero row
  * multiplication, and callers add `cell_id` with `withColumn`, no
  * join.
  *
  * Bit-parity with the aggregation form (spec-asserted):
  *  - per-centroid similarity is computed EXACTLY as
  *    [[graft.operators.Similarity.cosineNative]]: dot(v,c) /
  *    (sqrt(dot(v,v)) * sqrt(dot(c,c))), every element widened to
  *    double, sums left-to-right in index order. sqrt(dot(c,c)) is
  *    precomputed per centroid — same double ops, same result.
  *  - the argmax mirrors `min_by(cell_id, struct(-sim, cell_id))`:
  *    candidates are scanned in ascending cell_id order and replace the
  *    incumbent only when SQLOrderingUtil.compareDoubles(-sim, best)
  *    < 0 — the identical total order (NaN greatest, -0.0 == 0.0) the
  *    struct ordering uses, with ties keeping the lower cell_id.
  *
  * `centroids` must be passed sorted by ascending cell_id.
  *
  * Why this stays an inline loop: SCALING.md § Kernel calls.
  */
case class NearestCentroidExpr(child: Expression,
    cellIds: Seq[Int], centroids: Seq[Seq[Double]])
  extends UnaryExpression {

  require(cellIds.nonEmpty && cellIds.size == centroids.size,
    s"${cellIds.size} cell ids vs ${centroids.size} centroids")
  require(cellIds == cellIds.sorted,
    "centroids must be sorted by ascending cell_id (tie-break order)")
  // a ragged centroid list would silently misindex the flattened
  // matrix below and assign wrong cells (ADVICE r17)
  require(centroids.forall(_.size == centroids.head.size),
    s"ragged centroid list: dims ${centroids.map(_.size).distinct}")

  private val k = centroids.size
  private val dim = centroids.head.size
  private val flat: Array[Double] = centroids.flatten.toArray
  // sqrt(dot(c,c)) per centroid, left-to-right double sums — identical
  // to what dotNative(centroid, centroid) computes per row
  private val norms: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.size) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }.toArray
  private val ids: Array[Int] = cellIds.toArray

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires array<float|double> input, got $t")
  }

  override def dataType: DataType = IntegerType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val fl = isFloat
    val n = a.numElements()
    var vv = 0.0
    var i = 0
    while (i < n) {
      val x = if (fl) a.getFloat(i).toDouble else a.getDouble(i)
      vv += x * x
      i += 1
    }
    val nv = math.sqrt(vv)
    var best = 0
    var bestNs = Double.NaN
    var ki = 0
    while (ki < k) {
      val base = ki * dim
      val m = math.min(n, dim)
      var dot = 0.0
      var j = 0
      while (j < m) {
        val x = if (fl) a.getFloat(j).toDouble else a.getDouble(j)
        dot += x * flat(base + j)
        j += 1
      }
      val ns = -(dot / (nv * norms(ki)))
      if (ki == 0 ||
          org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(ns, bestNs) < 0) {
        bestNs = ns; best = ki
      }
      ki += 1
    }
    ids(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val flatRef = ctx.addReferenceObj("centroidsFlat", flat, "double[]")
    val normRef = ctx.addReferenceObj("centroidNorms", norms, "double[]")
    val idsRef = ctx.addReferenceObj("cellIds", ids, "int[]")
    val getElem = if (isFloat)
      (v: String, i: String) => s"(double) $v.getFloat($i)"
    else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val ki = ctx.freshName("ki")
      val m = ctx.freshName("m")
      val vv = ctx.freshName("vv")
      val nv = ctx.freshName("nv")
      val dot = ctx.freshName("dot")
      val ns = ctx.freshName("ns")
      val best = ctx.freshName("best")
      val bestNs = ctx.freshName("bestNs")
      val base = ctx.freshName("base")
      val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |double $vv = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${getElem(a, i)};
         |  $vv += $x * $x;
         |}
         |double $nv = java.lang.Math.sqrt($vv);
         |int $best = 0;
         |double $bestNs = Double.NaN;
         |for (int $ki = 0; $ki < $k; $ki++) {
         |  int $base = $ki * $dim;
         |  int $m = java.lang.Math.min($n, $dim);
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    $dot += ${getElem(a, j)} * $flatRef[$base + $j];
         |  }
         |  double $ns = -($dot / ($nv * $normRef[$ki]));
         |  if ($ki == 0 ||
         |      org.apache.spark.sql.catalyst.util.SQLOrderingUtil
         |        .compareDoubles($ns, $bestNs) < 0) {
         |    $bestNs = $ns; $best = $ki;
         |  }
         |}
         |${ev.value} = $idsRef[$best];
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCentroidExpr = copy(child = newChild)
}
