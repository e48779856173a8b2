package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Product-quantization kernels as native codegen'd loops — the
  * compression layer of large-scale ANN. A 64-dim float vector (256
  * bytes) becomes M=8 one-byte codes: at 100 TB of raw embeddings the
  * code table is ~1.6 TB, so an exhaustive ADC scan touches 64× less
  * I/O than the raw vectors, and the codebooks (M×K×ds doubles) ride
  * along as a broadcast plan parameter exactly like IVF centroids.
  *
  * Shared design rules (see [[SrpBitsExpr]]'s scaladoc for the long
  * form): ONE compact generated loop per row regardless of M/K — a
  * per-(m,code) expression tree would emit M×K inline distance chains
  * whose Janino compile cost gets re-paid whenever the codegen cache
  * evicts; all arithmetic widens to double and accumulates
  * left-to-right in index order so the DuckDB oracle (list_distance /
  * list_dot_product over the same slices) computes bit-identical
  * values; argmin ties break toward the LOWER code id, mirroring the
  * oracle's `ORDER BY dist ASC, code ASC`.
  */
private[functions] object PqExprs {
  /** Flatten an m × k × ds codebook row-major; validates shape. */
  def flatten(codebooks: Seq[Seq[Seq[Double]]]): (Int, Int, Int, Array[Double]) = {
    val m = codebooks.size
    val k = codebooks.head.size
    val ds = codebooks.head.head.size
    require(codebooks.forall(cb => cb.size == k && cb.forall(_.size == ds)),
      "ragged codebook")
    (m, k, ds, codebooks.flatten.flatten.toArray)
  }

  def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }
}

/** codes(m) = argmin over code of squared-L2(vec[m·ds .. m·ds+ds),
  * codebook(m)(code)) — the PQ encoder. Squared distance (no sqrt):
  * monotone, so the argmin and its tie-set match the oracle's
  * `list_distance` (which does take the sqrt) exactly.
  *
  * Why this stays an inline loop: SCALING.md § Kernel calls.
  */
case class PqEncodeExpr(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
  extends UnaryExpression {

  private val (m, k, ds, flat) = PqExprs.flatten(codebooks)

  override def checkInputDataTypes(): TypeCheckResult =
    PqExprs.elemType(child) match {
      case Some(_) => TypeCheckResult.TypeCheckSuccess
      case None => TypeCheckResult.TypeCheckFailure(
        s"pq_encode requires array<float|double> input, got ${child.dataType}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val isFloat = PqExprs.elemType(child).contains(FloatType)
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var best = 0
      var bestD = Double.MaxValue
      var ki = 0
      while (ki < k) {
        val base = (mi * k + ki) * ds
        var d = 0.0
        var j = 0
        while (j < ds) {
          val idx = mi * ds + j
          val x = if (idx < a.numElements()) {
            if (isFloat) a.getFloat(idx).toDouble else a.getDouble(idx)
          } else 0.0
          val diff = x - flat(base + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = ki }
        ki += 1
      }
      codes(mi) = best
      mi += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", flat, "double[]")
    val getElem = if (PqExprs.elemType(child).contains(FloatType))
      (v: String, i: String) => s"(double) $v.getFloat($i)"
    else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, a => {
      val codes = ctx.freshName("codes")
      val mi = ctx.freshName("mi")
      val ki = ctx.freshName("ki")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      val x = ctx.freshName("x")
      val base = ctx.freshName("base")
      s"""
         |int[] $codes = new int[$m];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $best = 0;
         |  double $bestD = Double.MAX_VALUE;
         |  for (int $ki = 0; $ki < $k; $ki++) {
         |    int $base = ($mi * $k + $ki) * $ds;
         |    double $d = 0.0;
         |    for (int $j = 0; $j < $ds; $j++) {
         |      int $idx = $mi * $ds + $j;
         |      double $x = ($idx < $a.numElements())
         |        ? ${getElem(a, idx)} : 0.0;
         |      double $diff = $x - $cbRef[$base + $j];
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $ki; }
         |  }
         |  $codes[$mi] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): PqEncodeExpr =
    copy(child = c)
}

/** lut(m·K + code) = dot(queryVec[m·ds .. m·ds+ds), codebook(m)(code))
  * — the per-query asymmetric-distance lookup table, computed ONCE on
  * the (tiny, broadcast) query side so the corpus-scale ADC scan does
  * M array lookups per row instead of M×K×ds multiplies.
  *
  * Why this stays an inline loop: SCALING.md § Kernel calls.
  */
case class PqLutExpr(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
  extends UnaryExpression {

  private val (m, k, ds, flat) = PqExprs.flatten(codebooks)

  override def checkInputDataTypes(): TypeCheckResult =
    PqExprs.elemType(child) match {
      case Some(_) => TypeCheckResult.TypeCheckSuccess
      case None => TypeCheckResult.TypeCheckFailure(
        s"pq_lut requires array<float|double> input, got ${child.dataType}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val isFloat = PqExprs.elemType(child).contains(FloatType)
    val lut = new Array[Double](m * k)
    var mi = 0
    while (mi < m) {
      var ki = 0
      while (ki < k) {
        val base = (mi * k + ki) * ds
        var s = 0.0
        var j = 0
        while (j < ds) {
          val idx = mi * ds + j
          val x = if (idx < a.numElements()) {
            if (isFloat) a.getFloat(idx).toDouble else a.getDouble(idx)
          } else 0.0
          s += x * flat(base + j)
          j += 1
        }
        lut(mi * k + ki) = s
        ki += 1
      }
      mi += 1
    }
    new GenericArrayData(lut)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", flat, "double[]")
    val getElem = if (PqExprs.elemType(child).contains(FloatType))
      (v: String, i: String) => s"(double) $v.getFloat($i)"
    else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, a => {
      val lut = ctx.freshName("lut")
      val mi = ctx.freshName("mi")
      val ki = ctx.freshName("ki")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val base = ctx.freshName("base")
      s"""
         |double[] $lut = new double[${m * k}];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  for (int $ki = 0; $ki < $k; $ki++) {
         |    int $base = ($mi * $k + $ki) * $ds;
         |    double $s = 0.0;
         |    for (int $j = 0; $j < $ds; $j++) {
         |      int $idx = $mi * $ds + $j;
         |      double $x = ($idx < $a.numElements())
         |        ? ${getElem(a, idx)} : 0.0;
         |      $s += $x * $cbRef[$base + $j];
         |    }
         |    $lut[$mi * $k + $ki] = $s;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($lut);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): PqLutExpr =
    copy(child = c)
}

/** All queries' ADC scores for one corpus row in ONE loop:
  * scores(q) = Σ_m luts(q·M·K + m·K + codes(m)). `luts` is the
  * row-major flattening of every query's M×K lookup table — a plan
  * parameter (addReferenceObj broadcast), exactly like the codebook.
  *
  * Why not a broadcast join of (query, lut) against the code table:
  * the joined row then CARRIES the 1 KB lut array, and the join
  * materializes |corpus|·|queries| such rows — measured 8.5s of pure
  * row-copy CPU for 200k × 10 at the 100× point, ~30× the actual ADC
  * arithmetic. One generated loop over a referenced double[] does the
  * same lookups with zero per-pair materialization; the exploded
  * output row is (id, query_idx, score) — skinny.
  *
  * Why this stays an inline loop: SCALING.md § Kernel calls.
  */
case class PqAdcAllExpr(child: Expression, luts: Array[Double],
    nq: Int, m: Int, k: Int)
  extends UnaryExpression {

  require(luts.length == nq * m * k, "luts length != nq*m*k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_all requires array<int> codes, got $t")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(c: Any): Any = {
    val codes = c.asInstanceOf[ArrayData]
    val out = new Array[Double](nq)
    val mk = m * k
    var qi = 0
    while (qi < nq) {
      var s = 0.0
      var mi = 0
      while (mi < m) {
        s += luts(qi * mk + mi * k + codes.getInt(mi))
        mi += 1
      }
      out(qi) = s
      qi += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val lutsRef = ctx.addReferenceObj("pqLuts", luts, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("out")
      val qi = ctx.freshName("qi")
      val mi = ctx.freshName("mi")
      val s = ctx.freshName("s")
      s"""
         |double[] $out = new double[$nq];
         |for (int $qi = 0; $qi < $nq; $qi++) {
         |  double $s = 0.0;
         |  for (int $mi = 0; $mi < $m; $mi++) {
         |    $s += $lutsRef[$qi * ${m * k} + $mi * $k + $c.getInt($mi)];
         |  }
         |  $out[$qi] = $s;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): PqAdcAllExpr =
    copy(child = c)
}
