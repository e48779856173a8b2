package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.util.sketch.BloomFilter

import graft.functions._

/** The interpreted path of the native expressions: evaluated with
  * whole-stage codegen off and the expression factory at NO_CODEGEN,
  * each must give the rows the default (generated) path gives. The
  * inline-loop expressions keep their kernel twice, as a Scala
  * `nullSafeEval` and as generated Java; the `StaticInvoke` kernels run
  * through reflection instead of a generated call.
  */
class InterpretedSpec extends SparkSpec {
  import spark.implicits._

  private val Modes = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** `cols` over `src` (plus its `id`), once per mode, rows by id. A
    * repartition keeps the projection off the driver: over a bare
    * local relation the optimizer would fold it interpreted in both
    * modes.
    */
  private def bothModes(src: DataFrame, cols: Column*): (Seq[Row], Seq[Row]) = {
    def run(): Seq[Row] = src.repartition(2).select(col("id") +: cols: _*)
      .collect().sortBy(_.getInt(0)).toSeq
    val generated = run()
    val saved = Modes.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      Modes.foreach { case (k, v) => spark.conf.set(k, v) }
      (generated, run())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Column = ColumnBridge.column(e)

  private val vectors = Seq[(Int, Option[Seq[Double]])](
    (1, Some(Seq(1.0, 2.0, 3.0, 4.0))), (2, None), (3, Some(Seq(0.5))),
    (4, Some(Seq(-1.0, 0.25, 2.5, -3.0))), (5, Some(Seq.empty)),
    (6, Some(Seq(0.1, -0.2, 0.3, 7.0))))
    .toDF("id", "d")
    .withColumn("f", col("d").cast("array<float>"))

  test("inline-loop vector expressions: interpreted rows equal generated") {
    val centroids = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0, 0.0),
      Seq(-1.0, 0.5, 0.0, 2.0))
    val codebooks = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 2.0), Seq(-1.0, 0.5)),
      Seq(Seq(3.0, 4.0), Seq(0.0, -1.0), Seq(2.0, 2.0)))
    val luts = Array.tabulate(2 * 2 * 3)(i => i * 0.5 - 1.0)
    val planes = Seq(Seq(1.0, -1.0, 0.0, 0.5), Seq(0.0, 0.0, 1.0, -1.0),
      Seq(-0.5, 2.0, 1.0, 0.0))
    val e = ColumnBridge.expression _
    val (gen, interp) = bothModes(vectors,
      native(DotProductExpr(e(col("f")), e(col("f")))),
      native(DotProductExpr(e(col("d")), e(col("d")))),
      native(DotProductExpr(e(col("f")), e(col("d")))),
      native(NearestCentroidExpr(e(col("f")), Seq(0, 1, 2), centroids)),
      native(NearestCentroidExpr(e(col("d")), Seq(0, 1, 2), centroids)),
      native(PqEncodeExpr(e(col("f")), codebooks)),
      native(PqEncodeExpr(e(col("d")), codebooks)),
      native(PqLutExpr(e(col("f")), codebooks)),
      native(PqLutExpr(e(col("d")), codebooks)),
      native(PqAdcAllExpr(PqEncodeExpr(e(col("d")), codebooks), luts,
        2, 2, 3)),
      native(SrpBitsExpr(e(col("f")), planes)),
      native(SrpBitsExpr(e(col("d")), planes)))
    assert(gen.size == 6 && gen.exists(_.isNullAt(1)))
    assert(interp == gen)
  }

  test("tokenizers and kernel calls: interpreted rows equal generated") {
    val docs = Seq[(Int, Option[String], Option[String])](
      (1, Some("the quick brown fox jumps over the quick dog"),
        Some("""<p>by <a href="http://a.org/x?y=1&amp;z">Ann</a></p>""")),
      (2, None, None),
      (3, Some("too short"), Some("<b>no link here</b>")),
      (4, Some(""), Some("")),
      (5, Some("Héllo WORLD 42 x-y  spark ÀB9 fox jumps"),
        Some("<img src='pic.png'> tail")))
      .toDF("id", "text", "html")
    val bloom = BloomFilter.create(100, 0.01)
    bloom.putString("fox jumps over")
    bloom.putString("the quick brown fox jumps over the quick dog")
    val bc = spark.sparkContext.broadcast(bloom)
    val e = ColumnBridge.expression _
    val (gen, interp) = bothModes(docs,
      native(TokenizeExpr(e(col("text")))),
      native(TokenCountExpr(e(col("text")))),
      MinHashSigExpr(col("text"), 3, 4),
      MinHashSigExpr(col("text"), 2, 3, withCount = true),
      ShingleSetExpr(col("text"), 3),
      HtmlTextNodesExpr.firstLink(col("html")),
      BloomMightContainExpr(col("text"), bc))
    // a null text, a text below k words and markup without a link
    assert(gen.exists(_.isNullAt(1)))
    assert(gen.exists(r => r.getInt(0) == 3 && r.getSeq[Long](3).isEmpty))
    assert(gen.exists(r => r.getInt(0) == 3 && r.isNullAt(6)))
    assert(interp == gen)
  }
}
