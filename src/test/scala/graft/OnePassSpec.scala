package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.PercentileDiscAgg
import graft.operators.{Popularity, TextAnalysis}

/** The one-pass operators are bit-equal to the shuffle pipelines they
  * replaced ([[Reference]]): the exact percentile aggregate against the
  * counts → cumulative-window pipeline, and the one-projection language
  * ID against explode → stopword join → argmax → join-back.
  */
class OnePassSpec extends SparkSpec {
  import spark.implicits._

  private val ps = Seq(0.01, 1.0 / 3, 0.5, 0.85, 1.0)

  /** Rows as comparable values: doubles by their bits (so -0.0, NaN and
    * 0.0 must match exactly), decimals with their scale.
    */
  private def bits(df: DataFrame): (Seq[String], Seq[String]) = {
    def v(x: Any): String = x match {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case b: java.math.BigDecimal => s"m${b.toPlainString}/${b.scale}"
      case null => "null"
      case o => s"${o.getClass.getSimpleName}:$o"
    }
    (df.schema.map(f => s"${f.name} ${f.dataType.sql} ${f.nullable}"),
      df.collect().toSeq.map((r: Row) => r.toSeq.map(v).mkString("|")).sorted)
  }

  private def assertSame(got: DataFrame, want: DataFrame, clue: String)
      : Unit = {
    val (gs, gr) = bits(got)
    val (ws, wr) = bits(want)
    assert(gs == ws, s"$clue: schema")
    assert(gr == wr, s"$clue: rows")
  }

  /** 3,000 seeded rows: string key `k1` (with a null key and a key "z"
    * whose values are all null), int key `k2`, and one value column per
    * type, each with ties and nulls — long values above 2^53 one apart,
    * decimal(38,18) values apart only in the 18th decimal place, doubles
    * with -0.0, 0.0 and NaN.
    */
  private lazy val facts: DataFrame = {
    val h = pmod(xxhash64(col("id"), lit(17L)), lit(1000003L))
    val k1 = when(h % 23 === 0, lit(null).cast("string"))
      .otherwise(element_at(array(Seq("a", "b", "c", "d", "z").map(lit): _*),
        (h % 5 + 1).cast("int")))
    val dead = col("k1") <=> "z" || col("h") % 9 === 0
    def value(c: org.apache.spark.sql.Column) = when(!dead, c)
    spark.range(3000).select(h.as("h"), k1.as("k1"),
        (h % 3).cast("int").as("k2"))
      .select(col("k1"), col("k2"),
        value((col("h") % 50 - 10).cast("int")).as("vi"),
        value(lit(1L << 60) + col("h") % 200).as("vl"),
        value(when(col("h") % 17 === 0, lit(-0.0))
          .when(col("h") % 29 === 0, lit(Double.NaN))
          .otherwise((col("h") % 97 - 40) / 7.0)).as("vd"),
        value(concat(lit("9876543210987654321."),
          lpad((col("h") % 60).cast("string"), 18, "0"))
          .cast("decimal(38,18)")).as("vm"),
        value(date_add(lit("2020-01-01").cast("date"),
          (col("h") % 40).cast("int"))).as("vt"),
        value(concat(lit("s"), lpad((col("h") % 30).cast("string"), 2, "0")))
          .as("vs"))
      .cache()
  }

  private val valueCols = Seq("vi", "vl", "vd", "vm", "vt", "vs")

  test("percentile aggregate equals the windowed reference for every " +
      "value type, single- and multi-key") {
    for (keys <- Seq(Seq("k1"), Seq("k1", "k2")); v <- valueCols)
      assertSame(Popularity.percentileDiscMulti(facts, keys, v, ps),
        Reference.percentileDiscMulti(facts, keys, v, ps), s"$v by $keys")
  }

  test("percentile aggregate: each fraction alone equals the reference " +
      "and its column of the multi-fraction form") {
    for (v <- valueCols) {
      val multi = Popularity.percentileDiscMulti(facts, Seq("k1"), v, ps)
      for ((p, i) <- ps.zipWithIndex) {
        val single = Popularity.percentileDisc(facts, Seq("k1"), v, p)
        assertSame(single, multi.select(col("k1"), col(s"pct$i").as("pct")),
          s"$v p=$p vs multi")
        if (v == "vd" || v == "vl")
          assertSame(single, Reference.percentileDisc(facts, Seq("k1"), v, p),
            s"$v p=$p vs reference")
      }
    }
  }

  test("percentile aggregate: an all-null key has no row; values stay " +
      "exact above 2^53") {
    val got = Popularity.percentileDiscMulti(facts, Seq("k1"), "vl", ps)
    assert(got.filter(col("k1") === "z").count() == 0)
    assert(got.filter(col("k1").isNull).count() == 1)
    val exact = Popularity.percentileDisc(
      Seq(("k", (1L << 60) + 1), ("k", (1L << 60) + 2), ("k", (1L << 60) + 3))
        .toDF("k", "v"), Seq("k"), "v", 0.5)
      .select("pct").as[Long].head()
    assert(exact == (1L << 60) + 2)
  }

  test("percentile_disc_exact SQL function is typed like its input") {
    PercentileDiscAgg.register(spark)
    val row = facts.filter(col("k1") === "a")
      .agg(expr("percentile_disc_exact(vl, 0.5D)").as("l"),
        expr("percentile_disc_exact(vm, 0.5D)").as("m"))
    assert(row.schema.map(_.dataType.sql) == Seq("BIGINT", "DECIMAL(38,18)"))
    val want = Reference.percentileDiscMulti(facts.filter(col("k1") === "a"),
      Seq("k1"), "vl", Seq(0.5)).select("pct0").as[Long].head()
    assert(row.select("l").as[Long].head() == want)
  }

  test("languageId equals the explode/join reference on sf0.01 documents") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    assertSame(TextAnalysis.languageId(docs, "doc_id", "text"),
      Reference.languageId(docs, "doc_id", "text"), "sf0.01 documents")
  }

  test("languageId equals the reference on hand cases") {
    val cases = Seq(
      "The Cat AND the Dog IS here" -> "en",        // mixed case
      "der  hund   und  die katze" -> "de",         // repeated spaces
      "the\tcat\tand\tthe\tdog" -> "und",           // tabs join words
      "le\tchat et la souris" -> "fr",
      "the, and. of! der und" -> "de",              // punctuation attached
      "un una con en es" -> "es",                   // shared stopwords
      "un una con" -> "es",                         // es/it tie → es
      "un" -> "es",                                 // es/fr/it tie
      "unas unos" -> "und",                         // prefixes only
      "für katze" -> "de",                          // non-ASCII stopwords
      "È gatto" -> "it",
      "the der" -> "de",                            // equal hits → smaller
      "le il" -> "fr",
      " the " -> "en",
      "the\nand" -> "und",
      "" -> "und",
      "   " -> "und")
    val docs = (cases.map(_._1).zipWithIndex.map { case (t, i) =>
      (i.toLong, Option(t)) } :+ ((cases.size.toLong, Option.empty[String])))
      .toDF("doc_id", "text")
    val got = TextAnalysis.languageId(docs, "doc_id", "text")
    assertSame(got, Reference.languageId(docs, "doc_id", "text"), "hand cases")
    val byId = got.as[(Long, String)].collect().toMap
    for (((t, want), i) <- cases.zipWithIndex)
      assert(byId(i.toLong) == want, s"'$t'")
    assert(byId(cases.size.toLong) == "und")   // null text
  }
}
