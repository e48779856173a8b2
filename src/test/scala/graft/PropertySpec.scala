package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.Records
import graft.functions.{CleanFunctions, Urls}

/** Property tests over generated adversarial inputs — one Spark job per
  * property (the generated corpus goes through AS A COLUMN, so the
  * codegen path is what's exercised, not per-row evals).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] = {
    val p = Gen.Parameters.default
    (0 until n).flatMap(i => g.apply(p, Seed(i.toLong)))
  }

  // strings heavy on the sanitize chain's special cases
  private val nastyString: Gen[String] = Gen.listOf(Gen.frequency(
    5 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f', ''),
    1 -> Gen.oneOf('"', '\'', '', '\\'),
    1 -> Gen.oneOf('é', 'ß', '中'))).map(_.mkString)

  test("native sanitize == regex chain on 500 generated strings") {
    val cases = sample(nastyString, 500)
    val df = cases.toDF("s")
    val mismatches = df.select(
        CleanFunctions.sanitizeString(col("s")).as("rx"),
        CleanFunctions.sanitizeStringNative(col("s")).as("nat"))
      .filter(col("rx") =!= col("nat") ||
        col("rx").isNull =!= col("nat").isNull)
    assert(mismatches.count() == 0)
  }

  test("native html_to_text == regex chain on generated markup") {
    val htmlGen: Gen[String] = Gen.listOf(Gen.frequency(
      4 -> Gen.alphaNumChar.map(_.toString),
      1 -> Gen.oneOf("<b>", "</b>", "<p class=\"x\">", "<", ">",
        "<unclosed", "<a<b>", "<>"),
      1 -> Gen.oneOf("&amp;", "&lt;", "&gt;", "&quot;", "&amp;lt;",
        "&amp;amp;", "&am", "&"),
      1 -> Gen.oneOf(" ", "\t", "\n", "  "))).map(_.mkString)
    val cases = sample(htmlGen, 500) ++ Seq(
      "&amp;lt;cascade&amp;gt;", "<a href=\"x\">link</a>",
      "no markup at all", "", "  <p>  </p>  ")
    val df = cases.toDF("h")
    val mismatches = df.select(
        CleanFunctions.htmlToText(col("h")).as("rx"),
        CleanFunctions.htmlToTextNative(col("h")).as("nat"))
      .filter(col("rx") =!= col("nat") ||
        col("rx").isNull =!= col("nat").isNull)
    assert(mismatches.count() == 0)
  }

  test("minhash expression == explode form on generated word soups") {
    // adversarial tokenizations: empty tokens (consecutive spaces),
    // multi-byte words, repeated shingles, docs hovering around the
    // k-word minimum — the per-row loop must match the explode+groupBy
    // aggregation on every one of them
    val word: Gen[String] = Gen.frequency(
      5 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar))
        .map(_.mkString),
      1 -> Gen.const(""),                     // consecutive-space token
      1 -> Gen.oneOf("é", "中文", "ß", "ü"),
      1 -> Gen.oneOf("a", "b"))               // force repeats
    val docGen: Gen[String] = Gen.choose(0, 30)
      .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val docs = sample(docGen, 400).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    import graft.operators.Dedupe
    val viaExpr = Dedupe.minhashWide(docs, "doc_id", "text", 3, 8)
      .orderBy("doc").as[(Long, Seq[Long])].collect().toSeq
    val viaExplode = Dedupe.minhashWideFromShingles(
        Dedupe.shingleRowsAll(docs, "doc_id", "text", 3), 8)
      .orderBy("doc").as[(Long, Seq[Long])].collect().toSeq
    assert(viaExpr == viaExplode)
  }

  test("shingle-set expression == explode+collect_set on generated word soups") {
    // same adversarial tokenizations as the minhash property: empty
    // tokens, multi-byte words, forced repeats, docs around the k-word
    // minimum — the in-row set must match the aggregation form as a SET
    import graft.operators.Dedupe
    val word: Gen[String] = Gen.frequency(
      5 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar))
        .map(_.mkString),
      1 -> Gen.const(""),
      1 -> Gen.oneOf("é", "中文", "ß", "ü"),
      1 -> Gen.oneOf("a", "b"))
    val docGen: Gen[String] = Gen.choose(0, 30)
      .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val docs = sample(docGen, 400).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val viaExpr = docs.select(col("doc_id").as("doc"),
        graft.functions.ShingleSetExpr(col("text"), 3).as("shset"))
      .filter(size(col("shset")) > 0)
      .select(col("doc"), array_sort(col("shset")).as("shset"))
      .orderBy("doc").as[(Long, Seq[String])].collect().toSeq
    val viaAgg = Dedupe.shingleRowsAll(docs, "doc_id", "text", 3)
      .groupBy("doc").agg(array_sort(collect_set(col("shingle"))).as("shset"))
      .orderBy("doc").as[(Long, Seq[String])].collect().toSeq
    assert(viaExpr == viaAgg)
  }

  test("incremental candidates == self-join candidates restricted to cross pairs") {
    // splitting a corpus into batch/corpus and banding each side
    // independently must find exactly the self-join's candidate pairs
    // that cross the split (same signatures, same bands — the split
    // only removes within-side pairs), with identical est_jaccard
    import graft.operators.Dedupe
    val word: Gen[String] = Gen.frequency(
      4 -> Gen.oneOf("w1", "w2", "w3", "w4", "w5", "w6"),
      1 -> Gen.oneOf("x", "y"))
    val docGen: Gen[String] = Gen.choose(3, 12)
      .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    // tiny vocabulary + short docs → plenty of band collisions
    val docs = sample(docGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val newB = docs.filter(col("doc_id") % 3 === 0)
    val rest = docs.filter(col("doc_id") % 3 =!= 0)
    val sigAll = Dedupe.minhashWide(docs, "doc_id", "text", 2, 8)
    val cross = Dedupe.minhashCandidatesAgainst(
        Dedupe.minhashWide(newB, "doc_id", "text", 2, 8),
        Dedupe.minhashWide(rest, "doc_id", "text", 2, 8), 8, 4)
      .as[(Long, Long, Double)].collect().toSeq
      .map { case (n, c, j) => (math.min(n, c), math.max(n, c), j) }.sorted
    val self = Dedupe.minhashCandidates(sigAll, 8, 4)
      .as[(Long, Long, Double)].collect().toSeq
      .filter { case (a, b, _) => (a % 3 == 0) != (b % 3 == 0) }.sorted
    assert(cross.nonEmpty && cross == self)
    spark.catalog.clearCache()
  }

  test("contamination of a corpus against itself is total") {
    // every document overlaps itself on 100% of its shingles, and the
    // fraction against any other bench doc is in (0, 1]; docs shorter
    // than k words have no shingles and must not appear at all
    import graft.operators.Dedupe
    val word: Gen[String] = Gen.oneOf("a", "b", "c", "d", "e", "f", "g")
    val docGen: Gen[String] = Gen.choose(0, 10)
      .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val docs = sample(docGen, 100).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Dedupe.contamination(docs, docs, "doc_id", "text",
      shingleK = 3, minOverlap = 0.0)
    val self = got.filter(col("doc") === col("bench_id"))
    val withShingles = docs.filter(
      size(split(col("text"), " ")) >= 3).count()
    assert(self.count() == withShingles)
    assert(self.filter(col("overlap_frac") =!= 1.0).count() == 0)
    assert(got.filter(col("overlap_frac") <= 0.0 ||
      col("overlap_frac") > 1.0).count() == 0)
  }

  test("PG array literal round-trips 300 generated arrays") {
    val arrGen = Gen.listOfN(3, nastyString.map(_.take(20)))
      .map(_.toSeq)
    val cases = sample(arrGen, 300).filter(_.nonEmpty)
    val df = cases.toDF("arr")
    val back = df.select(col("arr"),
      Records.fromPgArray(Records.toPgArray(col("arr"))).as("rt"))
    // to_json escapes and from_json unescapes — round trip must be exact
    val bad = back.filter(
      size(col("arr")) =!= size(col("rt")) ||
        exists(zip_with(col("arr"), col("rt"),
          (a, b) => !(a <=> b)), x => x))
    assert(bad.count() == 0)
  }

  test("native loop dot == fold == expanded form, bit-identical") {
    import graft.operators.Similarity
    val emb = Tables(spark, sfDir, "embeddings").limit(500)
      .select(col("vec_id"), col("embedding").as("v"))
    val dbl = transform(col("v"), x => x.cast("double"))
    val three = emb.select(
      Similarity.dotNative(col("v"), col("v")).as("loop"),
      aggregate(zip_with(dbl, dbl, _ * _), lit(0.0), _ + _).as("fold"),
      Reference.dotFixed(col("v"), col("v"), 64).as("fixed"))
    // bitwise: fp equality, not tolerance — all three sum in index order
    assert(three.filter(col("loop") =!= col("fold") ||
      col("loop") =!= col("fixed")).count() == 0)
  }

  test("url validation never emits a scheme-less or unknown-TLD url") {
    val urlGen: Gen[String] = for {
      scheme <- Gen.oneOf("", "http://", "https://", "https:/", "//")
      host <- Gen.oneOf("example.com", "abcd.com", "foo.notarealtld",
        "8.8.8.8", "x.co.uk", "nohost", "creativecomons.org")
      path <- Gen.oneOf("", "/", "/a/b", "/a/b/", "/?q=1")
    } yield s"$scheme$host$path"
    val cases = sample(urlGen, 400)
    val out = cases.toDF("u")
      .select(Urls.validateUrlString(col("u")).as("v"))
      .filter(col("v").isNotNull)
    // every surviving url has a scheme and a known-suffix (or IP) host
    val badScheme = out.filter(!col("v").rlike("^https?://"))
    assert(badScheme.count() == 0)
    val host = lower(regexp_extract(col("v"), "^[a-z]+://([^/?#]+)", 1))
    val badHost = out.filter(
      !host.rlike(Urls.hostPattern) && !host.rlike(Urls.ipv4Pattern))
    assert(badHost.count() == 0)
    // and nothing valid was dropped: every known-good host survives
    val survivors = out.as[String].collect().toSet
    assert(cases.count(_.contains("example.com")) > 0)
    assert(survivors.exists(_.contains("example.com")))
  }
}
