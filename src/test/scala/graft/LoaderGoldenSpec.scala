package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.MergeUpsert
import graft.sources.Tsv

/** Golden tests over the reference's OWN loader TSV fixtures
  * (catalog/tests/dags/common/loader/test_resources, read in place):
  * the staged-load funnel — required-field filtering + key dedup —
  * must reproduce the row outcomes the reference's DB integration tests
  * assert (test_sql.py).
  */
class LoaderGoldenSpec extends SparkSpec {

  val res =
    s"${ReferenceFixtures.root}/catalog/tests/dags/common/loader/test_resources"
  val required = Seq("foreign_identifier", "foreign_landing_url", "url",
    "license_", "license_version")

  def load(name: String): DataFrame = Tsv.read(spark, s"$res/$name.tsv")

  def funnel(df: DataFrame): DataFrame =
    MergeUpsert.dedupeByKey(
      MergeUpsert.filterRequired(df, required),
      Seq(col("provider"), md5(col("foreign_identifier"))),
      col("foreign_identifier"))

  test("none_missing: all 10 rows survive the funnel") {
    assert(load("none_missing").count() == 10)
    assert(funnel(load("none_missing")).count() == 10)
  }

  test("url_missing: the null-url row is dropped") {
    val df = load("url_missing")
    assert(df.count() == 3)
    assert(funnel(df).count() == 2)
    val metrics = MergeUpsert.missingCounts(df, required).head()
    assert(metrics.getAs[Long]("missing_url") == 1)
  }

  test("license_missing: null-license rows are dropped") {
    val df = load("license_missing")
    assert(df.count() == 4)
    assert(funnel(df).count() == 2)
    assert(MergeUpsert.missingCounts(df, required).head()
      .getAs[Long]("missing_license_") == 2)
  }

  test("foreign_identifier_missing / landing_url_missing drop rows") {
    assert(funnel(load("foreign_identifier_missing")).count() == 1)
    assert(funnel(load("foreign_landing_url_missing")).count() == 3)
  }

  test("foreign_identifier_duplicate: one survivor per logical key") {
    val df = load("foreign_identifier_duplicate")
    assert(df.count() == 4)
    val out = funnel(df)
    assert(out.count() == 3)   // 135257 appears twice → one survives
    assert(out.filter(col("foreign_identifier") === "135257").count() == 1)
  }

  test("url-conflict drop: same-url-same-key re-pull SURVIVES, " +
      "same-url-different-key is dropped (loader/sql.py:322-326)") {
    import spark.implicits._
    val target = Seq(
      ("fid1", "https://ex.com/a"),
      ("fid2", "https://ex.com/b")).toDF("fid", "url")
    val staged = Seq(
      ("fid1", "https://ex.com/a"),   // re-pull: same url, same key → keep
      ("fid9", "https://ex.com/b"),   // conflict: url owned by fid2 → drop
      ("fid3", "https://ex.com/c")    // brand new url → keep
    ).toDF("fid", "url")
    val out = MergeUpsert.urlConflictFilter(staged, target, "url", "fid")
    assert(out.select("fid").as[String].collect().sorted.toSeq ==
      Seq("fid1", "fid3"))
  }

  test("malformed fixtures: rows with corrupt meta_data quarantine") {
    // the reference's "malformed" rows are structurally valid TSV whose
    // meta_data JSON contains raw control bytes (Postgres COPY rejects
    // the line; loader/sql.py:126-141 deletes it and retries). Engine
    // equivalent: JSON validation — unparseable meta_data → quarantine.
    import org.apache.spark.sql.types.{MapType, StringType}
    for ((name, expectBad) <- Seq(
        ("malformed_less_than_max_rows", 4),
        ("malformed_max_rows", 10),
        ("malformed_more_than_max_rows", 11))) {
      val df = Tsv.read(spark, s"$res/$name.tsv")
        .withColumn("__meta_ok",
          col("meta_data").isNull ||
            from_json(col("meta_data"), MapType(StringType, StringType))
              .isNotNull)
      val bad = df.filter(!col("__meta_ok")).count()
      assert(bad == expectBad, s"$name: quarantined $bad, expected $expectBad")
      assert(df.filter(col("__meta_ok")).count() == df.count() - bad)
    }
  }
}
