package graft

import org.apache.spark.sql.functions._
import graft.core.RunProfile
import graft.inat.Inat

/** End-to-end test of the iNaturalist pipeline over the reference's own
  * mini-dataset fixtures (catalog/tests/s3-data/inaturalist-open-data),
  * read in place — the §3.2 showcase: dedup anti-join, taxonomy
  * ancestor expansion, 5-way star join, record synthesis.
  */
class InatSpec extends SparkSpec {

  val fixtures =
    s"${ReferenceFixtures.root}/catalog/tests/s3-data/inaturalist-open-data"

  lazy val photos = Inat.readTable(spark, s"$fixtures/photos.csv.gz")
  lazy val observations = Inat.readTable(spark, s"$fixtures/observations.csv.gz")
  lazy val observers = Inat.readTable(spark, s"$fixtures/observers.csv.gz")
  lazy val taxa = Inat.readTable(spark, s"$fixtures/taxa.csv.gz")

  test("readers construct with zero jobs (no inference scan)") {
    val (df, profile) = RunProfile(spark)(
      Inat.readTable(spark, s"$fixtures/photos.csv.gz"))
    assert(df.schema == Inat.schemas("photos"))
    // explicit schema: building the frame must not run an inference
    // job over the (at production scale, 120M-row) CSV
    assert(profile.jobs == 0)
  }

  test("fixtures load with expected columns") {
    assert(photos.columns.contains("photo_id") && photos.count() > 0)
    assert(taxa.columns.contains("ancestry") && taxa.count() > 0)
  }

  test("taxa enrichment expands ancestors root-first, capped at 20") {
    val enriched = Inat.taxaEnriched(taxa).cache()
    assert(enriched.count() == taxa.count())
    // the Hylidae fixture row has ancestry .../Anura; its tag list must
    // contain the Anura ancestor (id 20979 is in 23540's path)
    val hylidae = enriched.filter(col("taxon_id") === 23540)
      .select("ancestor_tags").collect().head.getSeq[String](0)
    assert(hylidae.contains("Anura"))
    assert(enriched.filter(size(col("ancestor_tags")) > 20).count() == 0)
  }

  test("transform emits catalog records: star join + dedup + synthesis") {
    val recs = Inat.transform(photos, observations, observers, taxa).cache()
    assert(recs.count() > 0)
    // dedup: no repeated foreign ids
    assert(recs.count() ==
      recs.select("foreign_identifier").distinct().count())
    // dupe photo_ids (if any in fixture) were excluded entirely
    val dupes = Inat.photoDupes(photos)
    assert(recs.join(dupes,
      recs("foreign_identifier") === dupes("photo_id").cast("string"))
      .count() == 0)
    // required fields present; url synthesized with normalized extension
    val r = recs.head()
    assert(r.getAs[String]("url")
      .startsWith("https://inaturalist-open-data.s3.amazonaws.com/photos/"))
    assert(recs.filter(col("url").endsWith(".jpeg")).count() == 0)
    assert(recs.filter(col("license").isNull).count() == 0)
  }
}
