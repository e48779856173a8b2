package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ingest.ProviderExtract

/** Golden tests for the offset-pagination (jamendo) and multi-record
  * (smithsonian) provider archetypes, run over the reference's OWN test
  * resource JSON — expected values are the reference's
  * test_jamendo.py:67-101 / test_smithsonian.py expectations.
  */
class ProviderGoldenSpec extends SparkSpec {
  import spark.implicits._

  private val res = s"${ReferenceFixtures.root}/catalog/tests/dags/" +
    "providers/provider_api_scripts/resources"

  private def fixture(rel: String): String =
    new String(Files.readAllBytes(Paths.get(s"$res/$rel")), "UTF-8")

  test("jamendoish: reference audio_data_example -> expected record") {
    val batch =
      s"""{"headers":{"results_count":1},"results":[${fixture("jamendo/audio_data_example.json")}]}"""
    val got = ProviderExtract.jamendoish(spark, Seq(batch).toDS()).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") == "732")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://www.jamendo.com/track/732")
    // `from` secret param stripped from the audio URL
    assert(r.getAs[String]("url") ==
      "https://mp3d.jamendo.com/?trackid=732&format=mp32")
    assert(r.getAs[Long]("duration") == 144000L)
    assert(r.getAs[String]("filetype") == "mp32")
    assert(r.getAs[String]("category") == "music")
    // photon slash added, trackid kept on the track thumbnail
    assert(r.getAs[String]("thumbnail_url") ==
      "https://usercontent.jamendo.com/?type=album&id=119&width=200&trackid=732")
    assert(r.getAs[String]("title") == "Thoughtful")
    assert(r.getAs[String]("creator") == "Haeresis")
    assert(r.getAs[String]("creator_url") ==
      "https://www.jamendo.com/artist/92/haeresis")
    assert(r.getAs[String]("license") == "by-nc" &&
      r.getAs[String]("license_version") == "2.0")
    val meta = r.getAs[Map[String, String]]("meta_data")
    assert(meta == Map("release_date" -> "2005-04-12", "downloads" -> "0",
      "listens" -> "5616", "playlists" -> "0")) // lyrics empty -> dropped
    assert(r.getAs[collection.Seq[String]]("tags").toSeq ==
      Seq("instrumental", "speed_medium"))
    assert(r.getAs[collection.Seq[String]]("genres").toSeq == Seq.empty)
    val set = r.getAs[org.apache.spark.sql.Row]("audio_set")
    assert(set.getAs[String]("set_foreign_id") == "119")
    assert(set.getAs[String]("audio_set") == "Opera I")
    assert(set.getAs[Long]("set_position") == 6L)
    assert(set.getAs[String]("set_url") ==
      "https://www.jamendo.com/album/119/opera-i")
    // set thumbnail: slash added AND trackid dropped (set identity)
    assert(set.getAs[String]("set_thumbnail") ==
      "https://usercontent.jamendo.com/?type=album&id=119&width=200")
  }

  test("jamendoish: missing required fields drop the record") {
    val base = fixture("jamendo/audio_data_example.json")
    for (killed <- Seq("shareurl", "audio", "license_ccurl")) {
      val mutated = base.replaceFirst(s""""$killed":\\s*"[^"]*"""",
        s""""$killed": null""")
      assert(mutated != base, s"fixture key $killed not found")
      val batch = s"""{"headers":{"results_count":1},"results":[$mutated]}"""
      assert(ProviderExtract.jamendoish(spark, Seq(batch).toDS())
        .count() == 0, s"record with null $killed must drop")
    }
  }

  test("smithsonianish: actual_record_data fans out one CC0 image") {
    val batch =
      s"""{"response":{"rowCount":1,"rows":[${fixture("smithsonian/actual_record_data.json")}]}}"""
    val got = ProviderExtract.smithsonianish(spark, Seq(batch).toDS())
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") ==
      "https://collections.nmnh.si.edu/media/?irn=15814382")
    assert(r.getAs[String]("url") ==
      "https://collections.nmnh.si.edu/media/?irn=15814382")
    assert(r.getAs[String]("foreign_landing_url") ==
      "http://n2t.net/ark:/65665/34857ca78-9195-4156-849b-1ec47f7cd1ce")
    assert(r.getAs[String]("title") ==
      "Passerculus sandwichensis nevadensis")
    // J11 sub-provider lookup: NMNHBIRDS -> natural history museum
    assert(r.getAs[String]("source") ==
      "smithsonian_national_museum_of_natural_history")
    // ranked creator pick: 'Collector' (rank 6) is the only candidate
    assert(r.getAs[String]("creator") == "Seymour H. Levy")
    val meta = r.getAs[Map[String, String]]("meta_data")
    assert(meta("unit_code") == "NMNHBIRDS")
    assert(meta("data_source") == "NMNH - Vertebrate Zoology - Birds Division")
    assert(!meta.contains("description") && !meta.contains("label_text"))
    // tag_types order: date, object_type, topic, place
    assert(r.getAs[collection.Seq[String]]("tags").toSeq == Seq("1950s",
      "Animals", "Birds", "United States", "Pinal", "North America",
      "Arizona"))
    assert(r.getAs[String]("license") == "cc0" &&
      r.getAs[String]("license_version") == "1.0")
  }

  test("smithsonianish: row without landing url yields no records") {
    // sub_provider_example has no record_link/guid -> required-field drop
    val batch = fixture("smithsonian/sub_provider_example.json")
    assert(ProviderExtract.smithsonianish(spark, Seq(batch).toDS())
      .count() == 0)
  }

  test("smithsonianish: multi-image rows fan out per CC0 media item") {
    val row =
      """{"content":{"descriptiveNonRepeating":{
        |"record_link":"https://si.edu/object/x","unit_code":"SIA",
        |"data_source":"Archives","title":{"content":"Two views"},
        |"online_media":{"media":[
        | {"content":"https://ids.si.edu/1","idsId":"id-1","type":"Images",
        |  "usage":{"access":"CC0"}},
        | {"content":"https://ids.si.edu/2","idsId":"id-2","type":"Images",
        |  "usage":{"access":"CC0"}},
        | {"content":"https://ids.si.edu/3","idsId":"id-3","type":"Images",
        |  "usage":{"access":"Usage conditions apply"}},
        | {"content":"https://ids.si.edu/4","idsId":null,"type":"Images",
        |  "usage":{"access":"CC0"}},
        | {"content":"https://ids.si.edu/5","idsId":"id-5","type":"Videos",
        |  "usage":{"access":"CC0"}}]}},
        |"freetext":{},"indexedStructured":{}}}"""
        .stripMargin.replaceAll("\n", "")
    val batch = s"""{"response":{"rowCount":1,"rows":[$row]}}"""
    val got = ProviderExtract.smithsonianish(spark, Seq(batch).toDS())
      .orderBy("foreign_identifier").collect()
    // non-CC0, null-id and non-Image items all filtered
    assert(got.map(_.getAs[String]("foreign_identifier")).toSeq ==
      Seq("id-1", "id-2"))
    assert(got.forall(_.getAs[String]("title") == "Two views"))
  }

  // ---- europeana (cursor archetype) -----------------------------------

  private def europeanaBatch(itemsJson: String,
      cursor: String = "\"test_next_cursor\""): String =
    s"""{"success": true, "nextCursor": $cursor, "items": [$itemsJson]}"""

  test("europeanaish: reference image_data_example -> expected record") {
    val batch = europeanaBatch(fixture("europeana/image_data_example.json"))
    val got = ProviderExtract.europeanaish(spark, Seq(batch).toDS()).collect()
    assert(got.length == 1)
    val r = got.head
    // test_europeana.py:106-139's expected record
    assert(r.getAs[String]("foreign_identifier") ==
      "/2022704/lod_oai_bibliotecadigital_jcyl_es_26229_ent1")
    assert(r.getAs[String]("foreign_landing_url") ==
      "http://bibliotecadigital.jcyl.es/i18n/consulta/registro.cmd?id=26229")
    assert(r.getAs[String]("url") ==
      "http://bibliotecadigital.jcyl.es/i18n/catalogo_imagenes/imagen_id.cmd?idImagen=102620362")
    assert(r.getAs[String]("title") ==
      "Claustro del Monasterio de S. Salvador en Oña [Material gráfico]= Cloître du Monastère de S. Salvador à Oña")
    assert(r.getAs[String]("license") == "cc0" &&
      r.getAs[String]("license_version") == "1.0")
    assert(r.getAs[String]("license_url") ==
      "https://creativecommons.org/publicdomain/zero/1.0/")
    assert(r.getAs[String]("raw_license_url") ==
      "http://creativecommons.org/publicdomain/zero/1.0/")
    val meta = r.getAs[org.apache.spark.sql.Row]("meta_data")
    assert(meta.getAs[collection.Seq[String]]("country").toSeq ==
      Seq("Spain"))
    assert(meta.getAs[collection.Seq[String]]("dataProvider").toSeq ==
      Seq("Biblioteca Digital de Castilla y León"))
    assert(meta.getAs[String]("description") ==
      "Sello en seco: España artística y monumental.")
    assert(r.getAs[String]("source") == "europeana")
    assert(r.getAs[String]("provider") == "europeana")
  }

  test("europeanaish: wellcome dataProvider -> sub-provider source") {
    val batch = europeanaBatch(
      fixture("europeana/image_data_sub_provider_example.json"))
    val got = ProviderExtract.europeanaish(spark, Seq(batch).toDS()).collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("source") == "wellcome_collection")
    assert(got.head.getAs[String]("license") == "by" &&
      got.head.getAs[String]("license_version") == "4.0")
  }

  test("europeanaish: realistic 27-item response keeps every item") {
    // test_europeana.py:100-103: all items of the realistic response
    // survive record building
    val whole = fixture("europeana/europeana_example.json")
    val got = ProviderExtract.europeanaish(spark, Seq(whole).toDS())
    assert(got.count() == 27)
  }

  test("europeanaish: failed response and missing requireds drop") {
    val item = fixture("europeana/image_data_example.json")
    assert(ProviderExtract.europeanaish(spark,
      Seq(s"""{"success": false, "items": [$item]}""").toDS()).count() == 0)
    // non-cc rights -> no license url -> drop (test_europeana.py:151-155)
    val nonCc = item.replace(
      "http://creativecommons.org/publicdomain/zero/1.0/",
      "http://rightsstatements.org/vocab/InC/1.0/")
    assert(ProviderExtract.europeanaish(spark,
      Seq(europeanaBatch(nonCc)).toDS()).count() == 0)
  }

  test("europeanaNextCursors surfaces the continuation token") {
    val batch = europeanaBatch(fixture("europeana/image_data_example.json"))
    val done = europeanaBatch(fixture("europeana/image_data_example.json"),
      cursor = "null")
    val cursors = ProviderExtract.europeanaNextCursors(spark,
      Seq(batch, done).toDS()).collect().map(_.getAs[String]("next_cursor"))
    assert(cursors.toSeq == Seq("test_next_cursor", null))
  }

  // ---- freesound (page-number audio archetype) ------------------------

  /** The reference test stamps driver-side enrichments via mocks
    * (test_freesound.py:19-32: file size 16359, set info ("foo", url));
    * our fetcher stamps the same fields into the landing-zone JSON.
    */
  private def freesoundStamp(recordJson: String): String =
    recordJson.replaceFirst("\\{",
      """{"preview_filesize": 16359, "pack_id": "foo",
        | "pack_name": "https://freesound.org/apiv2/packs/23434/","""
        .stripMargin.replaceAll("\n", ""))

  test("freesoundish: reference audio_data_example -> expected record") {
    val rec = freesoundStamp(fixture("freesound/audio_data_example.json"))
    val batch = s"""{"count": 1, "next": null, "results": [$rec]}"""
    val got = ProviderExtract.freesoundish(spark, Seq(batch).toDS()).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") == "415362")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://freesound.org/people/owly-bee/sounds/415362/")
    // main file = hq-mp3 preview (test_freesound.py:120-134)
    assert(r.getAs[String]("url") ==
      "https://freesound.org/data/previews/415/415362_6044691-hq.mp3")
    assert(r.getAs[String]("filetype") == "mp3")
    assert(r.getAs[Long]("bit_rate") == 128000L)
    assert(r.getAs[Long]("filesize") == 16359L)
    assert(r.getAs[Long]("duration") == 608L) // int(0.608754 * 1000)
    assert(r.getAs[String]("title") == "Ehh disinterested.wav")
    assert(r.getAs[String]("creator") == "owly-bee")
    assert(r.getAs[String]("creator_url") ==
      "https://freesound.org/people/owly-bee/")
    assert(r.getAs[String]("license") == "by" &&
      r.getAs[String]("license_version") == "3.0")
    val meta = r.getAs[Map[String, String]]("meta_data")
    // truthy-only: avg_rating 0.0, num_ratings 0, geotag null all drop
    assert(meta("description") ==
      "A disinterested noise in a somewhat low tone.")
    assert(meta("num_downloads") == "164")
    assert(meta("download") ==
      "https://freesound.org/apiv2/sounds/415362/download/")
    assert(!meta.contains("avg_rating") && !meta.contains("num_ratings") &&
      !meta.contains("geotag"))
    assert(r.getAs[collection.Seq[String]]("tags").toSeq ==
      Seq("eh", "disinterest", "low", "uh", "voice", "uncaring"))
    val set = r.getAs[org.apache.spark.sql.Row]("audio_set")
    assert(set.getAs[String]("set_foreign_id") == "foo")
    assert(set.getAs[String]("audio_set") ==
      "https://freesound.org/apiv2/packs/23434/")
    assert(set.getAs[String]("set_url") ==
      "https://freesound.org/apiv2/packs/23434/")
    // one alt_file: the original upload (test_freesound.py:125-133)
    val alts = r.getAs[collection.Seq[org.apache.spark.sql.Row]]("alt_files")
    assert(alts.length == 1)
    val alt = alts.head
    assert(alt.getAs[String]("url") ==
      "https://freesound.org/apiv2/sounds/415362/download/")
    assert(alt.getAs[Long]("bit_rate") == 1381000L)
    assert(alt.getAs[Long]("sample_rate") == 44100L)
    assert(alt.getAs[String]("filetype") == "wav")
    assert(alt.getAs[Long]("filesize") == 107592L)
  }

  test("freesoundish: reference page fixture keeps all six records") {
    val stamped = fixture("freesound/page.json").trim
      .stripPrefix("[").stripSuffix("]")
    // stamp each record ONCE at its "id" key (every record has exactly
    // one) with the driver-side enrichment fields
    val records = stamped.replaceAll("\"id\":",
      "\"preview_filesize\": 16359, \"id\":")
    val batch = s"""{"count": 6, "next": null, "results": [$records]}"""
    assert(ProviderExtract.freesoundish(spark, Seq(batch).toDS())
      .count() == 6)
  }

  test("freesoundish: missing required fields drop the record") {
    val base = fixture("freesound/audio_data_example.json")
    // no preview_filesize stamp (HEAD failed / preview 404) -> drop
    val batch = s"""{"count": 1, "next": null, "results": [$base]}"""
    assert(ProviderExtract.freesoundish(spark, Seq(batch).toDS())
      .count() == 0)
    // missing hq-mp3 preview -> drop (test_freesound.py:143-147)
    val noPreview = freesoundStamp(base).replace("preview-hq-mp3",
      "preview-hq-mp3-absent")
    assert(ProviderExtract.freesoundish(spark,
      Seq(s"""{"count":1,"next":null,"results":[$noPreview]}""").toDS())
      .count() == 0)
    // non-cc license -> drop
    val badLicense = freesoundStamp(base).replace(
      "http://creativecommons.org/licenses/by/3.0/",
      "http://example.com/all-rights-reserved")
    assert(ProviderExtract.freesoundish(spark,
      Seq(s"""{"count":1,"next":null,"results":[$badLicense]}""").toDS())
      .count() == 0)
  }

  // ---- nappy (page-number, CC0-hardcoded) -----------------------------

  test("nappyish: reference single_item -> expected record") {
    val batch = s"""{"images": [${fixture("nappy/single_item.json")}],
      "next_page": null}""".replaceAll("\n", "")
    val got = ProviderExtract.nappyish(spark, Seq(batch).toDS()).collect()
    assert(got.length == 1)
    val r = got.head
    // test_nappy.py:92-131's expected record
    assert(r.getAs[String]("foreign_identifier") == "9")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://nappy.co/photo/9/woman-with-tattoos")
    assert(r.getAs[String]("url").endsWith("azaf.jpg"))
    assert(r.getAs[String]("thumbnail_url") ==
      r.getAs[String]("url") + "?auto=format&w=600&q=75")
    assert(r.getAs[Long]("filesize") == 233500L) // "233.5kB"
    assert(r.getAs[String]("filetype") == "jpg")
    assert(r.getAs[String]("creator") == "iamconnorrm")
    assert(r.getAs[String]("title") == "woman with tattoos")
    val meta = r.getAs[Map[String, String]]("meta_data")
    assert(meta == Map("views" -> "82692", "saves" -> "18",
      "downloads" -> "1329"))
    val tags = r.getAs[collection.Seq[String]]("tags")
    assert(tags.length == 14 && tags.head == "indoor" && tags.last == "room")
    assert(r.getAs[Long]("width") == 2048L &&
      r.getAs[Long]("height") == 1361L)
    assert(r.getAs[String]("license") == "cc0" &&
      r.getAs[String]("license_version") == "1.0")
  }

  test("nappyish: full images fixture keeps all ten records") {
    val batch = fixture("nappy/images.json")
    assert(ProviderExtract.nappyish(spark, Seq(batch).toDS()).count() == 10)
  }

  test("nappy filesize conversion matches _convert_filesize") {
    // test_nappy.py:140-154's parametrized cases
    val cases = Seq(
      ("233.5kB", Some(233500L)), ("233.5MB", Some(233500000L)),
      ("233.5GB", Some(233500000000L)), ("garbagekB", None),
      ("233.5", None), ("kB", None))
    val df = cases.map(_._1).toDF("raw")
      .select(ProviderExtract.nappyFilesize(col("raw")).as("bytes"))
      .collect()
    cases.zip(df).foreach { case ((raw, want), row) =>
      val got = if (row.isNullAt(0)) None else Some(row.getLong(0))
      assert(got == want, s"filesize of $raw")
    }
  }

  // ---- cleveland museum (offset pagination) ---------------------------

  test("clevelandish: reference response_success -> expected record") {
    val batch = fixture("clevelandmuseum/response_success.json")
    val got = ProviderExtract.clevelandish(spark, Seq(batch).toDS())
      .collect()
    assert(got.length == 1)
    val r = got.head
    // test_cleveland_museum.py:173-206's expected image
    assert(r.getAs[String]("foreign_identifier") == "96887")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://clevelandart.org/art/1916.586.a")
    // web image preferred over print/full
    assert(r.getAs[String]("url") ==
      "https://openaccess-cdn.clevelandart.org/1916.586.a/1916.586.a_web.jpg")
    assert(r.getAs[Long]("width") == 641L)
    assert(r.getAs[Long]("height") == 900L)
    assert(r.getAs[Long]("filesize") == 222248L)
    assert(r.getAs[String]("creator") == "") // empty creators list
    assert(r.getAs[String]("title") == "Scent Bottle")
    val meta = r.getAs[Map[String, String]]("meta_data")
    assert(meta("accession_number") == "1916.586.a")
    assert(meta("classification") == "Miscellaneous")
    assert(meta("credit_line") == "Gift of Mr. and Mrs. J. H. Wade")
    assert(meta("culture") == "Germany, 18th century")
    assert(meta("date") == "1700s")
    assert(meta("technique") == "glass with enamel decoration")
    assert(r.getAs[String]("license") == "cc0")
  }

  test("clevelandish: complete_data meta_data matches expect_metadata") {
    val item = fixture("clevelandmuseum/complete_data.json")
    val batch = s"""{"data": [$item]}"""
    val got = ProviderExtract.clevelandish(spark, Seq(batch).toDS())
      .collect()
    assert(got.length == 1)
    val meta = got.head.getAs[Map[String, String]]("meta_data")
    // expect_metadata.json, the reference's own golden dict
    assert(meta == Map(
      "accession_number" -> "1335.1917",
      "classification" -> "Painting",
      "credit_line" -> "Hinman B. Hurlbut Collection",
      "culture" -> "America, 19th century",
      "date" -> "1838",
      "technique" -> "oil on canvas",
      "tombstone" -> ("View of Schroon Mountain, Essex County, New York, " +
        "After a Storm, 1838. Thomas Cole (American, 1801-1848). Oil on " +
        "canvas; framed: 132.5 x 193.5 x 13 cm (52 3/16 x 76 3/16 x 5 1/8 " +
        "in.); unframed: 99.8 x 160.6 cm (39 5/16 x 63 1/4 in.). The " +
        "Cleveland Museum of Art, Hinman B. Hurlbut Collection 1335.1917")))
  }

  test("clevelandish: 100-record batch survives whole, non-cc drops") {
    val batch = fixture("clevelandmuseum/handle_response_data.json")
    assert(ProviderExtract.clevelandish(spark, Seq(batch).toDS())
      .count() == 100)
    val item = fixture("clevelandmuseum/complete_data.json")
    val nonCc = s"""{"data": [${item.replaceFirst(
      "\"share_license_status\":\\s*\"CC0\"",
      "\"share_license_status\": \"copyrighted\"")}]}"""
    assert(ProviderExtract.clevelandish(spark, Seq(nonCc).toDS())
      .count() == 0)
  }

  // ---- stocksnap (path-segment page counter, CC0) ---------------------

  private def stocksnapBatch(itemJson: String): String =
    s"""{"nextPage": 2, "results": [$itemJson]}"""

  test("stocksnapish: reference full_item -> expected record") {
    // driver stamps the HEAD content-length like the reference's
    // filesize_mock (test_stocksnap.py:178-181)
    val stamped = fixture("stocksnap/full_item.json")
      .replaceFirst("\\{", """{"filesize": 123456,""")
    val got = ProviderExtract.stocksnapish(spark,
      Seq(stocksnapBatch(stamped)).toDS()).collect()
    assert(got.length == 1)
    val r = got.head
    // test_stocksnap.py:182-206's expected record
    assert(r.getAs[String]("foreign_identifier") == "7VAQUG1X3B")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://stocksnap.io/photo/female-fitness-7VAQUG1X3B")
    assert(r.getAs[String]("url") ==
      "https://cdn.stocksnap.io/img-thumbs/960w/7VAQUG1X3B.jpg")
    assert(r.getAs[String]("title") == "Female Fitness")
    assert(r.getAs[String]("creator") == "Matt Moloney")
    assert(r.getAs[String]("creator_url") == "https://mjmolo.com/")
    assert(r.getAs[Long]("filesize") == 123456L)
    assert(r.getAs[Long]("width") == 6000L &&
      r.getAs[Long]("height") == 4000L)
    // zero counters KEPT (is-not-None filter, not truthiness)
    val meta = r.getAs[Map[String, String]]("meta_data")
    assert(meta == Map("downloads_raw" -> "0", "page_views_raw" -> "30",
      "favorites_raw" -> "0"))
    assert(r.getAs[String]("license") == "cc0")
  }

  test("stocksnapish: placeholder author site falls back to profile") {
    val item = fixture("stocksnap/full_item.json").replace(
      "https://mjmolo.com/", "https://stocksnap.io/")
    val got = ProviderExtract.stocksnapish(spark,
      Seq(stocksnapBatch(item)).toDS()).collect()
    assert(got.head.getAs[String]("creator_url") ==
      "https://stocksnap.io/author/111564")
  }

  test("stocksnapish: missing id or keywords drop; full page keeps 40") {
    val noId = fixture("stocksnap/full_item.json")
      .replaceFirst("\"img_id\":\\s*\"[^\"]*\"", "\"img_id\": null")
    assert(ProviderExtract.stocksnapish(spark,
      Seq(stocksnapBatch(noId)).toDS()).count() == 0)
    val noKw = fixture("stocksnap/full_item.json")
      .replaceFirst("\"keywords\":\\s*\\[[^\\]]*\\]", "\"keywords\": []")
    assert(ProviderExtract.stocksnapish(spark,
      Seq(stocksnapBatch(noKw)).toDS()).count() == 0)
    assert(ProviderExtract.stocksnapish(spark,
      Seq(fixture("stocksnap/full_response.json")).toDS()).count() == 40)
  }

  // ---- museum victoria (per-image licensing fan-out) ------------------

  test("victoriaish: reference record_data fans out two CC images") {
    val batch = s"""[${fixture("museumvictoria/record_data.json")}]"""
    val got = ProviderExtract.victoriaish(spark, Seq(batch).toDS())
      .orderBy("foreign_identifier").collect()
    // test_museum_victoria.py:64-92: 2 of the 4 media qualify
    assert(got.length == 2)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") == "media/488013")
    assert(r.getAs[String]("url") ==
      "https://collections.museumsvictoria.com.au/content/media/13/488013-large.jpg")
    assert(r.getAs[Long]("height") == 1753L &&
      r.getAs[Long]("width") == 3000L)
    assert(r.getAs[String]("creator") == "") // empty creators list
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://collections.museumsvictoria.com.au/items/415715")
    assert(r.getAs[String]("title") ==
      "Baggage Label - ICEM, Sailing Details, 15 Mar 1957")
    assert(r.getAs[String]("license") == "by" &&
      r.getAs[String]("license_version") == "4.0")
    assert(r.getAs[String]("license_url") ==
      "https://creativecommons.org/licenses/by/4.0/")
    assert(r.getAs[String]("raw_license_url") ==
      "https://creativecommons.org/licenses/by/4.0")
    val meta = r.getAs[Map[String, String]]("meta_data")
    assert(meta("datemodified") == "2017-12-12T05:56:00Z")
    assert(meta("category") == "History & Technology")
    assert(meta("description") ==
      "Rectangular white blue and grey cardboard baggage label.")
    assert(meta("keywords") == "Immigrant Shipping,Immigrant Voyages," +
      "Immigration,Shipping,Station Pier,Women's Work")
    assert(meta("classifications") ==
      "Migration,Processing - planning & departure,Luggage handling")
  }

  test("victoriaish: repeated object ids dedupe across batches") {
    val obj = fixture("museumvictoria/record_data.json")
    val twice = Seq(s"[$obj]", s"[$obj]")
    assert(ProviderExtract.victoriaish(spark, twice.toDS()).count() == 2)
  }

  // ---- phylopic (build-token pagination, HAL links) -------------------

  private def phylopicBatch(itemJson: String): String =
    s"""{"build": 194, "totalPages": 2,
       | "_embedded": {"items": [$itemJson]}}"""
      .stripMargin.replaceAll("\n", "")

  test("phylopicish: reference sample_record -> expected record") {
    val got = ProviderExtract.phylopicish(spark,
      Seq(phylopicBatch(fixture("phylopic/sample_record.json"))).toDS())
      .collect()
    assert(got.length == 1)
    val r = got.head
    // test_phylopic.py:96-113's expected record
    assert(r.getAs[String]("foreign_identifier") ==
      "5b1e88b5-159d-495d-b8cb-04f9e28d2f02")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://www.phylopic.org/images/5b1e88b5-159d-495d-b8cb-04f9e28d2f02?build=194")
    assert(r.getAs[String]("url") ==
      "https://images.phylopic.org/images/5b1e88b5-159d-495d-b8cb-04f9e28d2f02/source.svg")
    assert(r.getAs[String]("title") == "Hemaris tityus")
    assert(r.getAs[String]("creator") == "Andy Wilson")
    assert(r.getAs[String]("creator_url") ==
      "https://www.phylopic.org/contributors/c3ac6939-e85a-4a10-99d1-4079537f34de?build=194")
    assert(r.getAs[Long]("width") == 2048L &&
      r.getAs[Long]("height") == 2048L)
    assert(r.getAs[String]("license") == "cc0" &&
      r.getAs[String]("license_version") == "1.0")
  }

  test("phylopicish: missing required links drop the record") {
    val base = fixture("phylopic/sample_record.json")
    for (broken <- Seq(
        base.replaceFirst("\"uuid\":\\s*\"[^\"]*\"", "\"uuid\": \"\""),
        base.replaceFirst("\"license\":\\s*\\{[^}]*\\}",
          "\"license\": {\"href\": \"\"}"),
        base.replaceFirst("\"sourceFile\":\\s*\\{[^}]*\\}",
          "\"sourceFile\": {\"href\": null}"))) {
      assert(broken != base, "fixture mutation failed")
      assert(ProviderExtract.phylopicish(spark,
        Seq(phylopicBatch(broken)).toDS()).count() == 0)
    }
  }

  // ---- metropolitan museum (per-object documents, image fan-out) ------

  test("metish: reference sample_response fans out all expected records") {
    val obj = fixture("metropolitan_museum_of_art/sample_response.json")
    val got = ProviderExtract.metish(spark, Seq(obj).toDS()).collect()
    // sample_additional_image_data.json: primary + 2 additional images
    assert(got.length == 3)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") == "45734-DP251139")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://wwwstg.metmuseum.org/art/collection/search/45734")
    assert(r.getAs[String]("url") ==
      "https://images.metmuseum.org/CRDImages/as/original/DP251139.jpg")
    assert(r.getAs[String]("title") == "Quail and Millet")
    assert(r.getAs[String]("creator") == "Kiyohara Yukinobu")
    assert(r.getAs[Map[String, String]]("meta_data") ==
      Map("accession_number" -> "36.100.45"))
    val tags = r.getAs[collection.Seq[String]]("tags").toSeq
    assert(tags.take(9) == Seq("Asian Art",
      "Hanging scroll; ink and color on silk", "Japan", "Hanging scroll",
      "Kiyohara Yukinobu", "Paintings", "late 17th century",
      "The Howard Mansfield Collection, Purchase, Rogers Fund, 1936",
      "Edo period (1615–1868)"))
    assert(tags.drop(9) == Seq("Birds", "Leaves"))
    assert(r.getAs[String]("license") == "cc0")
    // all images share the object's landing page; ids differ by filename
    assert(got.map(_.getAs[String]("foreign_identifier")).distinct.length
      == got.length)
  }

  test("metish: single-image object and gates") {
    val single =
      fixture("metropolitan_museum_of_art/sample_response_without_additional.json")
    val got = ProviderExtract.metish(spark, Seq(single).toDS()).collect()
    // sample_image_data.json, the reference's expected single record
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") == "47533-79_2_414b_S1_sf")
    assert(r.getAs[String]("url") ==
      "https://images.metmuseum.org/CRDImages/as/original/79_2_414b_S1_sf.jpg")
    assert(r.getAs[String]("creator") == "")
    assert(r.getAs[String]("title") == "Cover")
    assert(r.getAs[Map[String, String]]("meta_data") ==
      Map("accession_number" -> "79.2.414b"))
    assert(r.getAs[collection.Seq[String]]("tags").toSeq == Seq(
      "Asian Art", "Porcelain painted in underglaze blue", "China",
      "Cover", "Ceramics", "Purchase by subscription, 1879",
      "Qing dynasty (1644–1911), Kangxi period (1662–1722)"))
    val obj = fixture("metropolitan_museum_of_art/sample_response.json")
    val nonPd = obj.replaceFirst("\"isPublicDomain\":\\s*true",
      "\"isPublicDomain\": false")
    assert(nonPd != obj)
    assert(ProviderExtract.metish(spark, Seq(nonPd).toDS()).count() == 0)
  }

  // ---- smk (IIIF / legacy image selection) ----------------------------

  private def smkBatch(itemJson: String): String =
    s"""{"items": [$itemJson]}"""

  test("smkish: reference item -> main-image record") {
    val got = ProviderExtract.smkish(spark,
      Seq(smkBatch(fixture("smk/item.json"))).toDS()).collect()
    // test_smk.py:130-134 expects exactly one image
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") ==
      "https://iip.smk.dk/iiif/jp2/kks1615.tif.jp2")
    assert(r.getAs[String]("url") ==
      "https://iip.smk.dk/iiif/jp2/kks1615.tif.jp2/full/!2048,/0/default.jpg")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://open.smk.dk/en/artwork/image/KKS1615")
    assert(r.getAs[String]("title") ==
      "Jomfru Maria med barnet og Sankt Anne ved vuggen")
    assert(r.getAs[String]("creator") == "Altdorfer, Albrecht")
    assert(r.getAs[Long]("height") == 5141L &&
      r.getAs[Long]("width") == 3076L)
    assert(r.getAs[Long]("filesize") == 47466428L)
    val meta = r.getAs[Map[String, String]]("meta_data")
    // test_smk.py:118-128's expected metadata (no colors key)
    assert(meta == Map("created_date" -> "2020-03-21T10:18:17Z",
      "collection" -> "Gammel bestand", "techniques" -> "Kobberstik"))
  }

  test("smkish: hq/legacy/partial image selection variants") {
    // hq: IIIF id present -> restricted-size IIIF url, id = iiif id
    // (expected_image_data_hq.json)
    val hq = ProviderExtract.smkish(spark,
      Seq(smkBatch(fixture("smk/image_data_hq.json"))).toDS()).collect()
    assert(hq.length == 1)
    assert(hq.head.getAs[String]("foreign_identifier") ==
      "https://iip.smk.dk/iiif/jp2/KKSgb6458.tif.reconstructed.tif.jp2")
    assert(hq.head.getAs[String]("url") ==
      "https://iip.smk.dk/iiif/jp2/KKSgb6458.tif.reconstructed.tif.jp2/full/!2048,/0/default.jpg")
    assert(hq.head.getAs[Long]("filesize") == 11784886L)
    // legacy: no IIIF id -> collection id + native url
    // (expected_image_data_legacy.json)
    val legacy = ProviderExtract.smkish(spark,
      Seq(smkBatch(fixture("smk/image_data_legacy.json"))).toDS()).collect()
    assert(legacy.length == 1)
    assert(legacy.head.getAs[String]("foreign_identifier") ==
      "1170012466_object")
    assert(legacy.head.getAs[String]("url") ==
      "https://api.smk.dk/api/v1/thumbnail/52f00edc-936e-42a7-950b-d0cd0df3864b.jpg")
    // partial: neither id -> nothing (openverse-catalog#875 regression)
    assert(ProviderExtract.smkish(spark,
      Seq(smkBatch(fixture("smk/image_data_partial.json"))).toDS())
      .count() == 0)
  }

  test("smkish: object numbers with spaces percent-encode in landing url") {
    // test_smk.py:57-66's parametrized cases
    val item = """{"id": "x_object", "image_iiif_id": "https://iip.smk.dk/iiif/jp2/a.jp2",
      | "object_number": "KSMB 25 106.5"}""".stripMargin.replaceAll("\n", "")
    val got = ProviderExtract.smkish(spark,
      Seq(smkBatch(item)).toDS()).collect()
    assert(got.head.getAs[String]("foreign_landing_url") ==
      "https://open.smk.dk/en/artwork/image/KSMB%2025%20106.5")
  }

  // ---- brooklyn museum (HTML-embedded license, derivative sizing) -----

  test("brooklynish: reference object_data -> expected record") {
    val got = ProviderExtract.brooklynish(spark,
      Seq(fixture("brooklynmuseum/object_data.json")).toDS()).collect()
    // test_brooklyn_museum.py:83-114's expected record
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") == "170425")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://www.brooklynmuseum.org/opencollection/objects/90636")
    assert(r.getAs[String]("url") ==
      "d1lfxha3ugu3d4.cloudfront.net/images/opencollection/objects/size4/CUR.66.242.29.jpg")
    assert(r.getAs[Long]("height") == 1152L &&
      r.getAs[Long]("width") == 1536L)
    assert(r.getAs[String]("title") == "Caftan")
    assert(r.getAs[String]("creator") == null) // empty artists list
    assert(r.getAs[Map[String, String]]("meta_data") == Map(
      "accession_number" -> "66.242.29", "classification" -> "Clothing",
      "credit_line" -> "Gift of John C. Monks", "medium" -> "Silk"))
    assert(r.getAs[String]("license") == "by" &&
      r.getAs[String]("license_version") == "3.0")
    assert(r.getAs[String]("raw_license_url") ==
      "https://creativecommons.org/licenses/by/3.0/")
  }

  test("brooklyn license url needs exactly one CC link") {
    // test_brooklyn_museum.py:144-161's parametrized cases
    val cases = Seq(
      fixture("brooklynmuseum/cc_license_info.json") ->
        Some("https://creativecommons.org/licenses/by/3.0/"),
      fixture("brooklynmuseum/public_license_info.json") ->
        Some("https://creativecommons.org/publicdomain/zero/1.0/"),
      fixture("brooklynmuseum/no_license_info.json") -> None)
    cases.foreach { case (json, want) =>
      val got = Seq(json).toDF("value")
        .select(from_json(col("value"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("description",
              org.apache.spark.sql.types.StringType)))).as("r"))
        .select(ProviderExtract.brooklynLicenseUrl(col("r.description"))
          .as("u"))
        .collect().head
      assert((if (got.isNullAt(0)) None else Some(got.getString(0))) == want)
    }
  }

  test("brooklynish: objects without images yield nothing") {
    assert(ProviderExtract.brooklynish(spark,
      Seq(fixture("brooklynmuseum/object_data_noimage.json")).toDS())
      .count() == 0)
  }

  // ---- wordpress photo directory (embedded media, term taxonomies) ----

  test("wordpressish: reference full_item -> expected record") {
    val batch = s"""[${fixture("wordpress/full_item.json")}]"""
    val got = ProviderExtract.wordpressish(spark, Seq(batch).toDS())
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") == "203627f31f")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://wordpress.org/photos/photo/203627f31f/")
    // preferred 2048x2048 size wins (test_wordpress.py:87-101)
    assert(r.getAs[String]("url") ==
      "https://pd.w.org/2022/05/203627f31f8770f03.61535278-2048x1366.jpg")
    assert(r.getAs[Long]("height") == 1366L &&
      r.getAs[Long]("width") == 2048L)
    assert(r.getAs[Long]("filesize") == 544284L)
    assert(r.getAs[String]("title") == "Coffee Bean with bags")
    assert(r.getAs[String]("creator") == "Shusei Toda")
    assert(r.getAs[String]("creator_url") == "https://shuseitoda.com")
    val meta = r.getAs[org.apache.spark.sql.Row]("meta_data")
    // test_wordpress.py:128-149's expected metadata
    assert(meta.getAs[String]("aperture") == "4")
    assert(meta.getAs[String]("camera") == "ILCE-7M4")
    assert(meta.getAs[String]("created_timestamp") == "1652338105")
    assert(meta.getAs[String]("focal_length") == "55")
    assert(meta.getAs[String]("iso") == "6400")
    assert(meta.getAs[String]("shutter_speed") == "0.008")
    assert(meta.getAs[String]("orientation") == "landscape")
    assert(meta.getAs[collection.Seq[String]]("categories").toSeq ==
      Seq("food-drink"))
    assert(meta.getAs[collection.Seq[String]]("colors").toSeq ==
      Seq("brown", "orange"))
    assert(r.getAs[collection.Seq[String]]("tags").toSeq ==
      Seq("bean", "coffee"))
    assert(r.getAs[String]("license") == "cc0")
  }

  test("wordpressish: missing slug/link/sizes drop the record") {
    val base = fixture("wordpress/full_item.json")
    for (broken <- Seq(
        base.replaceFirst("\"slug\":\\s*\"203627f31f\"", "\"slug\": null"),
        base.replaceFirst(
          "\"link\":\\s*\"https://wordpress.org/photos/photo/203627f31f/\"",
          "\"link\": null"))) {
      assert(broken != base, "fixture mutation failed")
      assert(ProviderExtract.wordpressish(spark,
        Seq(s"[$broken]").toDS()).count() == 0, "record must drop")
    }
  }

  // ---- finnish museums (dated building sweeps, multi-image) -----------

  private def finnishBatch(recordJson: String): String =
    s"""{"status": "OK", "resultCount": 1, "records": [$recordJson]}"""

  test("finnishish: reference object_complete_example -> expected record") {
    val got = ProviderExtract.finnishish(spark,
      Seq(finnishBatch(fixture("finnishmuseums/object_complete_example.json")))
        .toDS()).collect()
    // test_finnish_museums.py:115-135's expected record
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") == "sa-kuva.sa-kuva-1835")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://www.finna.fi/Record/sa-kuva.sa-kuva-1835")
    assert(r.getAs[String]("url") ==
      "https://api.finna.fi/Cover/Show?source=Solr&id=sa-kuva.sa-kuva-1835&index=0&size=large")
    assert(r.getAs[String]("title") == "Vuokkiniemen koulu")
    // military museum sub-provider from building "0/SA-kuva/"
    assert(r.getAs[String]("source") == "finnish_military_museum")
    // author-name KEY of the primary dict; empty-list types skipped
    assert(r.getAs[String]("creator") == "Uomala, valokuvaaja")
    assert(r.getAs[collection.Seq[String]]("tags").toSeq ==
      Seq("1942-03-02"))
    // deed.fi suffix stripped before resolution
    assert(r.getAs[String]("license") == "by" &&
      r.getAs[String]("license_version") == "4.0")
    assert(r.getAs[String]("raw_license_url") ==
      "http://creativecommons.org/licenses/by/4.0/")
    assert(r.getAs[String]("license_url") ==
      "https://creativecommons.org/licenses/by/4.0/")
  }

  test("finnishish: non-OK batches and missing license drop") {
    val rec = fixture("finnishmuseums/object_complete_example.json")
    val bad = s"""{"status": "ERROR", "records": [$rec]}"""
    assert(ProviderExtract.finnishish(spark, Seq(bad).toDS()).count() == 0)
    val noLicense = rec.replaceFirst(
      "\"link\":\\s*\"[^\"]*\"", "\"link\": null")
    assert(noLicense != rec)
    assert(ProviderExtract.finnishish(spark,
      Seq(finnishBatch(noLicense)).toDS()).count() == 0)
  }

  test("finnishish: full API response example parses whole") {
    val whole = fixture("finnishmuseums/finna_full_response_example.json")
    assert(ProviderExtract.finnishish(spark, Seq(whole).toDS()).count() > 0)
  }

  // ---- science museum (year-range sweeps, usage-terms parsing) --------

  test("sciencemuseumish: reference object_data -> 12 expected records") {
    val batch = s"""{"data": [${fixture("sciencemuseum/object_data.json")}]}"""
    val got = ProviderExtract.sciencemuseumish(spark, Seq(batch).toDS())
      .collect()
    // test_science_museum.py:118-144
    assert(got.length == 12)
    val r = got.find(_.getAs[String]("foreign_identifier") == "i4453").get
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://collection.sciencemuseumgroup.org.uk/objects/co56202/telescope-by-galileo-replica-telescope-galilean-telescope-refracting-replica")
    assert(r.getAs[String]("url") ==
      "https://coimages.sciencemuseumgroup.org.uk/images/4/453/large_1923_0668__0002_.jpg")
    assert(r.getAs[Long]("height") == 1151L &&
      r.getAs[Long]("width") == 1536L)
    assert(r.getAs[String]("filetype") == "jpeg")
    assert(r.getAs[String]("license") == "by-sa" &&
      r.getAs[String]("license_version") == "4.0")
    assert(r.getAs[String]("license_url") ==
      "https://creativecommons.org/licenses/by-sa/4.0/")
    assert(r.getAs[String]("creator") == "Galileo Galilei")
    assert(r.getAs[String]("title") ==
      "Telescope by Galileo (replica) (telescope - Galilean; telescope - refracting; replica)")
    val meta = r.getAs[Map[String, String]]("meta_data")
    assert(meta("accession number") == "1923-668")
    assert(meta("category") == "SCM - Astronomy")
    assert(meta("name") == "telescope - refracting")
    assert(meta("description").startsWith(
      "Facsimile of telescope by Galileo"))
  }

  test("sciencemuseumish: unparseable usage terms skip the image") {
    val base = fixture("sciencemuseum/object_data.json")
    // replace every usage_terms with a non-CC phrase of three words
    val broken = base.replaceAll(
      "\"usage_terms\":\\s*\"[^\"]*\"",
      "\"usage_terms\": \"All rights reserved\"")
    assert(broken != base)
    val batch = s"""{"data": [$broken]}"""
    assert(ProviderExtract.sciencemuseumish(spark, Seq(batch).toDS())
      .count() == 0)
    // repeated record ids dedupe (the RECORD_IDS set)
    val twice = s"""{"data": [${fixture("sciencemuseum/object_data.json")},
      ${fixture("sciencemuseum/object_data.json")}]}"""
    assert(ProviderExtract.sciencemuseumish(spark, Seq(twice).toDS())
      .count() == 12)
  }

  // ---- rawpixel (signed search, marketing-suffix scrubbing) -----------

  test("rawpixelish: reference public_domain_response -> expected record") {
    val got = ProviderExtract.rawpixelish(spark,
      Seq(fixture("rawpixel/public_domain_response.json")).toDS())
      .orderBy("foreign_identifier").collect()
    assert(got.length == 2)
    val r = got.find(_.getAs[String]("foreign_identifier") == "4032668").get
    // test_rawpixel.py:284-321's expected record
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://www.rawpixel.com/image/4032668/photo-image-background-nature-mountain")
    assert(r.getAs[String]("url") ==
      "https://images.rawpixel.com/image_1300/cHJpdmF0ZS9sci9pbWFnZXMvd2Vic2l0ZS8yMDIyLTA1L2ZsNDY0NDU5OTQ2MjQtaW1hZ2Uta3UyY21zcjUuanBn.jpg")
    assert(r.getAs[Long]("width") == 8272L &&
      r.getAs[Long]("height") == 5515L)
    assert(r.getAs[String]("title") == "Bull elk searches for food")
    assert(r.getAs[String]("creator") == "National Park Service")
    assert(r.getAs[String]("filetype") == "jpg")
    assert(r.isNullAt(r.fieldIndex("category")))
    val meta = r.getAs[Map[String, String]]("meta_data")
    assert(meta("description") ==
      "Bull elk searches for food beneath the snow. Frank. Original public domain image from Flickr")
    assert(meta("download_count") == "0")
    val tags = r.getAs[collection.Seq[String]]("tags").toSeq
    assert(tags.take(3) == Seq("animal", "deer", "winter"))
    assert(tags.contains("national park") && tags.contains("yellowstone"))
    assert(r.getAs[String]("license") == "cc0" &&
      r.getAs[String]("license_version") == "1.0")
  }

  test("rawpixel title scrubbing matches the reference cases") {
    // test_rawpixel.py:115-152's parametrized cases
    val cases = Seq(
      "Bull elk searches for food | Free Photo - rawpixel" ->
        "Bull elk searches for food",
      "Desktop wallpaper summer beach landscape, | Free Photo - rawpixel" ->
        "Desktop wallpaper summer beach landscape",
      "Japanese autumn tree color drawing. | Free Photo - rawpixel" ->
        "Japanese autumn tree color drawing",
      "Open hand, palm reading. Original | Free Photo Illustration - rawpixel" ->
        "Open hand, palm reading",
      "Claude Monet's The Magpie (1868&ndash;1869) | Free Photo Illustration - rawpixel" ->
        "Claude Monet's The Magpie (1868–1869)",
      "Red poppy field. Free public | Free Photo - rawpixel" ->
        "Red poppy field",
      "Free public domain CC0 photo. | Free Photo - rawpixel" -> null,
      "Floral glasses. Free public domain | Free Photo - rawpixel" ->
        "Floral glasses",
      "Claude Monet's The Cliffs at &Eacute;tretat | Free Photo Illustration - rawpixel" ->
        "Claude Monet's The Cliffs at Étretat")
    val df = cases.map(_._1).toDF("raw").select(
      nullif(regexp_replace(ProviderExtract.rawpixelCleanText(
        trim(element_at(split(col("raw"), "\\|", 2), 1))),
        "\\.$", ""), lit("")).as("cleaned")).collect()
    cases.zip(df).foreach { case ((raw, want), row) =>
      val got = if (row.isNullAt(0)) null else row.getString(0)
      assert(got == want, s"title of <$raw>")
    }
  }

  // ---- nypl (dict-or-list XML-JSON, per-capture fan-out) --------------

  test("nyplish: reference item details -> 7 captures, expected first") {
    val item = fixture("nypl/response_itemdetails_success.json")
    val got = ProviderExtract.nyplish(spark, Seq(item).toDS()).collect()
    // test_nypl.py:109-138
    assert(got.length == 7)
    val r = got.find(_.getAs[String]("foreign_identifier") == "56738462").get
    assert(r.getAs[String]("foreign_landing_url") ==
      "http://digitalcollections.nypl.org/items/0cabe3d0-3d50-0134-a8e0-00505686a51c")
    // largest dimension (t=g) with the download query stripped
    assert(r.getAs[String]("url") ==
      "http://images.nypl.org/index.php?id=56738462&t=g&suffix=0cabe3d0-3d50-0134-a8e0-00505686a51c.001")
    assert(r.getAs[String]("filetype") == "jpeg")
    assert(r.getAs[String]("title") ==
      "1900 census enumeration districts, Manhattan and Bronx")
    assert(r.getAs[String]("creator") == "Hillman, Barbara")
    assert(r.isNullAt(r.fieldIndex("category"))) // genre Maps, not Photographs
    val meta = r.getAs[Map[String, String]]("meta_data")
    assert(meta("date_issued") == "1981")
    assert(meta("genre") == "Maps")
    assert(meta("publisher") ==
      "New York Public Library, Local History and Genealogy Division")
    assert(meta("tags") == "Census districts")
    assert(meta("type_of_resource") == "cartographic")
    assert(meta("physical_description").startsWith(
      "4 polyester film encapsulations"))
    assert(r.getAs[String]("license") == "cc0" &&
      r.getAs[String]("license_version") == "1.0")
  }

  test("nyplish: captures without required links drop") {
    val item = fixture("nypl/response_itemdetails_success.json")
    val noRights = item.replaceAll(
      "\"rightsStatementURI\":\\s*\\{[^}]*\\}", "\"rightsStatementURI\": {}")
    assert(noRights != item)
    assert(ProviderExtract.nyplish(spark, Seq(noRights).toDS()).count() == 0)
  }

  // ---- flickr (concrete config: real API response shape) --------------

  import graft.ingest.ConcreteProviders

  private def flickrBatch(itemJson: String): String =
    s"""{"photos": {"page": 1, "pages": 1, "perpage": 500,
       | "total": "30", "photo": [$itemJson]}, "stat": "ok"}""".stripMargin

  /** Prepend required keys missing from a partial fixture; real keys in
    * the fixture override them (JSON last-field-wins).
    */
  private def withFlickrDefaults(itemJson: String): String =
    s"""{"id": "fixture-id", "owner": "fixture-owner", "license": "1",
       | "url_s": "https://example.com/x_m.jpg",
       | ${itemJson.trim.stripPrefix("{")}""".stripMargin

  test("flickr: reference complete example -> expected record") {
    val got = ConcreteProviders.flickr(spark,
      Seq(flickrBatch(fixture("flickr/image_data_complete_example.json")))
        .toDS()).collect()
    assert(got.length == 1)
    val r = got.head
    // test_flickr.py:138-176 expected_data
    assert(r.getAs[String]("foreign_identifier") == "49514824541")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://www.flickr.com/photos/71925535@N03/49514824541")
    assert(r.getAs[String]("image_url") ==
      "https://live.staticflickr.com/65535/49514824541_35d1b4f8db_b.jpg")
    assert(r.getAs[String]("license") == "by-nc-sa" &&
      r.getAs[String]("license_version") == "2.0")
    assert(r.getAs[String]("license_url") ==
      "https://creativecommons.org/licenses/by-nc-sa/2.0/")
    assert(r.getAs[Long]("width") == 1024 && r.getAs[Long]("height") == 683)
    assert(r.getAs[String]("creator") == "Marine Explorer")
    assert(r.getAs[String]("creator_url") ==
      "https://www.flickr.com/photos/71925535@N03")
    assert(r.getAs[String]("title") ==
      "Surveying Ruperts Reef @reeflifesurvey #lapofaus #marineexplorer")
    assert(r.getAs[Map[String, String]]("meta_data") == Map(
      "pub_date" -> "1581318235",
      "date_taken" -> "2020-02-10 09:38:16",
      "views" -> "70",
      "description" -> ("We had spectacular underwater scenery with great " +
        "visibility today despite the big seas and winds at Lord Howe Island.")))
    assert(r.getSeq[String](r.fieldIndex("raw_tags")) == Seq(
      "australia", "marine", "marineexplorer", "nature", "scuba",
      "underwater"))
    assert(r.getAs[String]("source") == "flickr")
    assert(r.getAs[String]("category") == "photograph")
  }

  test("flickr: known sub-provider owner maps to its source") {
    val got = ConcreteProviders.flickr(spark,
      Seq(flickrBatch(fixture("flickr/image_data_sub_provider_example.json")))
        .toDS()).collect()
    assert(got.length == 1)
    val r = got.head
    // test_flickr.py:307-348
    assert(r.getAs[String]("source") == "nasa")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://www.flickr.com/photos/35067687@N04/49950595947")
    assert(r.getAs[String]("creator") == "NASA HQ PHOTO")
    assert(r.isNullAt(r.fieldIndex("category")))
    assert(r.getAs[Map[String, String]]("meta_data")("description") ==
      ("A gopher tortoise is seen making its way towards its burrow near " +
        "Launch Complex 39A as preparations continue for NASA SpaceX " +
        "Demo-2 mission"))
    assert(r.getSeq[String](r.fieldIndex("raw_tags")) == Seq(
      "capecanaveral", "commercialcrewprogram", "gophertortoise",
      "kennedyspacecenter", "nasa", "spacex"))
  }

  test("flickr: largest-size fallback l -> m -> s; none drops") {
    // test_flickr.py:210-225
    val med = ConcreteProviders.flickr(spark,
      Seq(flickrBatch(fixture("flickr/image_data_with_med_url_available.json")))
        .toDS()).collect()
    assert(med.length == 1)
    assert(med.head.getAs[String]("image_url") ==
      "https://live.staticflickr.com/456.jpg")
    assert(med.head.getAs[Long]("width") == 500 &&
      med.head.getAs[Long]("height") == 375)
    val small = ConcreteProviders.flickr(spark,
      Seq(flickrBatch(
        fixture("flickr/image_data_with_small_url_available.json")))
        .toDS()).collect()
    assert(small.length == 1)
    assert(small.head.getAs[String]("image_url") ==
      "https://live.staticflickr.com/456_m.jpg")
    assert(small.head.getAs[Long]("width") == 240 &&
      small.head.getAs[Long]("height") == 180)
    // no url_l/m/s at all -> no image -> drop
    val none = s"""{"id": "x", "owner": "o", "license": "1",
      | ${fixture("flickr/image_data_no_image_url.json").trim.stripPrefix("{")}"""
      .stripMargin
    assert(ConcreteProviders.flickr(spark,
      Seq(flickrBatch(none)).toDS()).count() == 0)
  }

  test("flickr: meta_data variants match the reference expectations") {
    def metaOf(rel: String): Map[String, String] = {
      val rows = ConcreteProviders.flickr(spark,
        Seq(flickrBatch(withFlickrDefaults(fixture(rel)))).toDS()).collect()
      assert(rows.length == 1)
      rows.head.getAs[Map[String, String]]("meta_data")
    }
    // test_flickr.py:244-278
    assert(metaOf("flickr/image_data_full_meta_data_example.json") == Map(
      "pub_date" -> "1571326372", "date_taken" -> "2019-09-07 16:26:44",
      "description" -> "OLYMPUS DIGITAL CAMERA", "views" -> "9"))
    assert(metaOf("flickr/image_data_partial_meta_data_info.json") == Map(
      "pub_date" -> "1571326372", "date_taken" -> "2019-09-07 16:26:44"))
    assert(metaOf("flickr/image_data_no_meta_data_info.json") ==
      Map.empty[String, String])
    // html description: lxml text nodes joined with " ", newlines KEPT
    // (expect_meta_data_from_html_description.json)
    assert(metaOf("flickr/image_data_html_description.json")("description") ==
      "Warsy (Somme, France) -\n\n www.google.com/maps/@49.69839,2.64689," +
        "3a,90y,102.98h,114....")
    // whitespace-only description: stripped -> key absent
    assert(!metaOf("flickr/image_data_whitespace_description.json")
      .contains("description"))
  }

  test("flickr: tag normalization (whitespace, sort, truncation)") {
    def tagsOf(itemJson: String, maxLen: Int = 2000): Option[Seq[String]] = {
      val rows = ConcreteProviders.flickr(spark,
        Seq(flickrBatch(withFlickrDefaults(itemJson))).toDS(),
        maxTagStringLength = maxLen).collect()
      assert(rows.length == 1)
      Option(rows.head.getSeq[String](rows.head.fieldIndex("raw_tags")))
        .map(_.toList)
    }
    // test_flickr.py:281-304
    assert(tagsOf(fixture("flickr/image_data_varying_tags_whitespace.json"))
      .contains(Seq("tag1", "tag2", "tag3")))
    assert(tagsOf(fixture("flickr/image_data_unsorted_tags.json"))
      .contains(Seq("tag1", "tag2", "tag3")))
    assert(tagsOf(fixture("flickr/image_data_long_tags_string.json"),
      maxLen = 37).contains(
      Seq("tag1", "tag2", "tag3", "tag4", "tag5", "tag6")))
    assert(tagsOf("""{"id": "aslkjb"}""").isEmpty)
    assert(tagsOf("""{"id": "aslkjb", "tags": ""}""").isEmpty)
  }

  test("flickr: missing owner or id drops the record") {
    val base = fixture("flickr/image_data_complete_example.json")
    for (killed <- Seq("owner", "id")) {
      val broken = base.replace(s""""$killed":""", s""""${killed}_gone":""")
      assert(broken != base)
      assert(ConcreteProviders.flickr(spark,
        Seq(flickrBatch(broken)).toDS()).count() == 0, s"killed=$killed")
    }
  }

  test("flickr: realistic 30-photo response keeps all; non-ok stat drops") {
    val raw = fixture("flickr/flickr_example_pretty.json")
    assert(ConcreteProviders.flickr(spark, Seq(raw).toDS()).count() == 30)
    val notOk = raw.replace("\"ok\"", "\"notok\"")
    assert(ConcreteProviders.flickr(spark, Seq(notOk).toDS()).count() == 0)
    // `photos` present but no `photo` list (test_flickr.py:79-87)
    val partial = """{"photos": {"page": 1, "pages": 1, "perpage": 500,
      | "total": "30"}, "stat": "ok"}""".stripMargin
    assert(ConcreteProviders.flickr(spark, Seq(partial).toDS()).count() == 0)
  }

  // ---- wikimedia commons (concrete config: MediaWiki query.pages) -----

  private def wmResponse(pageJson: String, pageKey: String = "1"): String =
    s"""{"batchcomplete": "", "query": {"pages": {"$pageKey": $pageJson}}}"""

  test("wikimedia: reference image_data_example -> expected record") {
    val page = fixture("wikimedia/image_data_example.json")
    val got = ConcreteProviders.wikimedia(spark,
      Seq(wmResponse(page, "81754323")).toDS()).collect()
    assert(got.length == 1)
    val r = got.head
    // test_wikimedia_commons.py:253-296 expected record
    assert(r.getAs[Long]("foreign_identifier") == 81754323L)
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://commons.wikimedia.org/w/index.php?curid=81754323")
    assert(r.getAs[String]("url") ==
      "https://upload.wikimedia.org/wikipedia/commons/2/25/20120925_" +
        "PlozevetBretagne_LoneTree_DSC07971_PtrQs.jpg")
    assert(r.getAs[String]("media_type") == "image")
    assert(r.getAs[String]("license") == "by-sa" &&
      r.getAs[String]("license_version") == "4.0")
    assert(r.getAs[String]("license_url") ==
      "https://creativecommons.org/licenses/by-sa/4.0/")
    assert(r.getAs[Long]("width") == 5514 && r.getAs[Long]("height") == 3102)
    assert(r.getAs[String]("creator") == "PtrQs")
    assert(r.getAs[String]("creator_url") ==
      "//commons.wikimedia.org/wiki/User:PtrQs")
    assert(r.getAs[String]("title") ==
      "20120925 PlozevetBretagne LoneTree DSC07971 PtrQs")
    assert(r.getAs[String]("filetype") == "jpg")
    assert(r.getAs[Long]("filesize") == 11863148L)
    assert(r.getAs[String]("provider") == "wikimedia")
    val meta = r.getAs[org.apache.spark.sql.Row]("meta_data")
    assert(meta.getAs[Long]("global_usage_count") == 0L)
    assert(meta.getAs[String]("description") == "SONY DSC")
    assert(meta.getAs[String]("date_originally_created") ==
      "2012-09-25 16:23:02")
    assert(meta.getAs[String]("last_modified_at_source") ==
      "2019-09-01 00:38:47")
    assert(meta.getSeq[String](meta.fieldIndex("categories")) == Seq(
      "Coasts of Plozévet", "No QIC by usr:PtrQs",
      "Photographs taken with Minolta AF Zoom 28-70mm F2.8 G",
      "Self-published work", "Taken with Sony DSLR-A900",
      "Trees in Finistère"))
    assert(meta.isNullAt(meta.fieldIndex("latitude")) &&
      meta.isNullAt(meta.fieldIndex("channels")))
    assert(r.isNullAt(r.fieldIndex("duration")) &&
      r.isNullAt(r.fieldIndex("category")))
  }

  test("wikimedia: artist variants parse like lxml iterlinks/text") {
    import graft.functions.CleanFunctions
    // (fixture, expected creator, expected creator_url) —
    // test_wikimedia_commons.py:327-375
    val cases = Seq(
      ("image_info_artist_string.json", "Artist Name", null),
      ("image_info_artist_link.json", "link text", "https://test.com/linkspot"),
      ("image_info_artist_div.json", "Jona Lendering", null),
      ("image_info_artist_internal_link.json", "NotaRealUser",
        "//commons.wikimedia.org/w/index.php?title=User:NotaRealUser&" +
          "action=edit&redlink=1"),
      ("image_info_artist_partial_link.json", "Jeff & Brian from Eastbourne",
        "https://www.flickr.com/people/16707908@N07"))
    val artistSchema = StructType(Seq(StructField("extmetadata",
      StructType(Seq(StructField("Artist",
        StructType(Seq(StructField("value", StringType)))))))))
    for ((rel, creator, url) <- cases) {
      val r = Seq(fixture(s"wikimedia/$rel")).toDF("value")
        .select(from_json(col("value"), artistSchema)
          .getField("extmetadata").getField("Artist").getField("value")
          .as("a"))
        .select(
          CleanFunctions.htmlTextNodes(col("a"), "").as("creator"),
          CleanFunctions.htmlFirstLink(col("a")).as("creator_url"))
        .collect().head
      assert(r.getAs[String]("creator") == creator, rel)
      assert(r.getAs[String]("creator_url") == url, rel)
    }
  }

  test("wikimedia: title cleanup strips File: and known extensions") {
    // test_wikimedia_commons.py:241-251
    def clean(objectName: Option[String], pageTitle: Option[String]): String =
      Seq((objectName.orNull, pageTitle.orNull)).toDF("o", "t")
        .select(ConcreteProviders.wmCleanTitle(col("o"), col("t")).as("r"))
        .collect().head.getAs[String]("r")
    assert(clean(Some("File:filename.jpg"), None) == "filename")
    assert(clean(None, Some("filename.jpeg")) == "filename")
    assert(clean(Some("No Extension Here"), None) == "No Extension Here")
    assert(clean(Some(".jpg"), None) == ".jpg") // dot at position 0 kept
    assert(clean(Some("a.tar.png"), None) == "a.tar")
    assert(clean(Some("keep.tif"), None) == "keep.tif") // unknown ext kept
  }

  test("wikimedia: html description scraped with internal spacing kept") {
    import graft.functions.CleanFunctions
    val descSchema = StructType(Seq(StructField("imageinfo",
      ArrayType(StructType(Seq(StructField("extmetadata",
        StructType(Seq(StructField("ImageDescription",
          StructType(Seq(StructField("value", StringType)))))))))))))
    val got = Seq(fixture("wikimedia/image_data_html_description.json"))
      .toDF("value")
      .select(element_at(from_json(col("value"), descSchema)
        .getField("imageinfo"), 1)
        .getField("extmetadata").getField("ImageDescription")
        .getField("value").as("d"))
      .select(CleanFunctions.htmlTextNodes(col("d"), " ").as("t"))
      .collect().head.getAs[String]("t")
    // test_wikimedia_commons.py:392-399 — note the DOUBLE space after
    // "Titel(s): " (text node ends with a space, the join adds another)
    assert(got == "Identificatie Titel(s):  Allegorie op kunstenaar " +
      "Francesco Mazzoli, bekend als Parmigianino")
  }

  test("wikimedia: continuation batches merge per page, usage sums") {
    val raws = Seq(
      fixture("wikimedia/continuation/wmc_pretty1.json"),
      fixture("wikimedia/continuation/wmc_pretty2.json"),
      fixture("wikimedia/continuation/wmc_pretty3.json"))
    val merged = ConcreteProviders.wikimediaMergedPages(spark, raws.toDS())
    // expected counts = len(globalusage) in the reference's own merged
    // fixture wmc_pretty123.json (test_wikimedia_commons.py:102-128)
    val expected = Map(
      18263872L -> 1L, 44672185L -> 3L, 44672190L -> 2L, 44672194L -> 2L,
      44672195L -> 2L, 44672196L -> 2L, 44672207L -> 1L, 44672210L -> 0L,
      44672212L -> 16L)
    val got = merged.select("pageid", "global_usage_count")
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
    // single page pair: left carries 3 usages + imageinfo, right none
    val pair = ConcreteProviders.wikimediaMergedPages(spark, Seq(
      wmResponse(fixture("wikimedia/continuation/page_44672185_left.json")),
      wmResponse(fixture("wikimedia/continuation/page_44672185_right.json")))
      .toDS())
    val row = pair.collect().head
    assert(row.getAs[Long]("global_usage_count") == 3L)
    assert(!row.isNullAt(row.fieldIndex("imageinfo")))
  }

  test("wikimedia: audio stream metadata (ogg header, wav fallback)") {
    val metaSchema = StructType(Seq(StructField("metadata", StringType)))
    def fieldsOf(raw: String): org.apache.spark.sql.Row =
      Seq(raw).toDF("value")
        .select(ConcreteProviders.wmAudioStreamFields(
          from_json(col("value"), metaSchema).getField("metadata")).as("f"))
        .select(col("f.*")).collect().head
    // test_wikimedia_commons.py:425-447
    val ogg = fieldsOf(fixture("wikimedia/audio_filedata_ogg.json"))
    assert(ogg.getAs[Long]("sample_rate") == 48000L &&
      ogg.getAs[Long]("bit_rate") == 112000L &&
      ogg.getAs[Long]("channels") == 2L)
    val wavRaw = fixture("wikimedia/audio_filedata_wav.json")
    val wav = fieldsOf(wavRaw)
    assert(wav.getAs[Long]("sample_rate") == 48000L &&
      wav.getAs[Long]("bit_rate") == 768000L &&
      wav.getAs[Long]("channels") == 1L)
    // no audio stream tree at all -> nothing extracted
    val noStreams = fieldsOf(wavRaw.replace("\"audio\"", "\"audioX\""))
    assert(noStreams.isNullAt(0) && noStreams.isNullAt(1) &&
      noStreams.isNullAt(2))
    // bit rate above INT_MAX is nulled (wikimedia_commons.py:374)
    val overflow = fieldsOf(wavRaw.replace("768000", "4294967294"))
    assert(overflow.isNullAt(overflow.fieldIndex("bit_rate")) &&
      overflow.getAs[Long]("sample_rate") == 48000L &&
      overflow.getAs[Long]("channels") == 1L)
  }

  test("wikimedia: audio record through the full pipeline") {
    val oggInfo = fixture("wikimedia/audio_filedata_ogg.json").trim
    val info = s"""{"mediatype": "AUDIO",
      | "extmetadata": {
      |   "LicenseUrl": {"value": "https://creativecommons.org/licenses/by-sa/4.0"},
      |   "ObjectName": {"value": "Pronunciation of example"},
      |   "Categories": {"value": "English pronunciation|Audio files"}},
      | ${oggInfo.stripPrefix("{")}""".stripMargin
    val page = s"""{"pageid": 7, "title": "File:x.ogg",
      | "imageinfo": [$info]}""".stripMargin
    val got = ConcreteProviders.wikimedia(spark,
      Seq(wmResponse(page, "7")).toDS()).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("media_type") == "audio")
    assert(r.getAs[String]("provider") == "wikimedia_audio")
    // duration 2.9 s -> int(2.9 * 1000) = 2900, double math as in Python
    assert(r.getAs[Int]("duration") == 2900)
    assert(r.getAs[Long]("sample_rate") == 48000L &&
      r.getAs[Long]("bit_rate") == 112000L)
    assert(r.getAs[org.apache.spark.sql.Row]("meta_data")
      .getAs[Long]("channels") == 2L)
    assert(r.getAs[String]("category") == "pronunciation")
    assert(r.isNullAt(r.fieldIndex("width")))
  }

  test("wikimedia: invalid mediatype / missing license / no media drop") {
    // test_wikimedia_commons.py:298-301
    val invalid = """{"pageid": 9, "title": "File:v.webm",
      | "imageinfo": [{"mediatype": "VIDEO", "url": "https://x/v.webm",
      |   "extmetadata": {"LicenseUrl":
      |     {"value": "https://creativecommons.org/licenses/by/4.0"}}}]}"""
      .stripMargin
    assert(ConcreteProviders.wikimedia(spark,
      Seq(wmResponse(invalid, "9")).toDS()).count() == 0)
    // page without imageinfo (response_small_with_continue.json)
    val small = fixture("wikimedia/response_small_with_continue.json")
    assert(ConcreteProviders.wikimediaMergedPages(spark,
      Seq(small).toDS()).count() == 1)
    assert(ConcreteProviders.wikimedia(spark, Seq(small).toDS()).count() == 0)
    // license url that maps to nothing drops the record
    val badLic = """{"pageid": 10, "title": "File:b.jpg",
      | "imageinfo": [{"mediatype": "BITMAP", "url": "https://x/b.jpg",
      |   "extmetadata": {"LicenseUrl": {"value": "https://example.com/"}}}]}"""
      .stripMargin
    assert(ConcreteProviders.wikimedia(spark,
      Seq(wmResponse(badLic, "10")).toDS()).count() == 0)
  }

  test("wikimedia: continuation planning + timestamp pair helpers") {
    import ConcreteProviders.{wmAdjustForNextIteration, wmDefaultProps,
      wmTimestampPair, WmReturnProps}
    // test_wikimedia_commons.py:33-37
    assert(wmTimestampPair("2018-01-15") == ("1515974400", "1516060800"))
    val gai = "example||gaicontinue"
    // test_wikimedia_commons.py:480-529 — four token shapes
    assert(wmAdjustForNextIteration(Map.empty, wmDefaultProps, Some(gai)) ==
      (wmDefaultProps, Map("continue" -> "||", "gaicontinue" -> gai)))
    val ii = Map(
      "iicontinue" -> "The_Railway_Chronicle_1844.pdf|20221209222801",
      "gaicontinue" -> "20221209222614|x.pdf",
      "continue" -> "gaicontinue||globalusage")
    assert(wmAdjustForNextIteration(ii, wmDefaultProps, Some(gai)) ==
      (Map("prop" -> WmReturnProps.queryAll,
        "iiprop" -> WmReturnProps.mediaNoMetadata),
        Map("continue" -> "gaicontinue||", "gaicontinue" -> gai)))
    val gu = Map(
      "gucontinue" -> "Samuel_van_Hoogstraten.jpg|wikidatawiki|28903920",
      "gaicontinue" -> "Portland_Street.jpg",
      "continue" -> "gaicontinue||imageinfo")
    assert(wmAdjustForNextIteration(gu, wmDefaultProps, Some(gai)) ==
      (Map("prop" -> WmReturnProps.queryNoPopularity,
        "iiprop" -> WmReturnProps.mediaAll),
        Map("continue" -> "gaicontinue||", "gaicontinue" -> gai)))
    val both = ii ++ gu + ("continue" -> "gaicontinue||")
    assert(wmAdjustForNextIteration(both, wmDefaultProps, Some(gai)) ==
      (Map("prop" -> WmReturnProps.queryNoPopularity,
        "iiprop" -> WmReturnProps.mediaNoMetadata),
        Map("continue" -> "gaicontinue||", "gaicontinue" -> gai)))
  }

  // ---- smithsonian (concrete config: EDAN response shape) -------------

  private def siResponse(rowJson: String): String =
    s"""{"response":{"rowCount":1,"rows":[$rowJson]}}"""

  test("smithsonian: reference actual_record_data -> expected record") {
    val got = ConcreteProviders.smithsonian(spark,
      Seq(siResponse(fixture("smithsonian/actual_record_data.json"))).toDS())
      .collect()
    assert(got.length == 1)
    val r = got.head
    // test_smithsonian.py:609-637 expected_data
    assert(r.getAs[String]("foreign_identifier") ==
      "https://collections.nmnh.si.edu/media/?irn=15814382")
    assert(r.getAs[String]("image_url") ==
      "https://collections.nmnh.si.edu/media/?irn=15814382")
    assert(r.getAs[String]("foreign_landing_url") ==
      "http://n2t.net/ark:/65665/34857ca78-9195-4156-849b-1ec47f7cd1ce")
    assert(r.getAs[String]("title") ==
      "Passerculus sandwichensis nevadensis")
    assert(r.getAs[String]("license") == "cc0" &&
      r.getAs[String]("license_version") == "1.0")
    assert(r.getAs[String]("source") ==
      "smithsonian_national_museum_of_natural_history")
    // creator via priority map: "Collector" (6) is the only known type
    assert(r.getAs[String]("creator") == "Seymour H. Levy")
    assert(r.getAs[Map[String, String]]("meta_data") == Map(
      "unit_code" -> "NMNHBIRDS",
      "data_source" -> "NMNH - Vertebrate Zoology - Birds Division"))
    assert(r.getAs[collection.Seq[String]]("raw_tags") == Seq(
      "1950s", "Animals", "Birds", "United States", "Pinal",
      "North America", "Arizona"))
    assert(r.getAs[String]("provider") == "smithsonian")
  }

  test("smithsonian: sub-provider unit code maps; landing-url gate " +
      "drops; non-CC0 media dropped") {
    // sub_provider_example.json's dnr has NEITHER record_link nor guid:
    // get_record_data returns None for such records
    // (smithsonian.py:153-155, 308-315) — the whole record drops
    val dropped = ConcreteProviders.smithsonian(spark,
      Seq(fixture("smithsonian/sub_provider_example.json")).toDS())
      .collect()
    assert(dropped.isEmpty)
    // with a record_link injected, the SIA unit code maps to its
    // sub-provider source and the image row materializes
    val withLink = fixture("smithsonian/sub_provider_example.json")
      .replace("\"record_ID\": \"siris_arc_291918\",",
        "\"record_ID\": \"siris_arc_291918\",\n      " +
          "\"record_link\": \"https://siarchives.si.edu/x\",")
    assert(withLink != fixture("smithsonian/sub_provider_example.json"))
    val got = ConcreteProviders.smithsonian(spark,
      Seq(withLink).toDS()).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("foreign_identifier") == "SIA-SIA2010-2358")
    assert(r.getAs[String]("source") == "smithsonian_institution_archives")
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://siarchives.si.edu/x")
    // multi-image fan-out + per-image CC0 gate: prepend two media
    // entries (one restricted, one CC0) ahead of the fixture's own
    val base = fixture("smithsonian/actual_record_data.json")
    val extra =
      """"media": [
        {"content": "https://collections.nmnh.si.edu/media/?irn=xx",
         "idsId": "id-restricted", "type": "Images",
         "usage": {"access": "Restricted"}},
        {"content": "https://collections.nmnh.si.edu/media/?irn=yy",
         "idsId": "id-2", "type": "Images",
         "usage": {"access": "CC0"}},"""
    val twoImages = base.replace("\"media\": [", extra)
    assert(twoImages != base)
    val fan = ConcreteProviders.smithsonian(spark,
      Seq(siResponse(twoImages)).toDS()).collect()
    assert(fan.map(_.getAs[String]("foreign_identifier")).sorted.toSeq ==
      Seq("https://collections.nmnh.si.edu/media/?irn=15814382", "id-2"))
    // every fan-out row shares the record-level fields
    assert(fan.forall(_.getAs[String]("creator") == "Seymour H. Levy"))
  }

  test("smithsonian: creator priority ordering, ties join in document " +
      "order, unknown filtered, personal_main fallback") {
    def row(ftNames: String, ixNames: String = "[]"): String =
      s"""{"title":"t","content":{
        "descriptiveNonRepeating":{"record_link":"http://x","unit_code":"SIA",
          "data_source":"d","online_media":{"media":[
            {"content":"http://img","idsId":"i1","type":"Images",
             "usage":{"access":"CC0"}}]}},
        "freetext":{"name":$ftNames,"notes":[]},
        "indexedStructured":{"name":$ixNames}}}"""
    def creatorOf(ft: String, ix: String = "[]"): String =
      ConcreteProviders.smithsonian(spark,
        Seq(siResponse(row(ft, ix))).toDS())
        .collect().head.getAs[String]("creator")
    // higher-priority label wins regardless of order
    assert(creatorOf("""[{"label":"Collector","content":"Low"},
      {"label":"Artist","content":"High"}]""") == "High")
    // ties at the same priority join "a; b and c" in document order
    assert(creatorOf("""[{"label":"Artist","content":"A"},
      {"label":"Photographer","content":"B"},
      {"label":"Creator","content":"C"}]""") == "A; B and C")
    // "unknown" creators are filtered (smithsonian.py:365)
    assert(creatorOf("""[{"label":"Artist","content":"Unknown artist"},
      {"label":"Collector","content":"Real Person"}]""") == "Real Person")
    // no freetext match -> first personal_main indexedStructured name
    assert(creatorOf("""[{"label":"Vendor","content":"Nope"}]""",
      """[{"type":"personal_main","content":"Fallback Name"},
         {"type":"corporate","content":"Org"}]""") == "Fallback Name")
    // plain-string indexedStructured names (the fixture shape) parse
    // to null structs and are skipped, like Python's type(i)==dict
    assert(creatorOf("""[]""", """["Levy, S. H."]""") == null)
  }

  test("smithsonian: description/label-text folding, hash prefixes, " +
      "unit-code set difference, unknown unit code raises") {
    import spark.implicits._
    def row(notes: String): String =
      s"""{"title":"t","content":{
        "descriptiveNonRepeating":{"record_link":"http://x","unit_code":"NPM",
          "data_source":"d","online_media":{"media":[
            {"content":"http://img","idsId":"i1","type":"Images",
             "usage":{"access":"CC0"}}]}},
        "freetext":{"name":[],"notes":$notes},
        "indexedStructured":{}}}"""
    // description_types fold in note order; "Label Text" folds apart;
    // unknown labels skipped (test_smithsonian.py description cases)
    val md = ConcreteProviders.smithsonian(spark, Seq(siResponse(row(
      """[{"label":"Summary","content":"first part"},
         {"label":"Record ID","content":"skipped"},
         {"label":"Description","content":"second part"},
         {"label":"Label Text","content":"the label"}]"""))).toDS())
      .collect().head.getAs[Map[String, String]]("meta_data")
    assert(md("description") == "first part second part")
    assert(md("label_text") == "the label")
    // hash-prefix slicing: 16^2 two-hex-digit prefixes, in order
    val prefixes = ConcreteProviders.smithsonianHashPrefixes(2)
    assert(prefixes.length == 256 && prefixes.head == "00" &&
      prefixes(255) == "ff" && prefixes(17) == "11")
    assert(ConcreteProviders.smithsonianHashPrefixes(1).length == 16)
    // U2 set difference: new codes from the API, outdated in the map
    val (newC, outdated) = ConcreteProviders.smithsonianUnitCodeDiff(
      spark, (ConcreteProviders.smithsonianSubProviders.keys.toSeq
        .filter(_ != "SIA") :+ "BRANDNEW").toDS())
    assert(newC == Seq("BRANDNEW") && outdated == Seq("SIA"))
    // an unknown unit code is a human-intervention stop, not a drop
    val bad = row("[]").replace("\"NPM\"", "\"NOTAUNIT\"")
    val err = intercept[Exception] {
      ConcreteProviders.smithsonian(spark,
        Seq(siResponse(bad)).toDS()).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else (Option(t.getMessage).getOrElse("") + "|") +
        msgs(t.getCause)
    assert(msgs(err).contains("NOTAUNIT"))
  }

  // ---- freesound (concrete) --------------------------------------------
  // Expected values are test_freesound.py's own expectations; the two
  // side-fetch tables stand in for the reference's mocked HEAD
  // (AUDIO_FILE_SIZE=16359) and pack-info GET (("foo", set_url)).

  private val fsPreview =
    "https://freesound.org/data/previews/415/415362_6044691-hq.mp3"
  private val fsPack = "https://freesound.org/apiv2/packs/23434/"

  private def fsBatch(items: String*): String =
    s"""{"count":${items.length},"next":null,"results":[${items.mkString(",")}]}"""

  private def fsSizes(pairs: (String, Long)*) = {
    import spark.implicits._
    pairs.toSeq.toDF("preview_url", "content_length")
  }

  private def fsPacks(rows: (String, String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("pack_url", "pack_id", "pack_name")
  }

  test("freesound: reference audio_data_example -> expected record") {
    val got = ConcreteProviders.freesound(spark,
      Seq(fsBatch(fixture("freesound/audio_data_example.json"))).toDS(),
      fsSizes(fsPreview -> 16359L), fsPacks((fsPack, "foo", fsPack)))
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("foreign_identifier") == 415362L)
    assert(r.getAs[String]("foreign_landing_url") ==
      "https://freesound.org/people/owly-bee/sounds/415362/")
    // main file = the hq-mp3 preview (test_get_audio_files_handles_
    // example_audio_data)
    assert(r.getAs[String]("url") == fsPreview)
    assert(r.getAs[String]("filetype") == "mp3")
    assert(r.getAs[Long]("bit_rate") == 128000L)
    assert(r.getAs[Long]("filesize") == 16359L)
    // int(0.608754 * 1000) truncates
    assert(r.getAs[Long]("duration") == 608L)
    assert(r.getAs[String]("title") == "Ehh disinterested.wav")
    assert(r.getAs[String]("creator") == "owly-bee")
    assert(r.getAs[String]("creator_url") ==
      "https://freesound.org/people/owly-bee/")
    assert(r.getAs[String]("license") == "by" &&
      r.getAs[String]("license_version") == "3.0")
    assert(r.getAs[String]("license_url") ==
      "https://creativecommons.org/licenses/by/3.0/")
    assert(r.getAs[String]("raw_license_url") ==
      "http://creativecommons.org/licenses/by/3.0/")
    // meta_data keeps only truthy fields: avg_rating 0.0, num_ratings 0
    // and geotag null all drop
    val md = r.getAs[Map[String, String]]("meta_data")
    assert(md.keySet == Set("description", "num_downloads", "download"))
    assert(md("num_downloads") == "164")
    assert(md("download") ==
      "https://freesound.org/apiv2/sounds/415362/download/")
    assert(r.getAs[collection.Seq[String]]("raw_tags").toSeq ==
      Seq("eh", "disinterest", "low", "uh", "voice", "uncaring"))
    // audio set from the pack lookup
    val set = r.getAs[org.apache.spark.sql.Row]("audio_set")
    assert(set.getAs[String]("set_foreign_id") == "foo")
    assert(set.getAs[String]("audio_set") == fsPack)
    assert(set.getAs[String]("set_url") == fsPack)
    // the original upload as the auth-gated alt file; kbit -> bit
    val alt = r.getAs[collection.Seq[org.apache.spark.sql.Row]]("alt_files")
    assert(alt.length == 1)
    assert(alt.head.getAs[String]("url") ==
      "https://freesound.org/apiv2/sounds/415362/download/")
    assert(alt.head.getAs[Long]("bit_rate") == 1381000L)
    assert(alt.head.getAs[Long]("sample_rate") == 44100L)
    assert(alt.head.getAs[String]("filetype") == "wav")
    assert(alt.head.getAs[Long]("filesize") == 107592L)
    assert(r.getAs[String]("provider") == "freesound")
  }

  test("freesound: drop gates — id/url/license/previews/failed HEAD") {
    val base = fixture("freesound/audio_data_example.json")
    val sizes = fsSizes(fsPreview -> 16359L)
    val packs = fsPacks((fsPack, "foo", fsPack))
    def count(json: String, ps: org.apache.spark.sql.DataFrame = sizes) =
      ConcreteProviders.freesound(spark, Seq(fsBatch(json)).toDS(), ps,
        packs).count()
    // test_get_record_data_returns_none_when_missing_data
    for (field <- Seq("id", "url", "license"))
      assert(count(base.replace(s""""$field":""", s""""_$field":""")) == 0,
        s"missing $field should drop")
    // missing previews / missing preferred preview
    assert(count(base.replace(""""previews":""", """"_previews":""")) == 0)
    assert(count(base.replace("preview-hq-mp3", "preview-xx-mp3")) == 0)
    // 404ing HEAD (no content-length row) skips the record
    assert(count(base, fsSizes()) == 0)
    // a non-CC license url resolves to nothing and drops
    assert(count(base.replace(
      "http://creativecommons.org/licenses/by/3.0/",
      "https://example.com/my-license/")) == 0)
  }

  test("freesound: pack-info fetch failure keeps record, null set info") {
    // test_handles_failure_to_get_set_info: url survives, id/name null
    val got = ConcreteProviders.freesound(spark,
      Seq(fsBatch(fixture("freesound/audio_data_example.json"))).toDS(),
      fsSizes(fsPreview -> 16359L), fsPacks()).collect()
    assert(got.length == 1)
    val set = got.head.getAs[org.apache.spark.sql.Row]("audio_set")
    assert(set.getAs[String]("set_foreign_id") == null)
    assert(set.getAs[String]("audio_set") == null)
    assert(set.getAs[String]("set_url") == fsPack)
  }

  test("freesound: page fixture yields 6 records; null items filtered; " +
      "distinct side-fetch urls") {
    import org.apache.spark.sql.functions.col
    val page = fixture("freesound/page.json").trim
    // page.json is the raw results list; wrap as the API envelope with
    // interleaved nulls (test_get_audio_pages_* null-item filtering)
    val inner = page.substring(1, page.length - 1)
    val batch = s"""{"count":8,"next":null,"results":[null,$inner,null]}"""
    val raw = Seq(batch).toDS()
    val urls = ConcreteProviders.freesoundPreviewUrls(spark, raw)
    assert(urls.count() == 6)
    val sizes = urls.withColumn("content_length", lit(16359L))
    // lru_cache -> exact distinct: 6 records share 2 packs
    val packUrls = ConcreteProviders.freesoundPackUrls(spark, raw)
    assert(packUrls.count() == 2)
    val got = ConcreteProviders.freesound(spark, raw, sizes, fsPacks())
    assert(got.count() == 6) // test_get_items
    // broadcast joins on both lookup sides
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  // ---- europeana CONCRETE (dated-daily cursor DAG config) --------------

  test("europeana: dated timestamp query matches the reference exactly") {
    // test_europeana.py:29-35 (FROZEN_DATE = 2018-01-15)
    assert(ConcreteProviders.europeanaTimestampQuery("2018-01-15") ==
      "timestamp_created:[2018-01-15T00:00:00Z TO 2018-01-16T00:00:00Z]")
    // day/month/year rollovers go through real calendar arithmetic
    assert(ConcreteProviders.europeanaTimestampQuery("2023-12-31") ==
      "timestamp_created:[2023-12-31T00:00:00Z TO 2024-01-01T00:00:00Z]")
    assert(ConcreteProviders.europeanaTimestampQuery("2024-02-28") ==
      "timestamp_created:[2024-02-28T00:00:00Z TO 2024-02-29T00:00:00Z]")
  }

  test("europeana: base params carry the full request body; cursor " +
      "threads through successors and stops on none") {
    val base = ConcreteProviders.europeanaBaseParams("test_key",
      "2018-01-15")
    // europeana.py:175-195
    assert(base("wskey") == Seq("test_key"))
    assert(base("profile") == Seq("rich"))
    assert(base("reusability") == Seq("open", "restricted"))
    assert(base("sort") ==
      Seq("europeana_id+desc", "timestamp_created+desc"))
    assert(base("rows") == Seq("100") && base("media") == Seq("true"))
    assert(base("qf") ==
      Seq("TYPE:IMAGE", "provider_aggregation_edm_isShownBy:*"))
    assert(base("query") == Seq(
      "timestamp_created:[2018-01-15T00:00:00Z TO 2018-01-16T00:00:00Z]"))
    assert(base("cursor") == Seq("*"))
    // test_get_next_query_params_updates_cursor: only `cursor` moves
    val next = ConcreteProviders.europeanaNextParams(base, Some("c1"))
    assert(next == Some(base.updated("cursor", Seq("c1"))))
    val next2 = ConcreteProviders.europeanaNextParams(next.get, Some("c2"))
    assert(next2 == Some(base.updated("cursor", Seq("c2"))))
    // test_get_should_continue_returns_false: no nextCursor -> stop
    assert(ConcreteProviders.europeanaNextParams(base, None).isEmpty)
  }

  test("europeana: concrete extraction matches the reference record " +
      "through ConcreteProviders") {
    val batch = europeanaBatch(fixture("europeana/image_data_example.json"))
    val got = ConcreteProviders.europeana(spark, Seq(batch).toDS()).collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("foreign_identifier") ==
      "/2022704/lod_oai_bibliotecadigital_jcyl_es_26229_ent1")
    assert(got.head.getAs[String]("license") == "cc0")
  }

  test("europeana: langAware `en` description beats `def` and plain") {
    // test_get_description_with_langaware_en (test_europeana.py:226-236)
    val item = fixture("europeana/image_data_example.json").replaceFirst(
      """"dcDescriptionLangAware":\s*\{""",
      """"dcDescriptionLangAware": {"en": ["First English Description",
        | "Second English Description"],""".stripMargin.replaceAll("\n", ""))
    val got = ConcreteProviders.europeana(spark,
      Seq(europeanaBatch(item)).toDS()).collect()
    assert(got.length == 1)
    assert(got.head.getAs[org.apache.spark.sql.Row]("meta_data")
      .getAs[String]("description") == "First English Description")
  }

  test("europeana: missing edmIsShownAt falls back to guid") {
    // test_get_foreign_landing_url_without_edmIsShownAt
    val item = fixture("europeana/image_data_example.json").replaceFirst(
      """"edmIsShownAt":\s*\[[^\]]*\],""", "")
    assert(item != fixture("europeana/image_data_example.json"))
    val got = ConcreteProviders.europeana(spark,
      Seq(europeanaBatch(item)).toDS()).collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("foreign_landing_url") ==
      "https://www.europeana.eu/item/2022704/lod_oai_bibliotecadigital_" +
        "jcyl_es_26229_ent1?utm_source=api&utm_medium=api&" +
        "utm_campaign=test_key")
  }

  test("europeana: multiple rights entries pick the creativecommons one") {
    // test_get_license_url_with_multiple_license
    val item = fixture("europeana/image_data_example.json").replaceFirst(
      """"rights":\s*\["http://creativecommons.org/publicdomain/zero/1.0/"\]""",
      """"rights": ["http://noncc.org/",
        | "http://creativecommons.org/publicdomain/zero/1.0/"]"""
        .stripMargin.replaceAll("\n", ""))
    val got = ConcreteProviders.europeana(spark,
      Seq(europeanaBatch(item)).toDS()).collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("license") == "cc0" &&
      got.head.getAs[String]("license_version") == "1.0")
  }

  test("europeana: absent country drops from the meta_data JSON " +
      "boundary like the reference's dict") {
    // test_get_meta_data_dict_without_country: the reference filters
    // None values out of the dict; the struct's null field vanishes at
    // the to_json boundary the TSV sink serializes through
    val item = fixture("europeana/image_data_example.json").replaceFirst(
      """"country":\s*\[[^\]]*\],""", "")
    assert(item != fixture("europeana/image_data_example.json"))
    val got = ConcreteProviders.europeana(spark,
      Seq(europeanaBatch(item)).toDS())
      .select(to_json(col("meta_data")).as("j")).collect()
    assert(got.length == 1)
    val j = got.head.getAs[String]("j")
    assert(!j.contains("country"))
    assert(j.contains("\"dataProvider\":" +
      "[\"Biblioteca Digital de Castilla y León\"]"))
    assert(j.contains(
      "\"description\":\"Sello en seco: España artística y monumental.\""))
  }

  // ---- jamendo CONCRETE (offset-paged request config) ------------------

  test("jamendo: base params and offset-increment successors") {
    val base = ConcreteProviders.jamendoBaseParams("jamendo_app_key")
    // jamendo.py:44-56
    assert(base("format") == "json" && base("client_id") == "jamendo_app_key")
    assert(base("include") == "musicinfo licenses stats lyrics")
    assert(base("imagesize") == "200" && base("limit") == "200")
    assert(base("audioformat") == "mp32" && base("offset") == "0")
    // test_get_next_query_params_adds_offset
    assert(ConcreteProviders.jamendoNextParams(
      Map("offset" -> "0"))("offset") == "200")
    // test_get_next_query_params_leaves_other_keys
    val next = ConcreteProviders.jamendoNextParams(
      Map("offset" -> "200", "test" -> "value"))
    assert(next("test") == "value" && next.size == 2 &&
      next("offset") == "400")
  }

  test("jamendo: removeUrlParam matches the reference's full " +
      "parametrized table") {
    // test_remove_param_from_url (test_jamendo.py:34-48)
    val cases = Seq(
      ("", "", ""),
      ("https://example.com?a=1&b=2", "a", "https://example.com?b=2"),
      ("https://example.com?a=1", "a", "https://example.com"),
      ("https://example.com/?a=1", "a", "https://example.com/"),
      ("https://example.com?a=1&a=2&b=3", "a", "https://example.com?b=3"),
      ("https://example.com?a=1&a=2", "a", "https://example.com"),
      ("https://example.com?a=1&b=2", "notexist",
        "https://example.com?a=1&b=2"))
    for ((url, param, expected) <- cases) {
      val got = Seq(url).toDF("u")
        .select(ProviderExtract.removeUrlParam(col("u"), param).as("r"))
        .collect().head.getAs[String]("r")
      assert(got == expected, s"removeUrlParam($url, $param)")
    }
  }

  test("jamendo: addSlashBeforeQuery matches the reference's table") {
    // test_add_trailing_slash (test_jamendo.py:155-172)
    val cases = Seq(
      (null: String, null: String),
      ("", ""),
      ("https://usercontent.jamendo.com?type=album&id=100007&width=300",
        "https://usercontent.jamendo.com/?type=album&id=100007&width=300"),
      ("https://usercontent.jamendo.com/some-other-page/subpage" +
        "?type=album&id=100007&width=300",
        "https://usercontent.jamendo.com/some-other-page/subpage/" +
          "?type=album&id=100007&width=300"))
    for ((url, expected) <- cases) {
      val got = Seq(Option(url)).toDF("u")
        .select(ProviderExtract.addSlashBeforeQuery(col("u")).as("r"))
        .collect().head.getAs[String]("r")
      assert(got == expected, s"addSlashBeforeQuery($url)")
    }
  }

  test("jamendo: concrete extraction matches the reference record " +
      "through ConcreteProviders") {
    val batch =
      s"""{"headers":{"results_count":1},"results":[${fixture("jamendo/audio_data_example.json")}]}"""
    val got = ConcreteProviders.jamendo(spark, Seq(batch).toDS()).collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("foreign_identifier") == "732")
    assert(got.head.getAs[String]("url") ==
      "https://mp3d.jamendo.com/?trackid=732&format=mp32")
  }

  // ---- met CONCRETE (dated, unpaginated listing + per-object GETs) ----

  test("met: dated/undated listing params and the no-pagination stop") {
    // test_metropolitan_museum.py:40-51
    assert(ConcreteProviders.metBaseParams(Some("2022-07-01")) ==
      Map("metadataDate" -> "2022-07-01"))
    assert(ConcreteProviders.metBaseParams(None) == Map.empty)
    // get_should_continue: one listing request only
    assert(ConcreteProviders.metShouldContinue(responseSeen = false))
    assert(!ConcreteProviders.metShouldContinue(responseSeen = true))
    assert(ConcreteProviders.metObjectEndpoint(1027L) ==
      "https://collectionapi.metmuseum.org/public/collection/v1/objects/1027")
  }

  test("met: listing objectIDs explode for the fetch plan; empty and " +
      "malformed listings yield none") {
    // test_get_batch_data's happy_path / empty_dict / None rows
    val ids = ConcreteProviders.metObjectIds(spark, Seq(
      """{"total": 4, "objectIDs": [153, 1578, 465, 546]}""",
      """{}""", """null""").toDS())
      .collect().map(_.getAs[Long]("object_id")).toSeq
    assert(ids == Seq(153L, 1578L, 465L, 546L))
  }

  test("met: concrete extraction fans out through ConcreteProviders") {
    val got = ConcreteProviders.met(spark,
      Seq(fixture("metropolitan_museum_of_art/sample_response.json"))
        .toDS()).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[String]("license") == "cc0"))
  }

  // ---- finnish museums CONCRETE (time-delineated building sweeps) -----

  test("finnish: slice params match the reference's expected body; " +
      "page increments keep the filters") {
    import java.time.Instant
    val start = Instant.parse("2020-04-01T00:00:00Z")
    val end = Instant.parse("2020-04-02T00:00:00Z")
    val base = ConcreteProviders.finnishBaseParams(
      "0/Museovirasto/", start, end)
    // test_build_query_param_default (test_finnish_museums.py:50-76)
    assert(base("filter[]") == Seq(
      "format:\"0/Image/\"",
      "building:\"0/Museovirasto/\"",
      "last_indexed:\"[2020-04-01T00:00:00Z TO 2020-04-02T00:00:00Z]\""))
    assert(base("field[]") == Seq("authors", "buildings", "id",
      "imageRights", "images", "subjects", "title"))
    assert(base("limit") == Seq("100") && base("page") == Seq("1"))
    // test_build_query_param_given: page bumps, filters untouched
    val next = ConcreteProviders.finnishNextParams(
      base.updated("page", Seq("3")))
    assert(next("page") == Seq("4") &&
      next("filter[]") == base("filter[]"))
    // the four swept buildings (finnish_museums.py:46-51)
    assert(ConcreteProviders.finnishBuildings == Seq(
      "0/Suomen kansallismuseo/", "0/Museovirasto/",
      "0/SATMUSEO/", "0/SA-kuva/"))
  }

  test("finnish: concrete extraction matches the reference record " +
      "through ConcreteProviders") {
    val rec = fixture("finnishmuseums/object_complete_example.json")
    val batch =
      s"""{"status":"OK","resultCount":1,"records":[$rec]}"""
    val got = ConcreteProviders.finnish(spark, Seq(batch).toDS()).collect()
    assert(got.nonEmpty)
    assert(got.head.getAs[String]("source") == "finnish_military_museum")
  }

  // ---- remaining providers' CONCRETE request planning ------------------

  test("cleveland/brooklyn/smk: skip- and offset-paged param chains") {
    // cleveland_museum.py:19-28
    val cl = ConcreteProviders.clevelandBaseParams
    assert(cl == Map("cc" -> "1", "has_image" -> "1",
      "limit" -> "1000", "skip" -> "0"))
    assert(ConcreteProviders.clevelandNextParams(cl)("skip") == "1000")
    // brooklyn_museum.py:28-40, 148-156
    val bk = ConcreteProviders.brooklynBaseParams
    assert(bk == Map("has_images" -> "1", "rights_type_permissive" -> "1",
      "limit" -> "35", "offset" -> "0"))
    assert(ConcreteProviders.brooklynNextParams(bk)("offset") == "35")
    assert(ConcreteProviders.brooklynHeaders("k1") == Map("api_key" -> "k1"))
    assert(ConcreteProviders.brooklynObjectEndpoint(1027L) ==
      "https://www.brooklynmuseum.org/api/v2/object/1027")
    // smk.py:32-44
    val smk = ConcreteProviders.smkBaseParams
    assert(smk("keys") == "*" &&
      smk("filters") == "[has_image:true],[public_domain:true]" &&
      smk("rows") == "2000" && smk("lang") == "en")
    assert(ConcreteProviders.smkNextParams(smk)("offset") == "2000")
  }

  test("victoria/nypl/nappy/wordpress: page-numbered param chains") {
    // museum_victoria.py:31-64 — one sweep per license string
    assert(ConcreteProviders.victoriaLicenseList == Seq("public domain",
      "cc by", "cc by-nc", "cc by-nc-sa", "cc by-nc-nd", "cc by-sa"))
    val mv = ConcreteProviders.victoriaBaseParams("cc by")
    assert(mv == Map("hasimages" -> "yes", "perpage" -> "100",
      "imagelicense" -> "cc by", "page" -> "0"))
    assert(ConcreteProviders.victoriaNextParams(mv)("page") == "1")
    // nypl.py:48-76, 89-96
    val ny = ConcreteProviders.nyplBaseParams
    assert(ny == Map("q" -> "CC_0", "field" -> "use_rtxt_s",
      "page" -> "1", "per_page" -> "500"))
    assert(ConcreteProviders.nyplNextParams(ny)("page") == "2")
    assert(ConcreteProviders.nyplHeaders("K") ==
      Map("Authorization" -> "Token token=K"))
    assert(ConcreteProviders.nyplItemEndpoint("uuid-1") ==
      "http://api.repo.nypl.org/api/v1/items/item_details/uuid-1")
    // nappy.py:34-52
    val np = ConcreteProviders.nappyBaseParams
    assert(np == Map("page" -> "1", "per_page" -> "100"))
    assert(ConcreteProviders.nappyNextParams(np)("page") == "2")
    // wordpress.py:58-92 — HEAD-derived page ceiling
    assert(ConcreteProviders.wordpressHeadParams ==
      Map("per_page" -> "100", "_embed" -> "true"))
    assert(ConcreteProviders.wordpressPageParams(3) == Map(
      "format" -> "json", "page" -> "3", "per_page" -> "100",
      "_embed" -> "true"))
    assert(ConcreteProviders.wordpressShouldContinue(3, 5))
    assert(!ConcreteProviders.wordpressShouldContinue(5, 5))
  }

  test("phylopic/stocksnap: build-token and path-segment pagination") {
    // phylopic.py:40-64 — build id pinned, 0-indexed page
    assert(ConcreteProviders.phylopicBaseParams(194L, 0) == Map(
      "build" -> "194", "page" -> "0", "embed_items" -> "true"))
    assert(ConcreteProviders.phylopicShouldContinue(1, 2))
    assert(!ConcreteProviders.phylopicShouldContinue(2, 2))
    // stocksnap.py:24-55 — the page is a path segment
    assert(ConcreteProviders.stocksnapEndpoint(1) ==
      "https://stocksnap.io/api/load-photos/date/desc/1")
    assert(ConcreteProviders.stocksnapEndpoint(7) ==
      "https://stocksnap.io/api/load-photos/date/desc/7")
  }

  test("science museum: year ranges match the reference's 1933 table; " +
      "params and the 50-page ceiling") {
    // test_science_museum.py:66-89
    val expected = Seq((0, 200), (200, 1500), (1500, 1750)) ++
      Seq((1750, 1775), (1775, 1800), (1800, 1825)) ++
      (1825 until 1925 by 10).map(x => (x, x + 10)) ++
      Seq((1925, 1930), (1930, 1933))
    assert(ConcreteProviders.scienceYearRanges(1933) == expected)
    // test_get_query_param_default
    assert(ConcreteProviders.scienceParams((0, 1500), 0) == Map(
      "has_image" -> "1", "image_license" -> "CC", "page[size]" -> "100",
      "page[number]" -> "0", "date[from]" -> "0", "date[to]" -> "1500"))
    assert(ConcreteProviders.scienceParams((1925, 1930), 3)(
      "page[number]") == "3")
    // science_museum.py:259-271: next link present continues, page 50
    // halts even with a next link, missing next link stops
    assert(ConcreteProviders.scienceShouldContinue(hasNextLink = true, 49))
    assert(!ConcreteProviders.scienceShouldContinue(hasNextLink = true, 50))
    assert(!ConcreteProviders.scienceShouldContinue(hasNextLink = false, 3))
  }

  test("rawpixel: HMAC signature matches all seven PREDICTABLE-KEY " +
      "vectors; params re-sign on every page") {
    // test_rawpixel.py:25-56
    val k = "PREDICTABLE-KEY"
    def sig(params: (String, Seq[String])*) =
      ConcreteProviders.rawpixelSignature(k, params.toMap)
    assert(sig() == "j5VDmEme7JqzMkKAxNfjWb6EaVtIpLq4N2QnYIHZvWg")
    assert(sig("foo" -> Seq("bar")) ==
      "ZenXVF0pAhfm9EzlAsvw-REsQ27nQQ5mtxmSu4upmHo")
    assert(sig("foo" -> Seq("bar"), "crimothy" -> Seq("roberts")) ==
      "rSz4Ou1ZZFY57z5Ff7AHxZqwZW_PsgOsN9ksTmpbWIM")
    assert(sig("foo" -> Seq("bar"), "dogs" -> Seq("12")) ==
      "qWEHU7OsSfSFcNsqS9OkHWMDWe_33DBxMR9ULOLrLSw")
    assert(sig("foo" -> Seq("bar"),
      "sentence" -> Seq("to+be+or+not+to+be")) ==
      "aJccI57xaj_pH_xUcD208ZKO_lWne0c2KsjSO15qI-I")
    assert(sig("foo" -> Seq("bar"),
      "sentence" -> Seq("to be or not to be")) ==
      "jbW0P2Oi2LL-BLvRsGAydF7VGlFOvWQFMSbkJFX6LQo")
    assert(sig("foo" -> Seq("bar"),
      "favorites" -> Seq("chocolate", "video games", "cats")) ==
      "FM_kVUym-GonOgfZAeNuswEQLZas3BOOvkTXvax_mTw")
    // test_get_next_query_params_empty/next: page bumps, s recomputed
    // over the unsigned params
    val base = ConcreteProviders.rawpixelBaseParams(k)
    assert((base - "s") == Map("tags" -> Seq("$publicdomain"),
      "page" -> Seq("1"), "pagesize" -> Seq("100")))
    assert(base("s") == Seq(ConcreteProviders.rawpixelSignature(
      k, base - "s")))
    val next = ConcreteProviders.rawpixelNextParams(k, base)
    assert(next("page") == Seq("2"))
    assert(next("s") == Seq(ConcreteProviders.rawpixelSignature(
      k, next - "s")))
    assert(next("s") != base("s"))
  }
}
