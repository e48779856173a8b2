package graft.ingest

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{CleanFunctions, LicenseMap}

/** The CONCRETE provider configurations — Flickr, Wikimedia Commons,
  * Smithsonian and Freesound — parsed from the real API response
  * shapes the reference's own fixture JSON captures, completing the
  * 1:1 mapping from `catalog/dags/providers/provider_api_scripts/`
  * (the others are archetypes in [[ProviderExtract]]; iNaturalist's
  * bulk-CSV path is `graft.inat.Inat`).
  *
  * Architecture note: the reference's per-record Python
  * (`flickr.py:220-339`, `wikimedia_commons.py:300-612`) becomes pure
  * Column pipelines — `from_json` with the response schema, `explode`
  * of the batch array / pages map, then codegen'd normalization. The
  * pagination loops (`page += 1`, continue tokens) are driver-side
  * planning handled by [[IngestPlanner]]; these functions are the
  * stateless many-responses → records extraction, which is the part
  * that runs at data scale.
  */
object ConcreteProviders {

  import org.apache.spark.sql.graftbridge.ColumnBridge

  // =====================================================================
  // Flickr (flickr.py) — `photos.photo` batch array, numeric license
  // ids, largest-available size selection, sub-provider sources.
  // =====================================================================

  /** `flickr.py:31-40` LICENSE_INFO: numeric license id → (license,
    * version), canonical URL derived through the same reverse path map
    * `get_license_info` uses.
    */
  val flickrLicenseInfo: Map[String, (String, String, String)] = {
    val pairs = Map(
      "1" -> ("by-nc-sa", "2.0"), "2" -> ("by-nc", "2.0"),
      "3" -> ("by-nc-nd", "2.0"), "4" -> ("by", "2.0"),
      "5" -> ("by-sa", "2.0"), "6" -> ("by-nd", "2.0"),
      "9" -> ("cc0", "1.0"), "10" -> ("pdm", "1.0"))
    pairs.map { case (id, (l, v)) =>
      val path = LicenseMap.reverseMap
        .collectFirst { case (`l`, `v`, p) => p }
        .getOrElse(sys.error(s"no canonical path for $l/$v"))
      id -> (l, v, s"https://creativecommons.org/$path/")
    }
  }

  /** `provider_details.FLICKR_SUB_PROVIDERS:47-64` — owner NSID → source. */
  val flickrSubProviders: Map[String, String] = Map(
    "24662369@N07" -> "nasa", "35067687@N04" -> "nasa",
    "29988733@N04" -> "nasa", "28634332@N05" -> "nasa",
    "108488366@N07" -> "nasa", "136485307@N06" -> "nasa",
    "61021753@N02" -> "bio_diversity",
    "130608600@N05" -> "spacex",
    "136629440@N06" -> "woc_tech",
    "150408343@N02" -> "valence_romans",
    "138361426@N08" -> "east_riding",
    "98304311@N03" -> "archief_alkmaar",
    "26577438@N06" -> "bib_gulbenkian")

  val flickrPhotoUrlBase = "https://www.flickr.com/photos/"

  /** One photo as the API ships it (`extras` list, flickr.py:154-170).
    * `license` is declared STRING so the parser accepts both the JSON
    * string the API sends and a bare number (flickr.py:286 casts via
    * `str(...)` for the same reason).
    */
  val flickrApiPhotoSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("owner", StringType),
    StructField("ownername", StringType), StructField("title", StringType),
    StructField("license", StringType),
    StructField("description",
      StructType(Seq(StructField("_content", StringType)))),
    StructField("url_l", StringType), StructField("url_m", StringType),
    StructField("url_s", StringType),
    StructField("height_l", LongType), StructField("width_l", LongType),
    StructField("height_m", LongType), StructField("width_m", LongType),
    StructField("height_s", LongType), StructField("width_s", LongType),
    StructField("tags", StringType), StructField("views", StringType),
    StructField("dateupload", StringType),
    StructField("datetaken", StringType),
    StructField("content_type", StringType)))

  val flickrResponseSchema: StructType = StructType(Seq(
    StructField("stat", StringType),
    StructField("photos", StructType(Seq(
      StructField("page", LongType), StructField("pages", LongType),
      StructField("perpage", LongType), StructField("total", StringType),
      StructField("photo", ArrayType(flickrApiPhotoSchema)))))))

  /** `_url_join` (flickr.py:271-272): strip '/' from every part, join
    * with one. Owner is additionally whitespace-stripped (flickr.py:236).
    */
  private def urlJoinPart(c: Column): Column =
    regexp_replace(trim(c), "^/+|/+$", "")

  /** Raw Flickr API responses → normalized records, the Spark image of
    * `FlickrDataIngester.get_batch_data` + `get_record_data`
    * (flickr.py:182-339). Drops: non-"ok" stat batches, unknown license
    * ids, photos with no url_l/m/s, missing id or owner.
    */
  def flickr(spark: SparkSession, rawResponses: Dataset[String],
      maxTagStringLength: Int = 2000,
      maxDescriptionLength: Int = 2000): DataFrame = {
    val licMap = typedlit(flickrLicenseInfo.map { case (k, (l, v, u)) =>
      k -> Seq(l, v, u) })
    val subMap = typedlit(flickrSubProviders)

    val photos = rawResponses.toDF("value")
      .select(from_json(col("value"), flickrResponseSchema).as("r"))
      .filter(col("r.stat") === "ok")
      .select(explode(col("r.photos.photo")).as("p"))
      .select(col("p.*"))

    // _get_largest_image_size (flickr.py:274-282): l, then m, then s
    val sized = photos
      .withColumn("url", coalesce(col("url_l"), col("url_m"), col("url_s")))
      .withColumn("width",
        when(col("url_l").isNotNull, col("width_l"))
          .when(col("url_m").isNotNull, col("width_m"))
          .when(col("url_s").isNotNull, col("width_s")))
      .withColumn("height",
        when(col("url_l").isNotNull, col("height_l"))
          .when(col("url_m").isNotNull, col("height_m"))
          .when(col("url_s").isNotNull, col("height_s")))
      .withColumn("lic", element_at(licMap, col("license")))

    val creatorUrl = concat(
      lit(flickrPhotoUrlBase.stripSuffix("/")), lit("/"),
      urlJoinPart(col("owner")))

    // _create_meta_data_dict (flickr.py:294-311): lxml text-node join
    // with " ", outer strip, truncate; key dropped when absent/blank
    val descText = when(
      trim(coalesce(col("description._content"), lit(""))) =!= "",
      substring(
        CleanFunctions.htmlTextNodes(col("description._content"), " "),
        1, maxDescriptionLength))

    // _create_tags_list (flickr.py:313-324): strip → truncate →
    // whitespace split → set → sort
    val rawTagStr =
      substring(trim(coalesce(col("tags"), lit(""))), 1, maxTagStringLength)
    val rawTags = when(rawTagStr =!= "",
      array_sort(array_distinct(split(rawTagStr, "\\s+"))))

    sized
      .filter(col("lic").isNotNull && col("url").isNotNull &&
        col("id").isNotNull && col("owner").isNotNull)
      .select(
        col("id").as("foreign_identifier"),
        concat(creatorUrl, lit("/"), urlJoinPart(col("id")))
          .as("foreign_landing_url"),
        col("url").as("image_url"),
        element_at(col("lic"), 1).as("license"),
        element_at(col("lic"), 2).as("license_version"),
        element_at(col("lic"), 3).as("license_url"),
        col("width"), col("height"),
        col("ownername").as("creator"),
        creatorUrl.as("creator_url"),
        col("title"),
        map_filter(
          map(lit("pub_date"), col("dateupload"),
            lit("date_taken"), col("datetaken"),
            lit("views"), col("views"),
            lit("description"), descText),
          (_, v) => v.isNotNull).as("meta_data"),
        rawTags.as("raw_tags"),
        coalesce(element_at(subMap, col("owner")), lit("flickr"))
          .as("source"),
        // _get_category (flickr.py:326-339): content_type 0 = photo
        when(col("content_type") === "0", "photograph").as("category"),
        lit("flickr").as("provider"))
  }

  // =====================================================================
  // Wikimedia Commons (wikimedia_commons.py) — MediaWiki `query.pages`
  // map, extmetadata, continuation merge, audio stream metadata.
  // =====================================================================

  private val extValueSchema = StructType(Seq(
    StructField("value", StringType), StructField("source", StringType),
    StructField("hidden", StringType)))

  /** `imageinfo[0]` — `metadata` is declared STRING so the parser
    * captures the heterogeneous name/value tree verbatim for the audio
    * stream walk below.
    */
  val wmInfoSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("descriptionurl", StringType),
    StructField("descriptionshorturl", StringType),
    StructField("user", StringType),
    StructField("size", LongType),
    StructField("width", LongType), StructField("height", LongType),
    StructField("mediatype", StringType),
    StructField("duration", DoubleType),
    StructField("title", StringType),
    StructField("extmetadata", MapType(StringType, extValueSchema)),
    StructField("metadata", StringType)))

  val wmPageSchema: StructType = StructType(Seq(
    StructField("pageid", LongType), StructField("ns", LongType),
    StructField("title", StringType),
    StructField("imageinfo", ArrayType(wmInfoSchema)),
    StructField("globalusage", ArrayType(MapType(StringType, StringType))),
    // extract_geo_data (wikimedia_commons.py:559-571) reads these from
    // the PAGE record (not extmetadata) — mirrored faithfully
    StructField("GPSLatitude", extValueSchema),
    StructField("GPSLongitude", extValueSchema),
    StructField("GPSMapDatum", extValueSchema)))

  val wmResponseSchema: StructType = StructType(Seq(
    StructField("batchcomplete", StringType),
    StructField("continue", MapType(StringType, StringType)),
    StructField("query", StructType(Seq(
      StructField("pages", MapType(StringType, wmPageSchema)))))))

  private val kvSchema = ArrayType(StructType(Seq(
    StructField("name", StringType), StructField("value", StringType))))

  /** `get_value_by_name` (wikimedia_commons.py:431-443) over a raw
    * name/value JSON list: first entry's `value`, captured verbatim
    * (nested lists stay JSON strings for the next parse level).
    */
  private def kvByName(rawKvJson: Column, name: String): Column =
    get(filter(from_json(rawKvJson, kvSchema),
      x => x.getField("name") === name), lit(0)).getField("value")

  /** `get_value_by_names` with the reference's TRUTHINESS semantics
    * (`if val :=` — a 0 value falls through to the next name).
    */
  private def kvFirstTruthy(rawKvJson: Column, names: Seq[String]): Column =
    coalesce(names.map { n =>
      val v = kvByName(rawKvJson, n).cast("long")
      when(v.isNotNull && v =!= 0, v)
    }: _*)

  /** `parse_audio_file_meta_data` (wikimedia_commons.py:382-397):
    * streams (or audio.streams) → first stream's value → header, falling
    * back to the stream kv list itself. Returns the raw kv JSON of the
    * file metadata level.
    */
  def wmAudioFileMeta(metadataRaw: Column): Column = {
    val streamsRaw = {
      val direct = kvByName(metadataRaw, "streams")
      val viaAudio = kvByName(kvByName(metadataRaw, "audio"), "streams")
      when(direct.isNotNull && direct =!= "[]", direct).otherwise(viaAudio)
    }
    val streamsData = get(from_json(streamsRaw, kvSchema), lit(0)).getField("value")
    val header = kvByName(streamsData, "header")
    when(header.isNotNull && header =!= "[]", header).otherwise(streamsData)
  }

  /** Audio technical fields from the raw `metadata` JSON: sample rate,
    * bit rate (nulled above INT_MAX, wikimedia_commons.py:371-374),
    * channels.
    */
  def wmAudioStreamFields(metadataRaw: Column): Column = {
    val fm = wmAudioFileMeta(metadataRaw)
    val bitRate = kvFirstTruthy(fm, Seq("bitrate_nominal", "bitrate"))
    struct(
      kvFirstTruthy(fm, Seq("audio_sample_rate", "sample_rate"))
        .as("sample_rate"),
      when(bitRate <= 2147483647L, bitRate).as("bit_rate"),
      kvFirstTruthy(fm, Seq("audio_channels", "channels")).as("channels"))
  }

  /** extract_title (wikimedia_commons.py:488-501): ObjectName else page
    * title, one leading "File:" removed, a known media extension after
    * the last dot dropped (only when the dot isn't the first char).
    */
  def wmCleanTitle(objectName: Column, pageTitle: Column): Column = {
    val t = coalesce(objectName, pageTitle)
    val noPrefix = regexp_replace(t, "^File:", "")
    regexp_replace(noPrefix, "(?<=.)\\.(?i:png|jpg|jpeg|ogg|wav)$", "")
  }

  /** Raw MediaWiki responses → normalized records — the Spark image of
    * `get_batch_data` + `get_record_data` (wikimedia_commons.py:283-612).
    *
    * Continuation-batch merge (`merge_media_pages`, :644-653): the same
    * pageid recurs across responses with identical media info and
    * complementary `globalusage` slices, so the extraction is a
    * groupBy(pageid) with first-non-null info and a SUM of usage counts
    * (concat-then-len of the reference, distributed). The cross-run
    * popularity-cache max (`extract_global_usage`, :573-591) is the ST7
    * incremental max cache — `streaming.EventStreams.incrementalMaxCache`.
    *
    * Media-type specific record dicts are flattened to one schema:
    * `url` carries image_url/audio_url, with `media_type`
    * discriminating, image/audio-only fields null on the other type.
    */
  /** Parse responses and merge continuation recurrences per page —
    * `get_batch_data` + `merge_media_pages` as one keyed aggregation.
    * Usage count is concat-then-len: SUM of per-response `globalusage`
    * slice sizes.
    */
  def wikimediaMergedPages(spark: SparkSession,
      rawResponses: Dataset[String]): DataFrame =
    rawResponses.toDF("value")
      .select(from_json(col("value"), wmResponseSchema).as("r"))
      .select(explode(map_values(col("r.query.pages"))).as("p"))
      .filter(col("p.pageid").isNotNull)
      .select(col("p.*"))
      .groupBy("pageid").agg(
        first(col("title"), ignoreNulls = true).as("page_title"),
        first(col("imageinfo"), ignoreNulls = true).as("imageinfo"),
        sum(when(col("globalusage").isNotNull, size(col("globalusage")))
          .otherwise(0)).as("global_usage_count"),
        first(col("GPSLatitude.value"), ignoreNulls = true).as("latitude"),
        first(col("GPSLongitude.value"), ignoreNulls = true).as("longitude"),
        first(col("GPSMapDatum.value"), ignoreNulls = true).as("map_datum"))

  def wikimedia(spark: SparkSession, rawResponses: Dataset[String])
      : DataFrame = {
    val merged = wikimediaMergedPages(spark, rawResponses)

    val info = get(col("imageinfo"), lit(0))
    def ext(key: String): Column =
      info.getField("extmetadata").getItem(key).getField("value")

    val withInfo = merged
      .withColumn("media_type",
        when(info.getField("mediatype").isin("BITMAP", "DRAWING"), "image")
          .when(info.getField("mediatype") === "AUDIO", "audio"))
      .withColumn("media_url", info.getField("url"))
      .withColumn("raw_license_url",
        trim(coalesce(ext("LicenseUrl"), lit(""))))

    // get_license_info on the extmetadata URL; unresolved → drop
    // (wikimedia_commons.py:310-312 checks license_info.url is None)
    val licensed = LicenseMap
      .resolve(withInfo, "raw_license_url")
      .filter(col("media_type").isNotNull &&
        col("license").isNotNull && col("media_url").isNotNull)

    val artist = ext("Artist")
    val hasArtist = artist.isNotNull && artist =!= ""
    val audioFields = wmAudioStreamFields(info.getField("metadata"))
    val filetype = {
      val ft = element_at(split(col("media_url"), "\\."), -1)
      when(ft =!= "", ft)
    }
    val categories = split(coalesce(ext("Categories"), lit("")), "\\|")
    val descr = ext("ImageDescription")

    licensed.select(
      col("pageid").as("foreign_identifier"),
      info.getField("descriptionshorturl").as("foreign_landing_url"),
      col("media_type"),
      col("media_url").as("url"),
      col("license"), col("license_version"),
      concat(lit("https://creativecommons.org/"), col("license_path"),
        lit("/")).as("license_url"),
      when(hasArtist, CleanFunctions.htmlTextNodes(artist, "")).as("creator"),
      when(hasArtist, CleanFunctions.htmlFirstLink(artist))
        .as("creator_url"),
      wmCleanTitle(ext("ObjectName"), col("page_title")).as("title"),
      filetype.as("filetype"),
      coalesce(info.getField("size"), lit(0L)).as("filesize"),
      when(col("media_type") === "image", info.getField("width"))
        .as("width"),
      when(col("media_type") === "image", info.getField("height"))
        .as("height"),
      when(col("media_type") === "audio",
        (coalesce(info.getField("duration"), lit(0.0)) * 1000)
          .cast("int")).as("duration"),
      when(col("media_type") === "audio", audioFields.getField("sample_rate"))
        .as("sample_rate"),
      when(col("media_type") === "audio", audioFields.getField("bit_rate"))
        .as("bit_rate"),
      when(col("media_type") === "image",
        when(filetype === "svg", "illustration"))
        .when(col("media_type") === "audio",
          when(exists(categories, c => lower(c).contains("pronunciation")),
            "pronunciation")).as("category"),
      struct(
        col("global_usage_count"),
        ext("DateTimeOriginal").as("date_originally_created"),
        ext("DateTime").as("last_modified_at_source"),
        categories.as("categories"),
        col("latitude"), col("longitude"), col("map_datum"),
        when(descr.isNotNull && descr =!= "",
          CleanFunctions.htmlTextNodes(descr, " ")).as("description"),
        when(col("media_type") === "audio", audioFields.getField("channels"))
          .as("channels")).as("meta_data"),
      when(col("media_type") === "audio", lit("wikimedia_audio"))
        .otherwise("wikimedia").as("provider"))
  }

  // ---------------------------------------------------------------------
  // Driver-side planning for the Wikimedia continuation protocol — pure
  // functions, composed by IngestPlanner's fetch loop.
  // ---------------------------------------------------------------------

  /** `ReturnProps` (wikimedia_commons.py:156-168). */
  object WmReturnProps {
    val queryAll = "imageinfo|globalusage"
    val queryNoPopularity = "imageinfo"
    val mediaAll = "url|user|dimensions|extmetadata|mediatype|size|metadata"
    val mediaNoMetadata = "url|user|dimensions|extmetadata|mediatype|size"
  }

  val wmDefaultProps: Map[String, String] = Map(
    "prop" -> WmReturnProps.queryAll, "iiprop" -> WmReturnProps.mediaAll)

  /** `adjust_parameters_for_next_iteration` (wikimedia_commons.py:399-420):
    * when a sub-property iterator ran away, drop the offending property
    * from the next query and reset the secondary iterator, preserving
    * the primary one. Returns (next props, next continue token).
    */
  def wmAdjustForNextIteration(continueToken: Map[String, String],
      currentProps: Map[String, String], gaicontinue: Option[String])
      : (Map[String, String], Map[String, String]) = {
    var props = currentProps
    if (continueToken.contains("gucontinue"))
      props = props.updated("prop", WmReturnProps.queryNoPopularity)
    if (continueToken.contains("iicontinue"))
      props = props.updated("iiprop", WmReturnProps.mediaNoMetadata)
    val primary = continueToken.getOrElse("continue", "||")
      .split("\\|\\|", -1)(0)
    val nextToken = Map(
      "continue" -> s"$primary||") ++
      gaicontinue.map("gaicontinue" -> _)
    (props, nextToken)
  }

  /** `derive_timestamp_pair` (wikimedia_commons.py:655-664): a
    * YYYY-MM-DD date as a UTC [start, end) epoch-second pair.
    */
  def wmTimestampPair(date: String): (String, String) = {
    val d = java.time.LocalDate.parse(date)
    val start = d.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    (start.toString, (start + 86400L).toString)
  }

  // =====================================================================
  // Smithsonian (smithsonian.py) — EDAN `response.rows` batches, CC0
  // only, multi-image fan-out per record, unit-code sub-providers,
  // priority-ordered creator selection, hash-prefix slicing.
  // =====================================================================

  /** `provider_details.SMITHSONIAN_SUB_PROVIDERS:71-117` — source →
    * unit codes, inverted here to unit code → source (the lookup
    * `_extract_source` performs per record).
    */
  val smithsonianSubProviders: Map[String, String] = Map(
    "smithsonian_national_museum_of_natural_history" -> Seq(
      "NMNHANTHRO", "NMNHBIRDS", "NMNHBOTANY", "NMNHEDUCATION",
      "NMNHENTO", "NMNHFISHES", "NMNHHERPS", "NMNHINV", "NMNHMAMMALS",
      "NMNHMINSCI", "NMNHPALEO"),
    "smithsonian_anacostia_museum" -> Seq("ACM"),
    "smithsonian_cooper_hewitt_museum" -> Seq("CHNDM"),
    "smithsonian_field_book_project" -> Seq("FBR"),
    "smithsonian_freer_gallery_of_art" -> Seq("FSG"),
    "smithsonian_gardens" -> Seq("HAC", "OFEO-SG"),
    "smithsonian_hirshhorn_museum" -> Seq("HMSG"),
    "smithsonian_air_and_space_museum" -> Seq("NASM"),
    "smithsonian_african_american_history_museum" -> Seq("NMAAHC"),
    "smithsonian_american_history_museum" -> Seq("NMAH"),
    "smithsonian_american_indian_museum" -> Seq("NMAI"),
    "smithsonian_african_art_museum" -> Seq("NMAfA"),
    "smithsonian_portrait_gallery" -> Seq("NPG"),
    "smithsonian_postal_museum" -> Seq("NPM"),
    "smithsonian_zoo_and_conservation" -> Seq("NZP"),
    "smithsonian_american_art_museum" -> Seq("SAAM"),
    "smithsonian_institution_archives" -> Seq("SIA"),
    "smithsonian_libraries" -> Seq("SIL")
  ).flatMap { case (src, codes) => codes.map(_ -> src) }

  /** `smithsonian.py:34-47` description_types — note labels folded
    * into `meta_data.description`.
    */
  val smithsonianDescriptionTypes: Set[String] = Set(
    "description", "summary", "caption", "notes",
    "description (brief)", "description (spanish)",
    "description (brief spanish)", "gallery label", "exhibition label",
    "luce center label", "publication label", "new acquisition label")

  /** `smithsonian.py:52-105` creator_types — label → preference
    * (lower wins; ties keep document order, Python sorted is stable).
    */
  val smithsonianCreatorTypes: Map[String, Int] = Map(
    "artist" -> 0, "artist/maker" -> 0, "attributed to" -> 0,
    "author" -> 0, "created_by" -> 0, "creator" -> 0, "created by" -> 0,
    "model maker" -> 0, "modeler" -> 0, "photographer" -> 0,
    "photograph by" -> 0, "written by" -> 0,
    "architect" -> 1, "designer" -> 1, "designed by" -> 1,
    "illustrator" -> 1, "illustrated by" -> 1, "cartoonist" -> 1,
    "weaver" -> 1, "composer" -> 1, "composed by" -> 1,
    "embroiderer" -> 1, "landscape architect" -> 1, "calligrapher" -> 1,
    "sculptor" -> 1, "jeweler" -> 1, "potter" -> 1, "ceramist" -> 1,
    "compiled by" -> 2, "engraver" -> 2, "etcher" -> 2, "maker" -> 2,
    "silversmith" -> 2, "producer" -> 2, "produced by" -> 2,
    "metal worker" -> 2, "carver" -> 2, "cartographer" -> 2,
    "print maker" -> 3, "painter" -> 3, "after" -> 3, "inventor" -> 3,
    "lithographer" -> 3, "attribution" -> 3, "former attribution" -> 3,
    "manufactured by" -> 4, "manufacturer" -> 4, "published by" -> 4,
    "publisher" -> 4, "editor" -> 4,
    "patentee" -> 5, "collector" -> 6)

  private val siLabeledSchema = ArrayType(StructType(Seq(
    StructField("label", StringType), StructField("content", StringType))))

  val siMediaSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("content", StringType), StructField("idsId", StringType),
    StructField("thumbnail", StringType), StructField("type", StringType),
    StructField("usage", StructType(Seq(
      StructField("access", StringType)))))))

  /** One EDAN row (`content` + top-level `title`). indexedStructured
    * `name` is declared as the PERSONAL_MAIN struct list the creator
    * fallback consumes — responses shipping plain strings there parse
    * to null, which is exactly `type(i) == dict` filtering them out
    * (smithsonian.py:371-377).
    */
  val smithsonianRowSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("content", StructType(Seq(
      StructField("descriptiveNonRepeating", StructType(Seq(
        StructField("record_link", StringType),
        StructField("guid", StringType),
        StructField("record_ID", StringType),
        StructField("unit_code", StringType),
        StructField("data_source", StringType),
        StructField("online_media", StructType(Seq(
          StructField("media", siMediaSchema))))))),
      StructField("freetext", StructType(Seq(
        StructField("notes", siLabeledSchema),
        StructField("name", siLabeledSchema)))),
      StructField("indexedStructured", StructType(Seq(
        StructField("name", ArrayType(StructType(Seq(
          StructField("type", StringType),
          StructField("content", StringType))))),
        StructField("date", ArrayType(StringType)),
        StructField("object_type", ArrayType(StringType)),
        StructField("topic", ArrayType(StringType)),
        StructField("place", ArrayType(StringType))))))))))

  val smithsonianResponseSchema: StructType = StructType(Seq(
    StructField("response", StructType(Seq(
      StructField("rowCount", LongType),
      StructField("rows", ArrayType(smithsonianRowSchema)))))))

  /** Raw EDAN search responses → normalized image records, the Spark
    * image of `SmithsonianDataIngester.get_record_data` +
    * `_get_associated_images` (smithsonian.py:148-306): one record
    * fans out to one row PER CC0 image in its media list (the richest
    * multi-record fan-out of the provider family), sharing the
    * record-level fields. Drops: records with no landing url
    * (record_link, then guid), media entries that are not
    * type=Images/usage=CC0 or lack content/idsId. All records are CC0
    * (the query itself filters `media_usage:CC0`,
    * smithsonian.py:120-124). An unknown unit code raises — the
    * reference treats it as a human-intervention stop
    * (`_extract_source:344-351`), not a droppable row.
    */
  def smithsonian(spark: SparkSession, rawResponses: Dataset[String])
      : DataFrame = {
    val subMap = typedlit(smithsonianSubProviders)
    val prioMap = typedlit(smithsonianCreatorTypes)
    val descSet = typedlit(smithsonianDescriptionTypes.toSeq)

    val rows = rawResponses.toDF("value")
      .select(from_json(col("value"), smithsonianResponseSchema).as("r"))
      .select(explode(col("r.response.rows")).as("row"))
      .select(col("row.title").as("title"),
        col("row.content.descriptiveNonRepeating").as("dnr"),
        col("row.content.freetext").as("ft"),
        col("row.content.indexedStructured").as("ix"))
      .withColumn("foreign_landing_url",
        coalesce(col("dnr.record_link"), col("dnr.guid")))
      .filter(col("foreign_landing_url").isNotNull &&
        size(coalesce(col("dnr.online_media.media"),
          array().cast(siMediaSchema))) > 0)

    // _extract_meta_data (smithsonian.py:317-342): description/label
    // text accumulate in NOTE ORDER with a leading space each, outer
    // strip — concat_ws over the filtered note list is the same fold
    val noteLabel = (n: Column) => lower(trim(n.getField("label")))
    val noteText = (kind: String) => {
      val matches = filter(coalesce(col("ft.notes"), array().cast(siLabeledSchema)),
        n => if (kind == "desc") array_contains(descSet, noteLabel(n))
             else noteLabel(n) === "label text")
      val joined = concat_ws(" ",
        transform(matches, n => coalesce(n.getField("content"), lit(""))))
      when(trim(joined) =!= "", trim(joined))
    }

    // _get_creator (smithsonian.py:353-404): keep freetext names whose
    // label is a known creator type with non-empty content not
    // containing "unknown"; all entries tying at the best priority
    // join "a; b and c" in document order; fallback = first
    // personal_main indexedStructured name
    val ftNames = filter(coalesce(col("ft.name"), array().cast(siLabeledSchema)),
      n => element_at(prioMap, lower(coalesce(n.getField("label"), lit("")))).isNotNull &&
        coalesce(n.getField("content"), lit("")) =!= "" &&
        !lower(n.getField("content")).contains("unknown"))
    val bestPrio = array_min(transform(ftNames,
      n => element_at(prioMap, lower(n.getField("label")))))
    val topCreators = transform(
      filter(ftNames, n =>
        element_at(prioMap, lower(n.getField("label"))) === bestPrio),
      n => n.getField("content"))
    val joinedCreator = when(size(topCreators) > 1,
        concat(array_join(slice(topCreators, lit(1),
            size(topCreators) - 1), "; "),
          lit(" and "), element_at(topCreators, -1)))
      .when(size(topCreators) === 1, element_at(topCreators, 1))
    val isCreator = filter(
      coalesce(col("ix.name"),
        array().cast(ArrayType(StructType(Seq(
          StructField("type", StringType),
          StructField("content", StringType)))))),
      n => lower(coalesce(n.getField("type"), lit(""))) === "personal_main" &&
        coalesce(n.getField("content"), lit("")) =!= "")
    val creator = coalesce(joinedCreator,
      element_at(transform(isCreator, n => n.getField("content")), 1))

    // _extract_tags (smithsonian.py:406-412): date + object_type +
    // topic + place, truthy entries, document order
    val tags = filter(
      concat(Seq("date", "object_type", "topic", "place").map(k =>
        coalesce(col(s"ix.$k"), array().cast(ArrayType(StringType)))): _*),
      t => t.isNotNull && t =!= "")

    val source = coalesce(element_at(subMap, trim(col("dnr.unit_code"))),
      ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.RaiseError(
        ColumnBridge.expression(concat(
          lit("An unknown unit code value "), col("dnr.unit_code"),
          lit(" encountered "))))))

    rows
      .withColumn("img", explode(col("dnr.online_media.media")))
      .filter(col("img.type") === "Images" &&
        col("img.usage.access") === "CC0" &&
        col("img.content").isNotNull && col("img.idsId").isNotNull)
      .select(
        col("img.idsId").as("foreign_identifier"),
        col("foreign_landing_url"),
        col("img.content").as("image_url"),
        lit("cc0").as("license"),
        lit("1.0").as("license_version"),
        lit("https://creativecommons.org/publicdomain/zero/1.0/")
          .as("license_url"),
        col("title"),
        creator.as("creator"),
        map_filter(
          map(lit("unit_code"), col("dnr.unit_code"),
            lit("data_source"), col("dnr.data_source"),
            lit("description"), noteText("desc"),
            lit("label_text"), noteText("label")),
          (_, v) => v.isNotNull).as("meta_data"),
        tags.as("raw_tags"),
        source.as("source"),
        lit("smithsonian").as("provider"))
  }

  /** `_get_hash_prefixes` (smithsonian.py:234-239): the full EDAN
    * corpus sliced into 16^n hash-prefix sub-queries — the driver-side
    * partitioning IngestPlanner schedules as independent slices.
    */
  def smithsonianHashPrefixes(prefixLength: Int = 2): Seq[String] = {
    val fmt = s"%0${prefixLength}x"
    (0 to Integer.parseInt("f" * prefixLength, 16)).map(fmt.format(_))
  }

  /** `_get_new_and_outdated_unit_codes` (smithsonian.py:189-198) — U2
    * set difference both ways: codes the API now serves that the
    * sub-provider map lacks, and mapped codes the API no longer
    * serves. Non-empty either way = the human-intervention stop
    * `validate_unit_codes_from_api` raises.
    */
  def smithsonianUnitCodeDiff(spark: SparkSession,
      apiUnitCodes: Dataset[String]): (Seq[String], Seq[String]) = {
    import spark.implicits._
    val current = smithsonianSubProviders.keys.toSeq.toDS()
    val api = apiUnitCodes.distinct()
    val newCodes = api.except(current).collect().toSeq.sorted
    val outdated = current.except(api).collect().toSeq.sorted
    (newCodes, outdated)
  }

  // =====================================================================
  // Freesound (freesound.py) — page-numbered audio search batches with
  // TWO per-record side fetches in the reference (a HEAD for the
  // preview's content-length, freesound.py:168-186, and a pack-info
  // GET behind an lru_cache, freesound.py:142-166). Spark-first those
  // become explicit lookup tables: collect the DISTINCT urls with
  // [[freesoundPreviewUrls]]/[[freesoundPackUrls]], fetch them once
  // with [[Fetcher]] (which owns the reference's flaky-exception
  // retry, freesound.py:167-171), and broadcast-join the results —
  // exact global dedup instead of a 1024-entry per-process cache, and
  // no blocking HTTP inside the record loop.
  // =====================================================================

  /** `FreesoundDataIngester.preview_bitrates` (freesound.py:39-44). */
  val freesoundPreviewBitrates: Map[String, Long] = Map(
    "preview-hq-mp3" -> 128000L, "preview-lq-mp3" -> 64000L,
    "preview-hq-ogg" -> 192000L, "preview-lq-ogg" -> 80000L)

  /** `preferred_preview` (freesound.py:38). */
  val freesoundPreferredPreview: String = "preview-hq-mp3"

  /** Requested `fields` list (freesound.py:71-93); `geotag` is a
    * "lat lon" string when present.
    */
  val freesoundResultSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("url", StringType),
    StructField("name", StringType),
    StructField("tags", ArrayType(StringType)),
    StructField("description", StringType),
    StructField("created", StringType),
    StructField("license", StringType),
    StructField("type", StringType),
    StructField("download", StringType),
    StructField("filesize", LongType),
    StructField("bitrate", LongType),
    StructField("bitdepth", LongType),
    StructField("duration", DoubleType),
    StructField("samplerate", DoubleType),
    StructField("pack", StringType),
    StructField("username", StringType),
    StructField("num_downloads", LongType),
    StructField("avg_rating", DoubleType),
    StructField("num_ratings", LongType),
    StructField("geotag", StringType),
    StructField("previews", StructType(
      freesoundPreviewBitrates.keys.toSeq.sorted
        .map(StructField(_, StringType))))))

  val freesoundBatchSchema: StructType = StructType(Seq(
    StructField("count", LongType),
    StructField("next", StringType),
    StructField("results", ArrayType(freesoundResultSchema))))

  private def freesoundItems(rawResponses: Dataset[String]): DataFrame =
    rawResponses.toDF("value")
      .select(from_json(col("value"), freesoundBatchSchema).as("b"))
      .select(explode(col("b.results")).as("t"))
      // the API sometimes returns literal-null items; get_batch_data
      // filters them (freesound.py:102-106)
      .filter(col("t").isNotNull)

  /** Distinct preferred-preview urls that need a content-length HEAD —
    * the fetch-stage input replacing the reference's per-record
    * `_get_audio_file_size` (freesound.py:168-186). One column
    * `preview_url`.
    */
  def freesoundPreviewUrls(spark: SparkSession,
      rawResponses: Dataset[String]): DataFrame =
    freesoundItems(rawResponses)
      .select(col("t.previews").getField(freesoundPreferredPreview)
        .as("preview_url"))
      .filter(col("preview_url").isNotNull).distinct()

  /** Distinct pack urls that need an info GET — replaces the
    * lru_cache'd `_get_set_info` (freesound.py:142-156). One column
    * `pack_url`.
    */
  def freesoundPackUrls(spark: SparkSession,
      rawResponses: Dataset[String]): DataFrame =
    freesoundItems(rawResponses)
      .select(col("t.pack").as("pack_url"))
      .filter(col("pack_url").isNotNull).distinct()

  /** Raw search responses → normalized audio records, the Spark image
    * of `FreesoundDataIngester.get_record_data` (freesound.py:225-283).
    *
    * @param previewSizes `(preview_url, content_length)` HEAD results;
    *   records whose preview is missing here are dropped, matching the
    *   reference's skip-on-404 (freesound.py:199-204) — so a row per
    *   SUCCESSFUL head only.
    * @param packInfo `(pack_url, pack_id, pack_name)` pack-endpoint
    *   results; missing rows keep the record with null set id/name but
    *   the url intact, matching `_get_set_info`'s RetriesExceeded
    *   fallback (freesound.py:152-156).
    *
    * Drops (freesound.py:225-257): null landing url or id,
    * unresolvable license, no previews / no preferred preview, no
    * content-length. duration seconds→ms truncates like Python
    * `int()`. meta_data keeps only TRUTHY values (0 / 0.0 / "" drop —
    * `_get_metadata`'s walrus filter, freesound.py:118-132).
    */
  def freesound(spark: SparkSession, rawResponses: Dataset[String],
      previewSizes: DataFrame, packInfo: DataFrame): DataFrame = {
    val t = freesoundItems(rawResponses)
    val previewUrl =
      col("t.previews").getField(freesoundPreferredPreview)

    val creator =
      when(coalesce(col("t.username"), lit("")) =!= "",
        trim(col("t.username")))
    val metaVal = (c: Column) => c.cast(StringType)
    val truthyNum = (c: Column) =>
      when(c.isNotNull && c =!= 0, metaVal(c))
    val meta = map_filter(map(
      lit("description"), nullif(col("t.description"), lit("")),
      lit("num_downloads"), truthyNum(col("t.num_downloads")),
      lit("avg_rating"), truthyNum(col("t.avg_rating")),
      lit("num_ratings"), truthyNum(col("t.num_ratings")),
      lit("geotag"), nullif(col("t.geotag"), lit("")),
      lit("download"), nullif(col("t.download"), lit(""))),
      (_, v) => v.isNotNull)
    // the original upload rides as the auth-gated alt file
    // (freesound.py:205-215); bitrate arrives in kbit
    val altFiles = array(struct(
      col("t.download").as("url"),
      (col("t.bitrate") * 1000L).as("bit_rate"),
      col("t.samplerate").cast(LongType).as("sample_rate"),
      col("t.type").as("filetype"),
      col("t.filesize").as("filesize")))

    val rec = t
      // Python truthiness: "" and 0 drop like None (freesound.py:227-233)
      .filter(coalesce(col("t.url"), lit("")) =!= "" &&
        coalesce(col("t.id"), lit(0L)) =!= 0L)
      .withColumn("url", previewUrl)
      .filter(col("url").isNotNull)
      // inner broadcast join = skip-on-failed-HEAD
      .join(broadcast(previewSizes.withColumnRenamed("content_length",
        "filesize")), col("url") === col("preview_url"))
      .join(broadcast(packInfo), col("t.pack") === col("pack_url"),
        "left")
      .select(
        col("t.id").as("foreign_identifier"),
        col("t.url").as("foreign_landing_url"),
        col("url"),
        lit(freesoundPreferredPreview.split("-").last).as("filetype"),
        lit(freesoundPreviewBitrates(freesoundPreferredPreview))
          .as("bit_rate"),
        col("filesize"),
        floor(col("t.duration") * 1000).cast(LongType).as("duration"),
        col("t.name").as("title"),
        creator.as("creator"),
        when(creator.isNotNull, concat(
          lit("https://freesound.org/people/"), creator, lit("/")))
          .as("creator_url"),
        col("t.license").as("raw_license_url"),
        meta.as("meta_data"),
        col("t.tags").as("raw_tags"),
        struct(
          col("pack_id").as("set_foreign_id"),
          col("pack_name").as("audio_set"),
          col("t.pack").as("set_url")).as("audio_set"),
        altFiles.as("alt_files"),
        lit("freesound").as("provider"))

    LicenseMap.resolve(rec, "raw_license_url")
      .withColumn("license_url",
        when(col("license").isNotNull, concat(
          lit("https://creativecommons.org/"), col("license_path"),
          lit("/"))))
      .drop("license_path")
      .filter(col("license").isNotNull)
  }

  // =====================================================================
  // Europeana (europeana.py) — the dated-daily cursor DAG: each run
  // covers one [date, date+1day) `timestamp_created` window, paging via
  // the response's `nextCursor`. The record mapping itself is the
  // cursor archetype [[ProviderExtract.europeanaish]], which mirrors
  // `EuropeanaRecordBuilder` field-exactly (golden-pinned against the
  // reference's own fixtures and test_europeana.py's expected record);
  // this section adds the CONCRETE request planning the DAG needs: the
  // timestamp query param, the full base request body, and the
  // cursor-threading successor params.
  // =====================================================================

  /** The one-day `timestamp_created` range filter of a dated run —
    * `EuropeanaDataIngester._get_timestamp_query_param`
    * (europeana.py:198-208): `date` (YYYY-MM-DD) as a UTC [start,
    * start+1day) ISO-instant pair with the `+00:00` suffix folded to
    * `Z` (test_europeana.py:29-35 pins the exact string).
    */
  def europeanaTimestampQuery(date: String): String = {
    val d = java.time.LocalDate.parse(date)
    def z(x: java.time.LocalDate) = s"${x}T00:00:00Z"
    s"timestamp_created:[${z(d)} TO ${z(d.plusDays(1))}]"
  }

  /** `base_request_body` (europeana.py:175-195): the first request's
    * params — rich profile, open+restricted reusability, stable sort,
    * media-only IMAGE hits with a populated isShownBy, the dated
    * window from [[europeanaTimestampQuery]], and the `*` start
    * cursor. Values are param→occurrences (reusability/sort/qf are
    * repeated query params).
    */
  def europeanaBaseParams(apiKey: String, date: String,
      batchLimit: Int = 100): Map[String, Seq[String]] = Map(
    "wskey" -> Seq(apiKey),
    "profile" -> Seq("rich"),
    "reusability" -> Seq("open", "restricted"),
    "sort" -> Seq("europeana_id+desc", "timestamp_created+desc"),
    "rows" -> Seq(batchLimit.toString),
    "media" -> Seq("true"),
    "start" -> Seq("1"),
    "qf" -> Seq("TYPE:IMAGE", "provider_aggregation_edm_isShownBy:*"),
    "query" -> Seq(europeanaTimestampQuery(date)),
    "cursor" -> Seq("*"))

  /** `get_next_query_params` + `get_should_continue`
    * (europeana.py:210-226) folded into one step: thread the
    * response's `nextCursor` (surfaced per batch by
    * [[ProviderExtract.europeanaNextCursors]]) into the successor
    * request, or stop when the API returned none.
    */
  def europeanaNextParams(prev: Map[String, Seq[String]],
      nextCursor: Option[String]): Option[Map[String, Seq[String]]] =
    nextCursor.map(c => prev.updated("cursor", Seq(c)))

  /** Raw Europeana search responses → normalized image records. The
    * field mapping is exactly [[ProviderExtract.europeanaish]] (the
    * archetype IS Europeana's concrete record builder — see the
    * golden spec for the fixture-pinned contract); exposed here so
    * the concrete provider surface is uniform.
    */
  def europeana(spark: SparkSession,
      rawResponses: Dataset[String]): DataFrame =
    ProviderExtract.europeanaish(spark, rawResponses)

  // =====================================================================
  // Jamendo (jamendo.py) — offset-paged audio tracks. The record
  // mapping is the offset archetype [[ProviderExtract.jamendoish]]
  // (golden-pinned against the reference's audio_data_example fixture
  // and test_jamendo.py's expected record, including the audio-set
  // subrecord, secret-param strip, photon slash, slugged set URL and
  // ranked tag assembly); this section adds the CONCRETE request
  // planning: the default param set and the offset-increment
  // successor.
  // =====================================================================

  /** `JamendoDataIngester.batch_limit` (jamendo.py:37). */
  val jamendoBatchLimit: Int = 200

  /** First-request params (jamendo.py:44-56). */
  def jamendoBaseParams(clientId: String): Map[String, String] = Map(
    "format" -> "json",
    "client_id" -> clientId,
    "include" -> "musicinfo licenses stats lyrics",
    "imagesize" -> "200",
    "limit" -> jamendoBatchLimit.toString,
    "audioformat" -> "mp32",
    "offset" -> "0")

  /** Successor params (jamendo.py:57-61): bump `offset` by the batch
    * limit, keep every other key untouched.
    */
  def jamendoNextParams(prev: Map[String, String]): Map[String, String] =
    prev.updated("offset",
      (prev("offset").toInt + jamendoBatchLimit).toString)

  /** Raw Jamendo track batches → normalized audio records — the
    * field mapping is exactly [[ProviderExtract.jamendoish]].
    */
  def jamendo(spark: SparkSession,
      rawResponses: Dataset[String]): DataFrame =
    ProviderExtract.jamendoish(spark, rawResponses)

  // =====================================================================
  // Metropolitan Museum (metropolitan_museum.py) — a dated DAG with NO
  // pagination: one listing request (optionally filtered by
  // `metadataDate`) returns every object ID, then each object document
  // is fetched individually. The record mapping (CC0 gate, multi-image
  // fan-out, accession-number meta, 9-field + term tag assembly) is
  // the archetype [[ProviderExtract.metish]], fixture-golden-tested;
  // this section adds the request planning.
  // =====================================================================

  val metEndpoint =
    "https://collectionapi.metmuseum.org/public/collection/v1/objects"

  /** `self.query_param` (metropolitan_museum.py:52-57): dated runs
    * filter the listing by `metadataDate`; undated runs send no params
    * (the full collection). `get_next_query_params` always returns
    * this same value — combined with [[metShouldContinue]] that means
    * exactly ONE listing request per run.
    */
  def metBaseParams(date: Option[String]): Map[String, String] =
    date.map(d => Map("metadataDate" -> d)).getOrElse(Map.empty)

  /** `get_should_continue` (metropolitan_museum.py:129-133): the
    * listing has no pagination — stop after the first response.
    */
  def metShouldContinue(responseSeen: Boolean): Boolean = !responseSeen

  /** Per-object detail endpoint (metropolitan_museum.py:81-84). */
  def metObjectEndpoint(objectId: Long): String = s"$metEndpoint/$objectId"

  /** `get_batch_data` (metropolitan_museum.py:68-78): the listing
    * response's objectIDs, exploded one per row for the fetch plan
    * (each becomes a [[metObjectEndpoint]] GET).
    */
  def metObjectIds(spark: SparkSession,
      listingResponses: Dataset[String]): DataFrame =
    listingResponses.toDF("value")
      .select(from_json(col("value"), StructType(Seq(
        StructField("total", LongType),
        StructField("objectIDs", ArrayType(LongType))))).as("b"))
      .select(explode(col("b.objectIDs")).as("object_id"))

  /** Raw per-object documents → normalized image records — the field
    * mapping is exactly [[ProviderExtract.metish]].
    */
  def met(spark: SparkSession,
      rawObjects: Dataset[String]): DataFrame =
    ProviderExtract.metish(spark, rawObjects)

  // =====================================================================
  // Finnish Museums (finnish_museums.py) — the time-delineated dated
  // DAG: per-building sweeps over a one-day `last_indexed` window,
  // page-numbered within a slice, with the day subdivided into equal
  // timestamp slices when a building's count crosses the thresholds
  // (driver-side planning owned by [[IngestPlanner]]; the thresholds
  // are pinned here). The record mapping (status gate, deed-suffix
  // license normalization, author-name-key creator join, building
  // sub-provider attribution, multi-image fan-out) is the archetype
  // [[ProviderExtract.finnishish]], fixture-golden-tested.
  // =====================================================================

  /** `FinnishMuseumsDataIngester.buildings` (finnish_museums.py:46-51). */
  val finnishBuildings: Seq[String] = Seq(
    "0/Suomen kansallismuseo/", "0/Museovirasto/",
    "0/SATMUSEO/", "0/SA-kuva/")

  /** Slicing thresholds (finnish_museums.py:52-55), consumed by the
    * ingest planner's adaptive time slicing: a (building, window)
    * count past `maxRecords` forces subdivision, `divisionThreshold`
    * switches from `minDivisions` to `maxDivisions` equal slices.
    */
  val finnishBatchLimit = 100
  val finnishMaxRecords = 10000
  val finnishDivisionThreshold = 100000L
  val finnishMinDivisions = 12
  val finnishMaxDivisions = 20

  /** `format_ts` (time_delineated_provider_data_ingester.py:68-70):
    * UTC instant ISO form with the `+00:00` suffix folded to `Z`.
    */
  def finnishFormatTs(ts: java.time.Instant): String =
    ts.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME) + "Z"

  /** First-request params for one (building, timestamp slice)
    * (finnish_museums.py:62-86, pinned by
    * test_finnish_museums.py:50-76): format/building/last_indexed
    * filters, the 7 requested fields, batch limit, page 1.
    */
  def finnishBaseParams(building: String, startTs: java.time.Instant,
      endTs: java.time.Instant): Map[String, Seq[String]] = Map(
    "filter[]" -> Seq(
      "format:\"0/Image/\"",
      s"""building:"$building"""",
      s"""last_indexed:"[${finnishFormatTs(startTs)} TO ${finnishFormatTs(endTs)}]""""),
    "field[]" -> Seq("authors", "buildings", "id", "imageRights",
      "images", "subjects", "title"),
    "limit" -> Seq(finnishBatchLimit.toString),
    "page" -> Seq("1"))

  /** Successor params (finnish_museums.py:87): bump `page`, keep the
    * filters untouched.
    */
  def finnishNextParams(
      prev: Map[String, Seq[String]]): Map[String, Seq[String]] =
    prev.updated("page", Seq((prev("page").head.toInt + 1).toString))

  /** Raw Finna search responses → normalized image records — the
    * field mapping is exactly [[ProviderExtract.finnishish]].
    */
  def finnish(spark: SparkSession,
      rawResponses: Dataset[String]): DataFrame =
    ProviderExtract.finnishish(spark, rawResponses)

  // =====================================================================
  // The remaining undated providers' request planning — one concrete
  // config per scraper, completing the 1:1 surface: every provider the
  // reference can ingest, this library can plan requests for AND
  // extract records from (the record mappings are the fixture-golden
  // archetypes in [[ProviderExtract]]). Pagination families:
  // skip/offset (Cleveland, Brooklyn, SMK), page number (Museum
  // Victoria per-license, NYPL, Nappy, WordPress), path-segment page
  // (StockSnap), build-token page (PhyloPic), HMAC-signed page
  // (Rawpixel), year-range sweeps (Science Museum).
  // =====================================================================

  /** cleveland_museum.py:15-28 — CC-only artworks with images,
    * `skip`-paged by 1000.
    */
  val clevelandBatchLimit = 1000
  def clevelandBaseParams: Map[String, String] = Map(
    "cc" -> "1", "has_image" -> "1",
    "limit" -> clevelandBatchLimit.toString, "skip" -> "0")
  def clevelandNextParams(prev: Map[String, String]): Map[String, String] =
    prev.updated("skip",
      (prev("skip").toInt + clevelandBatchLimit).toString)

  /** brooklyn_museum.py:17-40 — permissive-rights objects with images,
    * offset-paged by 35; the api key rides as a HEADER, and each hit
    * is completed by a per-object GET (brooklyn_museum.py:148-156).
    */
  val brooklynBatchLimit = 35
  val brooklynEndpoint = "https://www.brooklynmuseum.org/api/v2/object/"
  def brooklynHeaders(apiKey: String): Map[String, String] =
    Map("api_key" -> apiKey)
  def brooklynBaseParams: Map[String, String] = Map(
    "has_images" -> "1", "rights_type_permissive" -> "1",
    "limit" -> brooklynBatchLimit.toString, "offset" -> "0")
  def brooklynNextParams(prev: Map[String, String]): Map[String, String] =
    prev.updated("offset",
      (prev("offset").toInt + brooklynBatchLimit).toString)
  def brooklynObjectEndpoint(objectId: Long): String =
    s"$brooklynEndpoint$objectId"

  /** museum_victoria.py:26-64 — one page-numbered sweep PER LICENSE
    * string (the API filters by display name, museum_victoria.py:31-38,
    * 45-47); pages are 0-indexed.
    */
  val victoriaLicenseList: Seq[String] = Seq("public domain", "cc by",
    "cc by-nc", "cc by-nc-sa", "cc by-nc-nd", "cc by-sa")
  val victoriaBatchLimit = 100
  def victoriaBaseParams(license: String): Map[String, String] = Map(
    "hasimages" -> "yes", "perpage" -> victoriaBatchLimit.toString,
    "imagelicense" -> license, "page" -> "0")
  def victoriaNextParams(prev: Map[String, String]): Map[String, String] =
    prev.updated("page", (prev("page").toInt + 1).toString)

  /** nypl.py:48-76 — CC_0 rights-text search, page-numbered from 1 by
    * 500; each capture's metadata comes from a per-UUID item-details
    * GET (nypl.py:89-96).
    */
  val nyplBatchLimit = 500
  val nyplMetadataEndpoint =
    "http://api.repo.nypl.org/api/v1/items/item_details/"
  def nyplHeaders(apiKey: String): Map[String, String] =
    Map("Authorization" -> s"Token token=$apiKey")
  def nyplBaseParams: Map[String, String] = Map(
    "q" -> "CC_0", "field" -> "use_rtxt_s", "page" -> "1",
    "per_page" -> nyplBatchLimit.toString)
  def nyplNextParams(prev: Map[String, String]): Map[String, String] =
    prev.updated("page", (prev("page").toInt + 1).toString)
  def nyplItemEndpoint(uuid: String): String =
    s"$nyplMetadataEndpoint$uuid"

  /** phylopic.py:27-64 — the build-token family: an initial paramless
    * GET yields the `build` id and total page count; every subsequent
    * request pins that build with a 0-indexed page, stopping at
    * totalPages.
    */
  def phylopicBaseParams(build: Long, page: Int): Map[String, String] =
    Map("build" -> build.toString, "page" -> page.toString,
      "embed_items" -> "true")
  def phylopicShouldContinue(currentPage: Int, totalPages: Int): Boolean =
    currentPage < totalPages

  /** stocksnap.py:25-58 — the page number is a PATH SEGMENT, not a
    * query param; pages from 1, continue while the response carries a
    * truthy `nextPage`.
    */
  def stocksnapEndpoint(page: Int): String =
    s"https://stocksnap.io/api/load-photos/date/desc/$page"

  /** nappy.py:26-52 — page-numbered from 1 by the default batch limit,
    * continue while `next_page` is truthy.
    */
  val nappyBatchLimit = 100
  def nappyBaseParams: Map[String, String] =
    Map("page" -> "1", "per_page" -> nappyBatchLimit.toString)
  def nappyNextParams(prev: Map[String, String]): Map[String, String] =
    prev.updated("page", (prev("page").toInt + 1).toString)

  /** wordpress.py:27-92 — page count comes from a HEAD request's
    * X-WP-TotalPages header BEFORE the first page (the API 400s past
    * the last page); then page-numbered body requests until that count.
    */
  val wordpressBatchLimit = 100
  val wordpressEndpoint =
    "https://wordpress.org/photos/wp-json/wp/v2/photos"
  def wordpressHeadParams: Map[String, String] = Map(
    "per_page" -> wordpressBatchLimit.toString, "_embed" -> "true")
  def wordpressPageParams(page: Int): Map[String, String] = Map(
    "format" -> "json", "page" -> page.toString,
    "per_page" -> wordpressBatchLimit.toString, "_embed" -> "true")
  def wordpressShouldContinue(currentPage: Int, totalPages: Int): Boolean =
    currentPage < totalPages

  /** smk.py:23-44 — full-collection public-domain sweep, offset-paged
    * by 2000 with the fixed has_image/public_domain filter string.
    */
  val smkBatchLimit = 2000
  def smkBaseParams: Map[String, String] = Map(
    "keys" -> "*", "filters" -> "[has_image:true],[public_domain:true]",
    "offset" -> "0", "rows" -> smkBatchLimit.toString, "lang" -> "en")
  def smkNextParams(prev: Map[String, String]): Map[String, String] =
    prev.updated("offset", (prev("offset").toInt + smkBatchLimit).toString)

  // ---- Science Museum: year-range sweeps, 50-page API ceiling --------

  /** `_get_year_ranges` (science_museum.py:44-74): the API 400s past
    * page 50, so the collection is swept in year ranges sized so each
    * stays under 50 pages — coarse antiquity, 25-year slices 1750-1825,
    * 10-year 1825-1925, 5-year 1925→`finalYear` (the current year + 1
    * at DAG time, passed in rather than read from the clock).
    */
  def scienceYearRanges(finalYear: Int): Seq[(Int, Int)] =
    Seq((0, 200), (200, 1500), (1500, 1750)) ++
      (1750 until 1825 by 25).map(x => (x, x + 25)) ++
      (1825 until 1925 by 10).map(x => (x, x + 10)) ++
      (1925 until finalYear by 5).map(x => (x, math.min(x + 5, finalYear)))

  val scienceBatchLimit = 100
  def scienceParams(yearRange: (Int, Int), pageNumber: Int)
      : Map[String, String] = Map(
    "has_image" -> "1", "image_license" -> "CC",
    "page[size]" -> scienceBatchLimit.toString,
    "page[number]" -> pageNumber.toString,
    "date[from]" -> yearRange._1.toString,
    "date[to]" -> yearRange._2.toString)

  /** `get_should_continue` (science_museum.py:259-271): stop when the
    * response carries no `links.next`, and HALT (error-worthy in the
    * reference) at page 50 — the documented API ceiling.
    */
  def scienceShouldContinue(hasNextLink: Boolean, pageNumber: Int)
      : Boolean = hasNextLink && pageNumber != 50

  // ---- Rawpixel: HMAC-signed page requests ----------------------------

  val rawpixelApiPath = "/api/v1/search"
  val rawpixelBatchLimit = 100

  /** Python's `urllib.parse.quote_plus`: ASCII alphanumerics and
    * `_.-~` pass, space becomes `+`, everything else percent-encodes
    * (uppercase hex, UTF-8 bytes) — the exact encoding
    * `rawpixel._get_signature`'s urlencode uses.
    */
  private def quotePlus(s: String): String = {
    val sb = new StringBuilder
    s.foreach { c =>
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || "_.-~".indexOf(c.toInt) >= 0) sb.append(c)
      else if (c == ' ') sb.append('+')
      else c.toString.getBytes(StandardCharsets.UTF_8)
        .foreach(b => sb.append(f"%%${b & 0xff}%02X"))
    }
    sb.toString
  }

  /** `RawpixelDataIngester._get_signature` (rawpixel.py:87-114): sort
    * the params, Node-style urlencode them (doseq — each value of a
    * multi-valued param becomes its own `k=v` pair), prepend the API
    * path, HMAC-SHA256 under the api key, then url-safe base64 with
    * the padding stripped. Pinned against the reference test's seven
    * PREDICTABLE-KEY vectors.
    */
  def rawpixelSignature(apiKey: String,
      params: Map[String, Seq[String]]): String = {
    val query = params.toSeq.sortBy(_._1).flatMap { case (k, vs) =>
      vs.map(v => s"${quotePlus(k)}=${quotePlus(v)}")
    }.mkString("&")
    val url = s"$rawpixelApiPath?$query"
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      apiKey.getBytes(StandardCharsets.UTF_8), "HmacSHA256"))
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(mac.doFinal(url.getBytes(StandardCharsets.UTF_8)))
  }

  /** `get_next_query_params` (rawpixel.py:116-128): the public-domain
    * tag search, page-numbered from 1; the signature `s` is recomputed
    * over the UNSIGNED params on every request (the previous `s` is
    * dropped before the bump).
    */
  def rawpixelBaseParams(apiKey: String): Map[String, Seq[String]] = {
    val p = Map("tags" -> Seq("$publicdomain"), "page" -> Seq("1"),
      "pagesize" -> Seq(rawpixelBatchLimit.toString))
    p.updated("s", Seq(rawpixelSignature(apiKey, p)))
  }
  def rawpixelNextParams(apiKey: String,
      prev: Map[String, Seq[String]]): Map[String, Seq[String]] = {
    val p = (prev - "s").updated("page",
      Seq((prev("page").head.toInt + 1).toString))
    p.updated("s", Seq(rawpixelSignature(apiKey, p)))
  }
}
