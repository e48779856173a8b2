package perfbench

import graft.inat.Inat
import graft.metrics.RecordMetrics
import graft.operators.{MediaClean, MergeUpsert, Popularity}
import graft.sources.{Tsv, VersionedTable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** `catalog_load`: nightly loads of two providers into growing
  * VersionedTables, the reference's whole load chain.
  *
  * - An API provider: an image-v001 batch shaped like q57's, made from a
  *   seeded slice of `lineitem`, goes Tsv.write -> Tsv.read -> typing ->
  *   MediaClean.cleanMediaMetadata (which drops rows missing a required
  *   field via MergeUpsert.filterRequired) -> dedupeByKey on the
  *   foreign identifier, then on the url -> urlConflictFilter ->
  *   VersionedTable.mergeInto -> Popularity.refreshViewsVersioned ->
  *   VersionedTable.vacuum.
  * - A bulk-dump provider: a seeded photos slice in the iNaturalist
  *   shape goes Inat.transform -> VersionedTable.mergeInto.
  *
  * The tables start seeded with one slice of lineitem; each night (a
  * round) loads the next slice and re-pulls ~5% of the earlier ones, so
  * merges update as well as insert. Every merge rewrites the whole
  * growing table.
  */
object CatalogLoad extends Workload {
  val name = "catalog_load"

  /** lineitem rows fall into this many seeded slices; slice 0 seeds the
    * tables and slice n is night n.
    */
  val Slices = 16
  val Provider = "perfbench_api"
  val Required = Seq("foreign_identifier", "foreign_landing_url", "url", "license")
  val Keys = Seq("provider", "foreign_identifier")
  val PopularityP = 0.85
  val NumTaxa = 2000

  /** The extraction stage's output in the image-v001 TSV layout, from
    * lineitem rows: null required fields, foreign-identifier and url
    * collisions and trailing slashes give every load stage work, as in
    * q57.
    */
  def apiBatch(li: DataFrame, keep: Column*): DataFrame = {
    val did = col("l_orderkey") * 8 + col("l_linenumber")
    val nullS = lit(null).cast("string")
    val lic = when(did % 59 === 0, nullS).otherwise(element_at(
      array(lit("by"), lit("by-sa"), lit("by-nc-nd"), lit("cc0"), lit("pdm")),
      (did % 5 + 1).cast("int")))
    li.select(Seq(
      when(did % 53 === 0, nullS)
        .otherwise(concat(lit("f"), pmod(xxhash64(did), lit(2000000L)).cast("string")))
        .as("foreign_identifier"),
      concat(lit("https://p/"), did.cast("string"),
        when(did % 7 === 0, lit("/")).otherwise(lit(""))).as("foreign_landing_url"),
      when(did % 47 === 0, nullS)
        .otherwise(concat(lit("https://img/"),
          pmod(xxhash64(did, lit(7)), lit(1000000L)).cast("string"), lit(".jpg")))
        .as("url"),
      when(did % 9 === 0, nullS).otherwise(concat(lit("https://t/"), did.cast("string")))
        .as("thumbnail_url"),
      lit("jpg").as("filetype"),
      ((did * 13) % 100000).cast("int").as("filesize"),
      lic.as("license_"),
      when(lic.isNull, nullS).when(lic.isin("cc0", "pdm"), lit("1.0"))
        .otherwise(lit("4.0")).as("license_version"),
      concat(lit("c"), (did % 13).cast("string")).as("creator"),
      concat(lit("https://c/"), (did % 13).cast("string"),
        when(did % 11 === 0, lit("/")).otherwise(lit(""))).as("creator_url"),
      concat(lit("T "), lpad(did.cast("string"), 12, "0")).as("title"),
      when(did % 2 === 0, concat(
        lit("{\"license_url\":\"https://creativecommons.org/licenses/by/4.0/\",\"w\":\""),
        (did % 3).cast("string"), lit("\"}"))).otherwise(nullS).as("meta_data"),
      nullS.as("tags"),
      when(did % 2 === 0, nullS).otherwise(lit("photograph")).as("category"),
      lit("f").as("watermarked"),
      lit(Provider).as("provider"),
      when(did % 4 === 0, nullS).otherwise(element_at(
        array(lit("stocksnap"), lit("phylopic"), lit("met")),
        (did % 3 + 1).cast("int"))).as("source"),
      lit("provider_api").as("ingestion_type"),
      ((did % 1920) + 1).cast("int").as("width"),
      ((did % 1080) + 1).cast("int").as("height")) ++ keep: _*)
  }

  /** iNaturalist photos from lineitem rows (the b3 bench shape): ~0.1%
    * of photo ids collide, so the duplicate anti-join has work.
    */
  def photos(li: DataFrame, keep: Column*): DataFrame = li.select(Seq(
    concat(col("l_orderkey"), lit("-"), col("l_linenumber")).as("photo_uuid"),
    when(col("l_orderkey") % 1000 === 0, (col("l_orderkey") / 2).cast("int"))
      .otherwise(col("l_orderkey") * 10 + col("l_linenumber")).cast("int").as("photo_id"),
    col("l_orderkey").cast("string").as("observation_uuid"),
    col("l_suppkey").cast("int").as("observer_id"),
    element_at(array(lit("jpeg"), lit("png"), lit("JPG")),
      (col("l_linenumber") % 3 + 1).cast("int")).as("extension"),
    element_at(array(lit("CC0"), lit("CC-BY"), lit("CC-BY-NC"), lit("CC-BY-SA"), lit("PD")),
      (col("l_orderkey") % 5 + 1).cast("int")).as("license"),
    (col("l_quantity") * 100).cast("int").as("width"),
    (col("l_quantity") * 80).cast("int").as("height"),
    col("l_linenumber").cast("int").as("position")) ++ keep: _*)

  /** The bulk provider's other dump tables, which do not change:
    * observations, observers and taxa.
    */
  def dumpTables(spark: SparkSession, data: String): Seq[DataFrame] = Seq(
    spark.read.parquet(s"$data/orders.parquet").select(
      col("o_orderkey").cast("string").as("observation_uuid"),
      col("o_custkey").cast("int").as("observer_id"),
      lit(null).cast("decimal(15,10)").as("latitude"),
      lit(null).cast("decimal(15,10)").as("longitude"),
      lit(10).as("positional_accuracy"),
      (col("o_orderkey") % NumTaxa + 1).cast("int").as("taxon_id"),
      lit("research").as("quality_grade"),
      col("o_orderdate").cast("date").as("observed_on")),
    spark.read.parquet(s"$data/customer.parquet").select(
      col("c_custkey").cast("int").as("observer_id"),
      concat(lit("user"), col("c_custkey")).as("login"),
      when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("c_name")).as("name")),
    spark.range(1, NumTaxa + 1).select(
      col("id").cast("int").as("taxon_id"),
      when(col("id") > 10, concat_ws("/", (col("id") % 10 + 1).cast("string"),
        (col("id") % 100 + 1).cast("string"))).as("ancestry"),
      lit(10.0).as("rank_level"), lit("species").as("rank"),
      concat(lit("Taxon "), col("id")).as("name"), lit(true).as("active")))

  val maxRounds: Int = Slices - 1
  /** Night 0, the tables' seed, already ran every path in `prepare`. */
  val warmUpRounds = 0

  def prepare(ctx: Ctx): Prepared = new Load(ctx)

  /** Inputs written, live tables seeded: rounds load nights 1, 2, ... */
  private final class Load(ctx: Ctx) extends Prepared {
    private val spark = ctx.spark
    private val dir = Workload.freshDir(ctx, name)
    private val data = s"${ctx.data}/sf0.01"
    private val Seq(observations, observers, taxa) = dumpTables(spark, data)
    private val media = s"$dir/media"
    private val inat = s"$dir/inat"
    private val popularity = s"$dir/popularity"
    private var scored = -1L
    private var loaded = Seq.empty[Int]

    // the seed decides which lineitem rows land in which night: night n
    // loads slice n and re-pulls 5% of the earlier slices. Rows are dealt
    // out in a seeded order, so every seed gives each night as many rows.
    locally {
      val rank = row_number().over(Window.orderBy(
        xxhash64(lit(ctx.seed), col("l_orderkey"), col("l_linenumber")),
        col("l_orderkey"), col("l_linenumber"))) - 1
      val li = spark.read.parquet(s"$data/lineitem.parquet")
        .withColumn("rank", rank)
        .withColumn("slice", pmod(col("rank"), lit(Slices.toLong)))
        .withColumn("repull", pmod(floor(col("rank") / Slices), lit(20L)) === 0)
        .withColumn("night", explode(filter(sequence(lit(0), lit(Slices - 1)),
          n => col("slice") === n || (col("slice") < n && col("repull")))))
        .persist()
      try Workload.both(
        apiBatch(li, col("night")).write.partitionBy("night").parquet(s"$dir/in/api"),
        photos(li, col("night")).write.partitionBy("night").parquet(s"$dir/in/photos"))
      finally li.unpersist()
      // the media table starts empty (the url-conflict check reads it,
      // so it needs a committed version); night 0 then loads slice 0
      // through the whole chain, so the tables hold an earlier load's
      // survivors and set-up has run every path of a night once
      Tsv.write(input("api", 0).limit(0), s"$dir/tsv/empty")
      VersionedTable.commit(MediaClean.cleanMediaMetadata(
          typed(Tsv.read(spark, s"$dir/tsv/empty")), Provider)
        .transform(MergeUpsert.dedupeByKey(_, Seq(col("provider"),
          md5(col("foreign_identifier"))), col("title")))
        .transform(MergeUpsert.dedupeByKey(_, Seq(col("url")), col("title"))), media)
      Workload.both(apiNight(0, Tracer.off, _ => ()), inatNight(0, Tracer.off, _ => ()))
    }

    private def input(kind: String, n: Int): DataFrame =
      spark.read.parquet(s"$dir/in/$kind/night=$n")

    def round(i: Int, tracer: Tracer): Round = {
      val n = i + 1
      val counts = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val add = (kv: (String, Double)) => counts(kv._1) += kv._2
      val rows = input("api", n).count() + input("photos", n).count()
      val (_, seconds) = Workload.timed(tracer.span("bench.night") {
        apiNight(n, tracer, add)
        inatNight(n, tracer, add)
        if (tracer.enabled) spark.catalog.clearCache()
      })
      loaded :+= n
      Round(Seq(Op(s"load$n", Some(seconds), "load")), seconds, rows, counts.toMap)
    }

    /** The API provider's night: stage, load, clean, dedupe, drop url
      * conflicts, upsert, refresh popularity, vacuum.
      */
    def apiNight(n: Int, tracer: Tracer, record: ((String, Double)) => Unit): Unit = {
      val tsv = s"$dir/tsv/$n"
      Workload.writing(tracer, "sources.tsv_write", tsv)(Tsv.write(input("api", n), tsv))
      val loaded = tracer.span("sources.tsv_read")(
        Workload.materialize(Tsv.read(spark, tsv), tracer))
      val cleaned = tracer.span("operators.clean")(Workload.materialize(
        MediaClean.cleanMediaMetadata(typed(loaded), Provider), tracer))
      val (fidDeduped, deduped) = tracer.span("operators.dedupe") {
        val f = Workload.materialize(MergeUpsert.dedupeByKey(cleaned,
          Seq(col("provider"), md5(col("foreign_identifier"))), col("title")), tracer)
        (f, Workload.materialize(
          MergeUpsert.dedupeByKey(f, Seq(col("url")), col("title")), tracer))
      }
      val staged = tracer.span("operators.url_conflict")(Workload.materialize(
        MergeUpsert.urlConflictFilter(deduped, VersionedTable.read(spark, media),
          "url", "foreign_identifier"), tracer))
      if (tracer.enabled) {
        val m = tracer.span("metrics.funnel")(
          RecordMetrics.fromStages(loaded, cleaned, fidDeduped, staged))
        Seq("staged_rows" -> m.staged, "missing_rows" -> m.missing,
          "fid_dup_rows" -> m.fidDup, "url_dup_rows" -> m.urlDup,
          "upserted_rows" -> m.upserted).foreach { case (k, v) =>
          record(s"metrics.$k" -> v.toDouble) }
      }
      mergeInto(tracer, media, staged)
      val obs = tracer.span("operators.popularity")(
        Popularity.refreshViewsVersioned(VersionedTable.read(spark, media),
          Seq("provider"), "filesize", PopularityP, popularity))
      scored = obs("rows_scored").asInstanceOf[Long]
      tracer.span("sources.vacuum") {
        Seq(media, s"$popularity/media_view", s"$popularity/popularity_constants")
          .foreach(VersionedTable.vacuum(spark, _))
      }
    }

    /** The bulk provider's night: transform the dump, upsert, vacuum. */
    def inatNight(n: Int, tracer: Tracer, record: ((String, Double)) => Unit): Unit = {
      val recs = tracer.span("inat.transform")(Workload.materialize(
        Inat.transform(input("photos", n), observations, observers, taxa), tracer))
      mergeInto(tracer, inat, recs)
      tracer.span("sources.vacuum")(VersionedTable.vacuum(spark, inat))
      if (tracer.enabled) record("inat.rows" -> recs.count().toDouble)
    }

    /** VersionedTable.mergeInto; traced, its merge and its commit are
      * timed apart (mergeInto is exactly commit(merge(read, staged))).
      */
    private def mergeInto(tracer: Tracer, root: String, staged: DataFrame): Unit =
      if (!tracer.enabled) VersionedTable.mergeInto(spark, root, staged, Keys)
      else {
        val merged = tracer.span("operators.merge")(Workload.materialize(
          MergeUpsert.merge(VersionedTable.read(spark, root), staged, Keys), tracer))
        Workload.writing(tracer, "sources.commit", root)(VersionedTable.commit(merged, root))
      }

    def check(): Checked = {
      val problems = Seq(media, inat).flatMap { root =>
        val r = VersionedTable.read(spark, root).agg(count(lit(1)).as("n"),
          countDistinct(col("provider"), col("foreign_identifier")).as("keys"),
          countDistinct(col("url")).as("urls"),
          sum(when(Required.map(col(_).isNull).reduce(_ || _), 1).otherwise(0)).as("nulls"))
          .head()
        val n = r.getLong(0)
        Seq(
          (n == 0) -> s"$root: empty",
          (r.getLong(1) != n) -> s"$root: (provider, foreign_identifier) not unique",
          (r.getLong(2) != n) -> s"$root: url not unique",
          (r.getLong(3) != 0) -> s"$root: ${r.getLong(3)} rows miss a required column"
        ).collect { case (true, msg) => msg }
      }
      val mediaRows = VersionedTable.read(spark, media).count()
      val badScores = VersionedTable.read(spark, s"$popularity/media_view")
        .filter(col("score").isNull || col("score") < 0 || col("score") >= 1).count()
      val all = problems ++ Seq(
        (scored != mediaRows) -> s"rows_scored $scored != media rows $mediaRows",
        (badScores != 0) -> s"$badScores scores outside [0, 1)"
      ).collect { case (true, msg) => msg }
      val tables = Seq(media, inat, s"$popularity/media_view",
        s"$popularity/popularity_constants")
      val live = tables.map(r => Option(new java.io.File(r).list())
        .getOrElse(Array.empty[String]).count(_.startsWith("_v"))).sum
      Checked(all, if (all.isEmpty) Set.empty else loaded.map(n => s"load$n").toSet,
        Map("sources.segments_live" -> live.toDouble,
          "sources.stored_bytes" -> Seq(media, inat, popularity).map(Disk.bytes).sum.toDouble,
          "sources.input_bytes" -> Disk.bytes(s"$dir/tsv").toDouble))
    }
  }

  /** Typing at the load boundary, as q57: JSON meta_data to a map and
    * its license URLs surfaced as columns.
    */
  def typed(loaded: DataFrame): DataFrame = loaded
    .withColumn("meta_data", from_json(col("meta_data"), MapType(StringType, StringType)))
    .withColumn("license_url", element_at(col("meta_data"), "license_url"))
    .withColumn("raw_license_url", element_at(col("meta_data"), "raw_license_url"))
    .withColumnRenamed("license_", "license")
}
