package graft

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.functions._
import graft.ingest.{IngestPlanner, ProviderExtract}
import graft.operators.Popularity
import graft.sources.Tsv

/** Specs for ingestion planning, provider extraction (golden fixture),
  * the popularity refresh job, partitioned sinks, and malformed-row
  * quarantine.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("planDay escalates day → 24 hours → 288 five-minute slices") {
    val day0 = 1700000000L - (1700000000L % IngestPlanner.DaySec)
    assert(IngestPlanner.planDay(day0, 900, 1000).size == 1)
    val hourly = IngestPlanner.planDay(day0, 20000, 1000)
    assert(hourly.size == 24 && hourly.head.endSec - hourly.head.startSec == 3600)
    val fine = IngestPlanner.planDay(day0, 1000000, 1000)
    assert(fine.size == 288 && fine.last.endSec == day0 + IngestPlanner.DaySec)
    // contiguous, no gaps
    assert(hourly.sliding(2).forall(w => w(0).endSec == w(1).startSec))
  }

  test("reingestion tiers generate shifted dates in order") {
    val base = LocalDate.of(2026, 8, 12)
    val tiers = IngestPlanner.reingestionDates(base, Seq(Seq(1, 2), Seq(7)))
    assert(tiers == Seq(Seq(base),
      Seq(base.minusDays(1), base.minusDays(2)), Seq(base.minusDays(7))))
  }

  test("runSlices accumulates failures without aborting") {
    val slices = IngestPlanner.planDay(0L, 20000, 1000)
    val (ok, failed) = IngestPlanner.runSlices(slices) { s =>
      if (s.startSec == 3600L * 3) throw new RuntimeException("boom")
      s.startSec
    }
    assert(ok.size == 23 && failed.size == 1 &&
      failed.head._1.startSec == 3600L * 3)
  }

  test("shouldPull only when source is newer than last success") {
    val t = Instant.parse("2026-08-01T00:00:00Z")
    assert(IngestPlanner.shouldPull(t, None))
    assert(IngestPlanner.shouldPull(t, Some(t.minusSeconds(60))))
    assert(!IngestPlanner.shouldPull(t, Some(t)))
  }

  test("oauth token lifecycle: authorize once, rotate, refresh plan") {
    import graft.ingest.OAuth
    import java.time.{Duration, Instant}
    val t0 = Instant.parse("2026-08-01T00:00:00Z")
    val p1 = OAuth.TokenPair("a1", "r1", t0.plusSeconds(3600))
    var store = OAuth.authorize(Map.empty, "freesound", p1)
    // re-authorization never downgrades the stored pair
    store = OAuth.authorize(store, "freesound",
      OAuth.TokenPair("aX", "rX", t0))
    assert(store("freesound") == p1)
    // refresh due only inside the margin of expiry
    assert(!OAuth.needsRefresh(t0, p1, Duration.ofMinutes(10)))
    assert(OAuth.needsRefresh(t0.plusSeconds(3001), p1,
      Duration.ofMinutes(10)))
    store = OAuth.authorize(store, "other",
      OAuth.TokenPair("b1", "s1", t0.plusSeconds(60)))
    assert(OAuth.refreshPlan(store, t0, Duration.ofMinutes(10)) ==
      Seq("other"))
    // rotation spends the old refresh token
    val rotated = OAuth.applyRefresh(store, "other",
      OAuth.TokenPair("b2", "s2", t0.plusSeconds(7200)))
    assert(rotated.toOption.get("other").refreshToken == "s2")
    // unauthorized provider -> the skip path, not a silent insert
    assert(OAuth.applyRefresh(store, "nope",
      OAuth.TokenPair("x", "y", t0)).isLeft)
  }

  test("flickrish extractor: golden fixture → normalized records") {
    val batch =
      """{"page":1,"pages":1,"photo":[
        |{"id":"42","owner":"o1","title":"  A  \"t\" ","description":"<p>Nice &amp; <b>shot</b></p>",
        | "license_url":"https://creativecommons.org/licenses/by/4.0/",
        | "url_l":null,"url_m":"https://m/42.jpg","url_s":"https://s/42.jpg",
        | "height_l":100,"width_l":200,"tags":"b a  b c","views":7},
        |{"id":"43","owner":"o2","title":"no license","description":"d",
        | "license_url":"https://example.com/none",
        | "url_l":"https://l/43.jpg","url_m":null,"url_s":null,
        | "height_l":1,"width_l":1,"tags":"x","views":0},
        |{"id":null,"owner":"o3","title":"no fid","description":"d",
        | "license_url":"https://creativecommons.org/licenses/by/4.0/",
        | "url_l":"https://l/44.jpg","url_m":null,"url_s":null,
        | "height_l":1,"width_l":1,"tags":"x","views":0}]}"""
        .stripMargin.replaceAll("\n", "")
    val got = ProviderExtract.flickrish(spark, Seq(batch).toDS())
    val rows = got.collect()
    // record 43 dropped (unknown license), 3rd dropped (null fid)
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("foreign_identifier") == "42")
    assert(r.getAs[String]("url") == "https://m/42.jpg")   // P21 coalesce
    assert(r.getAs[String]("title") == "A 't'")            // P4 sanitize
    assert(r.getAs[String]("description") == "Nice & shot") // P17
    assert(r.getAs[collection.Seq[String]]("tags").toSeq ==
      Seq("a", "b", "c")) // P18
    assert(r.getAs[String]("license") == "by" &&
      r.getAs[String]("license_version") == "4.0")         // P2
  }

  test("wikimediaish: continue-token batches merge per page, max usage") {
    val batch1 =
      """{"continue_token":"c1","pages":[
        |{"pageid":7,"title":"File:Sunset.jpg","url":"https://up/7.jpg",
        | "description_html":null,"global_usage":3},
        |{"pageid":8,"title":"File:Moon.png","url":"https://up/8.png",
        | "description_html":"<p>moon</p>","global_usage":1}]}"""
        .stripMargin.replaceAll("\n", "")
    val batch2 =
      """{"continue_token":null,"pages":[
        |{"pageid":7,"title":"File:Sunset.jpg","url":"https://up/7.jpg",
        | "description_html":"<b>dusk</b> sky","global_usage":9}]}"""
        .stripMargin.replaceAll("\n", "")
    val got = ProviderExtract.wikimediaish(spark, Seq(batch1, batch2).toDS())
      .orderBy("foreign_identifier").collect()
    assert(got.length == 2)
    val p7 = got.head
    assert(p7.getAs[String]("title") == "Sunset")          // P19 cleanup
    assert(p7.getAs[String]("description") == "dusk sky")  // P17 + merge
    assert(p7.getAs[Long]("global_usage") == 9L)           // ST7 max
  }

  test("popularity refreshViewsVersioned writes constants + scored snapshot") {
    import graft.sources.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("refresh").toString
    val e = Tables(spark, sfDir, "events")
    val obs = Popularity.refreshViewsVersioned(e, Seq("event_type"), "value",
      0.85, dir)
    assert(obs("rows_scored") == e.count())
    assert(obs("null_scores") == 0L)
    val consts = VersionedTable.read(spark, s"$dir/popularity_constants")
    val view = VersionedTable.read(spark, s"$dir/media_view")
    assert(consts.count() == 5)
    assert(view.count() == e.count())
    assert(view.filter(col("score") < 0 || col("score") > 1).count() == 0)
  }

  test("versioned popularity refresh: atomic flip + time travel") {
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("refv").toString
    val e = Tables(spark, sfDir, "events")
    val m1 = Popularity.refreshViewsVersioned(e, Seq("event_type"),
      "value", 0.85, root)
    assert(m1("view_version") == 1L && m1("rows_scored") == e.count())
    // second refresh over a filtered fact set: new version, old
    // snapshot still readable (time travel)
    val m2 = Popularity.refreshViewsVersioned(
      e.filter(col("event_id") % 2 === 0), Seq("event_type"),
      "value", 0.85, root)
    assert(m2("view_version") == 2L)
    val cur = VersionedTable.read(spark, s"$root/media_view")
    val old = VersionedTable.read(spark, s"$root/media_view", Some(1L))
    assert(old.count() == e.count())
    assert(cur.count() == e.filter(col("event_id") % 2 === 0).count())
  }

  test("versioned refresh scores the view with the committed constants, bit-equal") {
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("refc").toString
    val e = Tables(spark, sfDir, "events")
    val keys = Seq("event_type")
    val m = Popularity.refreshViewsVersioned(e, keys, "value", 0.85, root)
    val view = VersionedTable.read(spark, s"$root/media_view",
      Some(m("view_version").asInstanceOf[Long]))
    // the view as scored against freshly computed constants: every
    // row, every score, bit for bit (doubles round-trip parquet)
    val fresh = Popularity.score(e,
      Popularity.constants(e, keys, "value", 0.85), keys, "value")
    assert(view.columns.toSeq == fresh.columns.toSeq)
    val viewRows = view.orderBy("event_id").collect().toSeq
    val freshRows = fresh.orderBy("event_id").collect().toSeq
    assert(viewRows.size == e.count())
    assert(viewRows == freshRows)
    assert(viewRows.exists(r => !r.isNullAt(r.fieldIndex("score"))))
  }

  test("partitioned sink writes year/month/day directories (S8)") {
    val dir = java.nio.file.Files.createTempDirectory("part").toString
    val e = Tables(spark, sfDir, "events")
      .withColumn("year", year(col("ts")))
      .withColumn("month", month(col("ts")))
      .withColumn("day", dayofmonth(col("ts")))
    e.write.partitionBy("year", "month", "day").mode("overwrite")
      .parquet(s"$dir/landing")
    val back = spark.read.parquet(s"$dir/landing")
    assert(back.count() == e.count())
    val firstDay = back.filter(col("year") === 2024 &&
      col("month") === 1 && col("day") === 1)
    // partition pruning: only day=1 directories scanned
    val plan = firstDay.queryExecution.executedPlan.toString
    assert(firstDay.count() > 0 && plan.contains("PartitionFilters"))
  }

  test("malformed TSV rows are quarantined, not dropped silently (S6)") {
    val dir = java.nio.file.Files.createTempDirectory("tsv2").toString
    val lines = Seq(
      (Seq("f1", "https://l/1", "https://u/1") ++ Seq.fill(17)("\\N"))
        .mkString("\t"),
      "garbage_row_with_too_few_columns",
      (Seq("f2", "https://l/2", "https://u/2") ++ Seq.fill(17)("\\N"))
        .mkString("\t"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/batch.tsv"),
      lines.mkString("\n").getBytes)
    val df = Tsv.readPermissive(spark, s"$dir/batch.tsv").cache()
    assert(df.count() == 3)
    assert(df.filter(col("_corrupt").isNotNull).count() == 1)
    assert(df.filter(col("_corrupt").isNull).count() == 2)
  }

  test("DelayGate sleeps only the remaining interval; first pass is free") {
    import graft.ingest.Fetcher
    var clock = 0L
    val sleeps = collection.mutable.Buffer[Long]()
    val gate = new Fetcher.DelayGate(100, () => clock,
      ms => { sleeps += ms; clock += ms * 1000000L })
    gate.pass()
    assert(sleeps.isEmpty)                  // no delay before the first
    clock += 30L * 1000000L
    gate.pass()
    assert(sleeps.toSeq == Seq(70))         // 100ms - 30ms elapsed
    clock += 150L * 1000000L
    gate.pass()
    assert(sleeps.toSeq == Seq(70))         // already past the interval
  }

  test("getResponseJson retries non-200, error-key JSON, garbage; raises after") {
    import graft.ingest.Fetcher
    val gate = new Fetcher.DelayGate(0)
    val script = Iterator(
      Fetcher.Response(500, ""),
      Fetcher.Response(200, """{"error": "boom"}"""),
      Fetcher.Response(200, "definitely not json"),
      Fetcher.Response(200, """{"ok": 1}"""))
    val got = Fetcher.getResponseJson((_, _) => script.next(), gate,
      "http://x", Map.empty, retries = 3)
    assert(got == """{"ok":1}""")
    // a null error key is NOT an error (requester.py checks `is not None`)
    val nullErr = Fetcher.getResponseJson(
      (_, _) => Fetcher.Response(200, """{"error": null, "v": 2}"""),
      gate, "http://x", Map.empty, retries = 0)
    assert(nullErr.contains("\"v\":2"))
    intercept[Fetcher.RetriesExceeded] {
      Fetcher.getResponseJson((_, _) => Fetcher.Response(500, ""), gate,
        "http://x", Map.empty, retries = 2)
    }
  }

  test("ingest loop stops after maxConsecutiveSkips on a dead endpoint") {
    import graft.ingest.Fetcher
    // page-counter paginators never exhaust on their own — a server
    // that fails every request must not loop forever
    val dead: Fetcher.Transport = (_, _) => Fetcher.Response(500, "")
    val file = java.nio.file.Files.createTempDirectory("deadfetch")
      .resolve("landing.jsonl")
    val res = Fetcher.ingestRecords(dead, new Fetcher.DelayGate(0),
      "http://unreachable", Fetcher.pageNumberParams(Map.empty),
      Fetcher.flickrBatchCount, file, retries = 1,
      maxConsecutiveSkips = 3)
    assert(res.skipped.size == 3 && res.records == 0)
    // a flaky-then-healthy run resets the window: skips don't accumulate
    var calls = 0
    val flaky: Fetcher.Transport = (_, params) => {
      calls += 1
      if (params("page") == "2" && calls < 6)
        Fetcher.Response(500, "")
      else Fetcher.Response(200,
        s"""{"page":${params("page")},"pages":3,"photo":[{"id":"${params("page")}"}]}""")
    }
    val res2 = Fetcher.ingestRecords(flaky, new Fetcher.DelayGate(0),
      "http://flaky", Fetcher.pageNumberParams(Map.empty),
      Fetcher.flickrBatchCount, file, retries = 5,
      maxConsecutiveSkips = 3)
    assert(res2.records == 3 && res2.skipped.isEmpty)
  }

  test("fetch loop e2e: plan → GET over a real socket → landing JSONL → extract") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.ingest.{FetchMain, Fetcher}
    import java.time.{LocalDate, ZoneOffset}

    val day = LocalDate.of(2026, 1, 2)
    val dayStart = day.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    // 5 photos uploaded in hour 0 (3 pages of 2), 2 in hour 1 (1 page),
    // 22 empty hourly slices
    val uploads = Seq.tabulate(7)(i =>
      dayStart + (if (i < 5) 0L else 3600L) + i)
    def photoJson(i: Int): String =
      s"""{"id":"$i","owner":"o$i","title":"t$i","description":"d$i",
         |"license_url":"https://creativecommons.org/licenses/by/4.0/",
         |"url_l":"https://l/$i.jpg","url_m":null,"url_s":null,
         |"height_l":10,"width_l":20,"tags":"a b","views":$i}"""
        .stripMargin.replaceAll("\n", "")

    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/services/rest", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        hits.incrementAndGet()
        val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
          .split("&").filter(_.nonEmpty)
          .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
        val min = q("min_upload_date").toLong
        val max = q("max_upload_date").toLong
        val page = q.getOrElse("page", "1").toInt
        val sel = uploads.zipWithIndex
          .filter { case (ts, _) => ts >= min && ts < max }.map(_._2)
        val pages = (sel.size + 1) / 2
        // hour-0 page 2 fails ONCE with a 500: the retry must recover
        // through the real socket
        val body =
          if (min == dayStart && page == 2 &&
              failedOnce.compareAndSet(false, true)) {
            ex.sendResponseHeaders(500, -1); ex.close(); return
          } else {
            val slice = sel.slice((page - 1) * 2, page * 2)
            s"""{"page":$page,"pages":$pages,"photo":[${
              slice.map(photoJson).mkString(",")}]}"""
          }
        val bytes = body.getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val base =
        s"http://127.0.0.1:${server.getAddress.getPort}/services/rest"
      val outDir = java.nio.file.Files.createTempDirectory("fetch")
      val t0 = System.nanoTime()
      val outcomes = FetchMain.pullDay(Fetcher.httpTransport(),
        new Fetcher.DelayGate(5), base, outDir.resolve("landing"), day,
        estRecords = 2000, maxPerSlice = 1000, retries = 2,
        limit = Long.MaxValue)
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      // 24 hourly slices planned (estRecords 2000 > maxPerSlice 1000)
      assert(outcomes.size == 24)
      assert(outcomes.map(_.result.records).sum == 7)
      assert(outcomes.flatMap(_.result.skipped).isEmpty)
      // hour 0: pages 1,2,3; hour 1: page 1; 22 empties: 1 request each
      assert(outcomes.map(_.result.requests).sum == 26)
      assert(hits.get() == 27)              // + the one failed attempt
      // the rate gate spaced 27 request starts ≥5ms apart
      assert(elapsedMs >= 26 * 5)
      // Spark side: landing JSONL → flickrish normalized records
      val recs = FetchMain.extract(spark, outDir.resolve("landing"))
      val rows = recs.collect()
      assert(rows.length == 7)
      assert(rows.map(_.getAs[String]("foreign_identifier")).sorted.toSeq ==
        (0 until 7).map(_.toString).sorted)
      assert(rows.forall(_.getAs[String]("license") == "by"))
      assert(rows.forall(_.getAs[String]("url").startsWith("https://l/")))
    } finally server.stop(0)
  }
}
