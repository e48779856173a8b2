package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.functions.{CleanFunctions, LicenseMap, PercentileDiscAgg}
import graft.operators.{MergeUpsert, Multimodal}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's enrichment-pipeline shapes (SURVEY.md §3.2 iNat taxa
  * + §2.2/2.8 leftovers): length-capped ordered title assembly with
  * overflow tags (W1/A5/A6/T3), ancestry explode + dimension join (J5/U1),
  * timestamp-resolved reingestion merge (ST3), license-map resolution
  * (P2), HTML stripping (P17), jsonb-object merge (J6 map strategy),
  * multimodal metadata extraction, and the custom exact percentile_disc
  * Catalyst aggregate.
  */
object EnrichmentQueries extends QueryPack {

  /** W1/A5/A6/T3 — the taxa.sql:125-150 shape: per part, assemble a
    * title from supplier names ordered by shipment count (desc) while
    * the running length (frame window) stays ≤ 100 chars; overflow names
    * become tags, capped at 20.
    */
  val q34 = Q("q34_title_cap",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val sup = Tables(s, dir, "supplier")
      val pairs = li.groupBy("l_partkey", "l_suppkey")
        .agg(count(lit(1)).as("n_ship"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
      val w = Window.partitionBy("l_partkey")
        .orderBy(col("n_ship").desc, col("s_name").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = sum(length(col("s_name")) + 2).over(w)
      val flagged = pairs.select(col("l_partkey"), col("s_name"),
        col("n_ship"), cum.as("cum"))
      // ordered conditional aggregation: sort collected structs by
      // (-n_ship, s_name), then filter by the cap flag
      val sorted = array_sort(collect_list(
        struct((-col("n_ship")).as("ord"), col("s_name").as("name"),
          (col("cum") <= 100).as("in_title"))))
      flagged.groupBy("l_partkey").agg(
        array_join(transform(filter(sorted, x => x.getField("in_title")),
          x => x.getField("name")), ", ").as("title"),
        array_join(slice(transform(
          filter(sorted, x => !x.getField("in_title")),
          x => x.getField("name")), 1, 20), ", ").as("overflow_tags"))
    },
    Some("""
      WITH pairs AS (SELECT l_partkey, l_suppkey, COUNT(*) AS n_ship
                     FROM lineitem GROUP BY l_partkey, l_suppkey),
      j AS (SELECT p.l_partkey, s.s_name, p.n_ship,
              SUM(length(s.s_name) + 2) OVER (PARTITION BY p.l_partkey
                ORDER BY p.n_ship DESC, s.s_name ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM pairs p JOIN supplier s ON s.s_suppkey = p.l_suppkey)
      SELECT l_partkey,
        array_to_string(list_filter(
          list(CASE WHEN cum <= 100 THEN s_name END
               ORDER BY n_ship DESC, s_name ASC),
          x -> x IS NOT NULL), ', ') AS title,
        array_to_string(list_filter(
          list(CASE WHEN cum > 100 THEN s_name END
               ORDER BY n_ship DESC, s_name ASC),
          x -> x IS NOT NULL)[1:20], ', ') AS overflow_tags
      FROM j GROUP BY l_partkey"""))

  /** J5/U1 — ancestry expansion: explode a slash-separated lineage path
    * and equi-join a union-all dimension (the taxa.sql:249-251 rewrite:
    * explode + hash join instead of nested-loop ANY).
    */
  val q35 = Q("q35_ancestry_expand",
    (s, dir) => {
      val cust = Tables(s, dir, "customer")
      val nat = Tables(s, dir, "nation")
      val reg = Tables(s, dir, "region")
      val dim = nat.select(concat(lit("n"), col("n_nationkey").cast("string"))
          .as("code"), col("n_name").as("name"))
        .unionAll(reg.select(concat(lit("r"), col("r_regionkey").cast("string"))
          .as("code"), col("r_name").as("name")))
      val withPath = cust.join(broadcast(nat),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          concat(lit("n"), col("c_nationkey").cast("string"), lit("/r"),
            col("n_regionkey").cast("string")).as("ancestry"))
      withPath
        .select(col("c_custkey"), explode(split(col("ancestry"), "/")).as("code"))
        .join(broadcast(dim), "code")
        .groupBy("c_custkey")
        .agg(array_join(array_sort(collect_list(col("name"))), ", ")
          .as("lineage"))
    },
    Some("""
      WITH dim AS (SELECT 'n' || n_nationkey AS code, n_name AS name FROM nation
                   UNION ALL
                   SELECT 'r' || r_regionkey AS code, r_name AS name FROM region),
      p AS (SELECT c_custkey,
              'n' || c_nationkey || '/r' || n_regionkey AS ancestry
            FROM customer JOIN nation ON c_nationkey = n_nationkey),
      e AS (SELECT c_custkey, unnest(string_split(ancestry, '/')) AS code FROM p)
      SELECT c_custkey,
             array_to_string(list_sort(list(name)), ', ') AS lineage
      FROM e JOIN dim USING (code) GROUP BY c_custkey"""))

  /** ST3/J6 — reingestion merge where the NEWER timestamp wins per
    * column (the late-data policy: re-pulled rows overwrite only if
    * fresher). Two overlapping "runs" synthesized from events.
    */
  val q36 = Q("q36_reingest_merge",
    (s, dir) => {
      val e = Tables(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
      val run1 = e.filter(col("event_id") < 6000)
      val run2 = e.filter(col("event_id") >= 4000)
        .withColumn("value", col("value") * 2)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      val newestWins: (Column, Column) => Column =
        (n, o) => when(col("s.ts") >= col("t.ts"), n).otherwise(o)
      MergeUpsert.merge(run1, run2, Seq("event_id"), Map(
        "user_id" -> newestWins, "event_type" -> newestWins,
        "value" -> newestWins, "ts" -> newestWins))
    },
    Some("""
      WITH run1 AS (SELECT event_id, user_id, event_type, value, ts
                    FROM events WHERE event_id < 6000),
      run2 AS (SELECT event_id, user_id, event_type, value * 2 AS value,
                 ts + INTERVAL 1 HOUR AS ts
               FROM events WHERE event_id >= 4000)
      SELECT COALESCE(t.event_id, s.event_id) AS event_id,
        CASE WHEN s.event_id IS NULL THEN t.user_id
             WHEN t.event_id IS NULL THEN s.user_id
             WHEN s.ts >= t.ts THEN s.user_id ELSE t.user_id END AS user_id,
        CASE WHEN s.event_id IS NULL THEN t.event_type
             WHEN t.event_id IS NULL THEN s.event_type
             WHEN s.ts >= t.ts THEN s.event_type ELSE t.event_type END AS event_type,
        CASE WHEN s.event_id IS NULL THEN t.value
             WHEN t.event_id IS NULL THEN s.value
             WHEN s.ts >= t.ts THEN s.value ELSE t.value END AS value,
        CASE WHEN s.event_id IS NULL THEN t.ts
             WHEN t.event_id IS NULL THEN s.ts
             WHEN s.ts >= t.ts THEN s.ts ELSE t.ts END AS ts
      FROM run1 t FULL JOIN run2 s ON t.event_id = s.event_id"""))

  private def nib(h: Column, pos: Int): Column =
    expr(s"instr('0123456789abcdef', substring(__fp, $pos, 1)) - 1")

  /** Multimodal metadata: payloads as binary columns, deterministic
    * decode stub (byte length, md5 fingerprint, digest-derived fake
    * dimensions). The partition-batched Dataset decode in
    * operators.Multimodal computes the same values (asserted in specs);
    * this expression form is the oracle-checkable surface.
    */
  val q37 = Q("q37_multimodal_meta",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val kind = when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video")
      val hex4 = (start: Int) =>
        (0 until 4).map(i => nib(col("__fp"), start + i) *
          lit(math.pow(16, 3 - i).toInt)).reduce(_ + _)
      d.select(col("doc_id"), kind.as("kind"), col("text").cast("binary")
          .as("content"))
        .withColumn("__fp", md5(col("content")))
        .select(col("doc_id"), col("kind"),
          length(col("content")).cast("long").as("n_bytes"),
          col("__fp").as("fingerprint"),
          (lit(64) + (hex4(1) % 1920)).cast("long").as("width"),
          (lit(64) + (hex4(5) % 1080)).cast("long").as("height"))
    },
    Some("""
      WITH b AS (SELECT doc_id,
          CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               ELSE 'video' END AS kind,
          octet_length(encode(text)) AS n_bytes, md5(text) AS fp
        FROM documents),
      n AS (SELECT *,
          (strpos('0123456789abcdef', substr(fp, 1, 1)) - 1) * 4096 +
          (strpos('0123456789abcdef', substr(fp, 2, 1)) - 1) * 256 +
          (strpos('0123456789abcdef', substr(fp, 3, 1)) - 1) * 16 +
          (strpos('0123456789abcdef', substr(fp, 4, 1)) - 1) AS h1,
          (strpos('0123456789abcdef', substr(fp, 5, 1)) - 1) * 4096 +
          (strpos('0123456789abcdef', substr(fp, 6, 1)) - 1) * 256 +
          (strpos('0123456789abcdef', substr(fp, 7, 1)) - 1) * 16 +
          (strpos('0123456789abcdef', substr(fp, 8, 1)) - 1) AS h2
        FROM b)
      SELECT doc_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
             fp AS fingerprint,
             CAST(64 + (h1 % 1920) AS BIGINT) AS width,
             CAST(64 + (h2 % 1080) AS BIGINT) AS height
      FROM n"""))

  /** A1 via the SQL surface of the custom Catalyst
    * TypedImperativeAggregate (`percentile_disc_exact`,
    * functions.PercentileDiscAgg) — the aggregate operators.Popularity
    * runs, called by name.
    */
  val q38 = Q("q38_percentile_agg",
    (s, dir) => {
      PercentileDiscAgg.register(s)
      Tables(s, dir, "events")
        .groupBy((col("user_id") % 10).as("bucket"))
        .agg(expr("percentile_disc_exact(value, 0.85D)").as("pct"))
    },
    Some("""
      SELECT user_id % 10 AS bucket,
             percentile_disc(0.85) WITHIN GROUP (ORDER BY value) AS pct
      FROM events GROUP BY user_id % 10"""))

  private val licenseDimValues = LicenseMap.pathMap
    .map { case (p, l, v) => s"('$p', '$l', '$v')" }.mkString(", ")

  /** P2 — license URL → canonical (license, version) via the frozen
    * broadcast path map (all 68 entries of `licenses/constants.py:3-93`:
    * 1.0–4.0 eras, 2.1 jurisdiction ports, by-nd-nc/publicdomain/mark
    * special cases, sampling+ paths, legalcode/deed suffix strip);
    * unknown URLs resolve to nulls (droppable).
    */
  val q39 = Q("q39_license_resolve",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val rawUrl = when(col("doc_id") % 12 === 0,
          "https://creativecommons.org/licenses/by/4.0/")
        .when(col("doc_id") % 12 === 1,
          "http://creativecommons.org/licenses/by-sa/3.0")
        .when(col("doc_id") % 12 === 2,
          "https://creativecommons.org/publicdomain/zero/1.0/")
        .when(col("doc_id") % 12 === 3,
          "https://creativecommons.org/licenses/by-nc/2.5/")
        .when(col("doc_id") % 12 === 4, "https://example.com/other")
        .when(col("doc_id") % 12 === 5,
          "https://creativecommons.org/licenses/by/2.1/jp/")
        .when(col("doc_id") % 12 === 6,
          "https://creativecommons.org/licenses/by-nd-nc/1.0/")
        .when(col("doc_id") % 12 === 7,
          "https://creativecommons.org/licenses/publicdomain/")
        .when(col("doc_id") % 12 === 8,
          "https://creativecommons.org/licenses/mark/1.0/")
        .when(col("doc_id") % 12 === 9,
          "https://creativecommons.org/licenses/sampling+/1.0/")
        .when(col("doc_id") % 12 === 10,
          "http://creativecommons.org/licenses/BY-NC-SA/2.0/legalcode")
        .otherwise("https://creativecommons.org/licenses/unknown/9.9")
      LicenseMap.resolve(d.select(col("doc_id"), rawUrl.as("raw_url")),
          "raw_url")
        .select("doc_id", "raw_url", "license", "license_version")
    },
    Some(s"""
      WITH dim(license_path, license, license_version) AS
        (VALUES $licenseDimValues),
      u AS (SELECT doc_id,
          CASE doc_id % 12
            WHEN 0 THEN 'https://creativecommons.org/licenses/by/4.0/'
            WHEN 1 THEN 'http://creativecommons.org/licenses/by-sa/3.0'
            WHEN 2 THEN 'https://creativecommons.org/publicdomain/zero/1.0/'
            WHEN 3 THEN 'https://creativecommons.org/licenses/by-nc/2.5/'
            WHEN 4 THEN 'https://example.com/other'
            WHEN 5 THEN 'https://creativecommons.org/licenses/by/2.1/jp/'
            WHEN 6 THEN 'https://creativecommons.org/licenses/by-nd-nc/1.0/'
            WHEN 7 THEN 'https://creativecommons.org/licenses/publicdomain/'
            WHEN 8 THEN 'https://creativecommons.org/licenses/mark/1.0/'
            WHEN 9 THEN 'https://creativecommons.org/licenses/sampling+/1.0/'
            WHEN 10 THEN 'http://creativecommons.org/licenses/BY-NC-SA/2.0/legalcode'
            ELSE 'https://creativecommons.org/licenses/unknown/9.9'
          END AS raw_url
        FROM documents),
      p AS (SELECT doc_id, raw_url,
          regexp_replace(regexp_extract(lower(raw_url),
            '(?:^|//)creativecommons\\.org/([a-z/.0-9+-]+?)(?:/(?:legalcode|deed)[.a-z]*)?/?$$', 1),
            '/$$', '') AS license_path
        FROM u)
      SELECT doc_id, raw_url, license, license_version
      FROM p LEFT JOIN dim USING (license_path)"""))

  private val licenseReverseDimValues = LicenseMap.reverseMap
    .map { case (l, v, p) => s"('$l', '$v', '$p')" }.mkString(", ")

  /** P2 pair fallback (`licenses.get_license_info_from_license_pair:
    * 191-209` + `_ensure_license_version_string:212-226`): validate a
    * (license, version) pair against the reverse map — float-normalizing
    * the version, honoring the 2.1-unported → 2.0 downgrades — and derive
    * the canonical CC URL.
    */
  val q47 = Q("q47_license_pair",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val lic = when(col("doc_id") % 8 === 0, "by")
        .when(col("doc_id") % 8 === 1, "by-nc-nd")
        .when(col("doc_id") % 8 === 2, "cc0")
        .when(col("doc_id") % 8 === 3, "by-sa")
        .when(col("doc_id") % 8 === 4, "publicdomain")
        .when(col("doc_id") % 8 === 5, "notalicense")
        .when(col("doc_id") % 8 === 6, "pdm")
        .otherwise("by")
      val ver = when(col("doc_id") % 8 === 0, "4.0")
        .when(col("doc_id") % 8 === 1, "2.1")
        .when(col("doc_id") % 8 === 2, "1.0")
        .when(col("doc_id") % 8 === 3, "2")
        .when(col("doc_id") % 8 === 4, "N/A")
        .when(col("doc_id") % 8 === 5, "1.0")
        .when(col("doc_id") % 8 === 6, "1.0")
        .otherwise(lit(null).cast("string"))
      LicenseMap.resolvePair(
          d.select(col("doc_id"), lic.as("license"), ver.as("version")),
          "license", "version")
        .select("doc_id", "license", "version", "license_version_n",
          "license_url")
    },
    Some(s"""
      WITH rdim(license, version_n, license_path) AS
        (VALUES $licenseReverseDimValues),
      u AS (SELECT doc_id,
          CASE doc_id % 8
            WHEN 0 THEN 'by' WHEN 1 THEN 'by-nc-nd' WHEN 2 THEN 'cc0'
            WHEN 3 THEN 'by-sa' WHEN 4 THEN 'publicdomain'
            WHEN 5 THEN 'notalicense' WHEN 6 THEN 'pdm' ELSE 'by'
          END AS license,
          CASE doc_id % 8
            WHEN 0 THEN '4.0' WHEN 1 THEN '2.1' WHEN 2 THEN '1.0'
            WHEN 3 THEN '2' WHEN 4 THEN 'N/A' WHEN 5 THEN '1.0'
            WHEN 6 THEN '1.0' ELSE NULL
          END AS version
        FROM documents),
      n AS (SELECT doc_id, license, version,
          CASE WHEN version = 'N/A' THEN version
               ELSE CAST(TRY_CAST(version AS DOUBLE) AS VARCHAR) END
            AS license_version_n
        FROM u)
      SELECT doc_id, n.license AS license, version, license_version_n,
        CASE WHEN license_path IS NOT NULL
             THEN 'https://creativecommons.org/' || license_path || '/'
        END AS license_url
      FROM n LEFT JOIN rdim
        ON n.license = rdim.license AND n.license_version_n = rdim.version_n"""))

  /** P17 — HTML → text extraction over synthesized description markup,
    * via the native single-pass expression (byte-equal to the regex
    * chain the oracle mirrors).
    */
  val q40 = Q("q40_html_strip",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val html = concat(lit("<p class=\"d\">"), substring(col("text"), 1, 40),
        lit(" &amp; <b>"), col("source"), lit("</b> &lt;tail&gt;</p>"))
      d.select(col("doc_id"),
        CleanFunctions.htmlToTextNative(html).as("description"))
    },
    Some("""
      WITH h AS (SELECT doc_id,
          '<p class="d">' || substring(text, 1, 40) || ' &amp; <b>' ||
            source || '</b> &lt;tail&gt;</p>' AS html
        FROM documents)
      SELECT doc_id,
        trim(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            html, '<[^>]*>', ' ', 'g'),
            '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
          '\s+', ' ', 'g')) AS description
      FROM h"""))

  /** J6 map strategy — jsonb-object merge: key-level union where
    * non-null incoming keys win and null-valued keys are stripped
    * (columns.py:47-52). Merged fields projected to columns for
    * engine-portable comparison.
    */
  val q41 = Q("q41_map_merge",
    (s, dir) => {
      s.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      val d = Tables(s, dir, "documents")
      val target = d.select(col("doc_id"),
        map(lit("a"), when(col("doc_id") % 7 === 0, lit(null).cast("string"))
              .otherwise(col("doc_id").cast("string")),
            lit("b"), col("source")).as("meta"))
      val staged = d.filter(col("doc_id") % 2 === 0).select(col("doc_id"),
        map(lit("b"), when(col("doc_id") % 5 === 0, lit(null).cast("string"))
              .otherwise(concat(lit("u"), col("doc_id").cast("string"))),
            lit("c"), col("lang")).as("meta"))
      val merged = MergeUpsert.merge(target, staged, Seq("doc_id"),
        Map("meta" -> (MergeUpsert.Strategy.mergeMap _)))
      merged.select(col("doc_id"),
        element_at(col("meta"), "a").as("a"),
        element_at(col("meta"), "b").as("b"),
        element_at(col("meta"), "c").as("c"))
    },
    Some("""
      WITH target AS (SELECT doc_id,
          CASE WHEN doc_id % 7 = 0 THEN NULL ELSE CAST(doc_id AS VARCHAR) END AS a,
          source AS b
        FROM documents),
      staged AS (SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 'u' || doc_id END AS b,
          lang AS c
        FROM documents WHERE doc_id % 2 = 0)
      SELECT COALESCE(t.doc_id, s.doc_id) AS doc_id,
             t.a AS a,
             COALESCE(s.b, t.b) AS b,
             s.c AS c
      FROM target t FULL JOIN staged s ON t.doc_id = s.doc_id"""))

  /** Per-kind blob dedup + storage accounting
    * ([[graft.operators.Multimodal.dedupStats]]): exact content
    * fingerprint groups within each media kind → blobs, distinct
    * payloads, total bytes, reclaimable bytes. Blobs are synthesized
    * from document text like q37 (64-char truncation so the corpus
    * carries real duplicate payloads); only the 16-byte fingerprint
    * ever shuffles.
    */
  val q91 = Q("q91_blob_dedup",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val kind = when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video")
      graft.operators.Multimodal.dedupStats(
        d.select(col("doc_id"), kind.as("kind"),
          substring(col("text"), 1, 64).cast("binary").as("content")),
        "doc_id", "kind", "content")
    },
    Some("""
      WITH b AS (SELECT
          CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               ELSE 'video' END AS kind,
          md5(substr(text, 1, 64)) AS fp,
          octet_length(encode(substr(text, 1, 64))) AS n_bytes
        FROM documents WHERE text IS NOT NULL),
      g AS (SELECT kind, fp, COUNT(*) AS cnt, MIN(n_bytes) AS bytes
            FROM b GROUP BY kind, fp)
      SELECT kind, CAST(SUM(cnt) AS BIGINT) AS n_blobs,
        COUNT(*) AS n_distinct,
        CAST(SUM(cnt * bytes) AS BIGINT) AS total_bytes,
        CAST(SUM((cnt - 1) * bytes) AS BIGINT) AS reclaim_bytes
      FROM g GROUP BY kind"""))

  /** The embed → dedup tail of q104/q106/q108: the embedded blobs
    * grouped by a 64-bit digest of their embedding — `grp` the group's
    * min id, `grp_size` its size — and the embedding unpivoted to
    * scalar `(idx, val)` rows. `carry` are the per-blob columns the
    * output keeps between `doc` and `grp`.
    *
    * The dedup is a window over the digest (q107's "group on a digest
    * at 100 TB" shape), so the decode projection below it runs exactly
    * once: the previous aggregate+join-back form recomputed it for the
    * join side, measured 2x the decode cost at sf1. One shuffle,
    * partitions bounded by true duplicate-group size; a digest
    * collision (odds ~2^-64) would hash-mismatch against the oracle's
    * seed classes. The unpivot keeps every decoded value hash-pinned by
    * the oracle comparator, which cannot sort array cells.
    */
  private def digestDedup(emb: DataFrame, carry: String*): DataFrame = {
    val w = Window.partitionBy(xxhash64(to_json(col("embedding"))))
    val out = ("doc" +: carry :+ "grp" :+ "grp_size").map(col)
    emb.select(col("id").as("doc") +: carry.map(col) :+
        min("id").over(w).as("grp") :+ count(lit(1)).over(w).as("grp_size") :+
        col("embedding"): _*)
      .select(out :+ posexplode(col("embedding")).as(Seq("i", "val")): _*)
      .select(out :+ col("i").cast("long").as("idx") :+ col("val"): _*)
  }

  /** The seed-class oracle tail of q104/q106/q108: equal payloads embed
    * equally, so a doc's group is its payload's seed class (`doc_id %
    * mod`) and `grp` the class's min id. Output: `doc`, the constant
    * `carry` columns, the group, and the features `f(doc_id, idx, val)`.
    */
  private def seedClassTail(mod: Int, carry: String) = s"""grp AS (
        SELECT doc_id % $mod AS seed, MIN(doc_id) AS grp,
               COUNT(*) AS grp_size
        FROM documents GROUP BY 1)
      SELECT f.doc_id AS doc, $carry, g.grp, g.grp_size,
             CAST(f.idx AS BIGINT) AS idx, f.val
      FROM f JOIN grp g ON f.doc_id % $mod = g.seed"""

  /** The synthetic PNGs' decoded pixels from their formula: `px` every
    * (doc, x, y) of the 16×16 image, docs filtered by `where`, and `pm`
    * the 4×4-patch channel means.
    */
  private def imagePixelCtes(px: String, pm: String, where: String) =
    s"""$px AS (
        SELECT d.doc_id, d.doc_id % 251 AS seed, x.x, y.y
        FROM documents d
        CROSS JOIN generate_series(0, 15) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)$where),
      $pm AS (
        SELECT doc_id, y // 4 AS gy, x // 4 AS gx,
          CAST(SUM((seed*31 + x*7 + y*13) % 256) AS DOUBLE) / 16 AS mr,
          CAST(SUM((seed*17 + x*3 + y*5) % 256) AS DOUBLE) / 16 AS mg,
          CAST(SUM((seed*29 + x*11 + y*3) % 256) AS DOUBLE) / 16 AS mb
        FROM $px GROUP BY 1, 2, 3)"""

  /** The synthetic GIFs' decoded frames from their formula: `px` the
    * palette index of every (doc, sampled frame, x, y), docs filtered by
    * `where` (`seed` an extra leading column), and `pm` each frame's
    * 2×2-patch channel means.
    */
  private def videoPixelCtes(px: String, pm: String, seed: String,
      where: String) = s"""$px AS (
        SELECT d.doc_id, ${seed}s.s, x.x, y.y,
          ((d.doc_id % 61)*31 + (s.s*2)*37 + x.x*7 + y.y*13) % 256 AS pi
        FROM documents d
        CROSS JOIN generate_series(0, 3) AS s(s)
        CROSS JOIN generate_series(0, 15) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)$where),
      $pm AS (
        SELECT doc_id, s, y // 8 AS gy, x // 8 AS gx,
          CAST(SUM(pi) AS DOUBLE) / 64 AS mr,
          CAST(SUM((pi*3) % 256) AS DOUBLE) / 64 AS mg,
          CAST(SUM((pi*7) % 256) AS DOUBLE) / 64 AS mb
        FROM $px GROUP BY 1, 2, 3, 4)"""

  /** Each media kind's synthetic payload of a doc id: pixels, samples
    * and frames are pure functions of the id's seed class (`id % 251`,
    * `% 97`, `% 61`), which the oracles recompute from their formulas.
    */
  private val mediaPayload: Map[String, Long => Array[Byte]] = Map(
    "image" -> (id => Multimodal.syntheticPng(id % 251)),
    "audio" -> (id => Multimodal.syntheticWav(id % 97)),
    "video" -> (id => Multimodal.syntheticGif(id % 61)))

  /** One synthetic `kind` blob per document. */
  private def mediaBlobs(s: SparkSession, dir: String, kind: String)
      : Dataset[Multimodal.MediaBlob] = {
    import s.implicits._
    val payload = mediaPayload(kind)
    Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => Multimodal.MediaBlob(id, kind, payload(id))))
  }

  /** The `doc_id % 4` modality router of q107 and q109: image, audio
    * and video docs carry their synthetic payload, text docs their
    * UTF-8 text.
    */
  private def routedBlob(id: Long, text: String): Multimodal.MediaBlob =
    Seq("image", "audio", "video").lift((id % 4).toInt) match {
      case Some(kind) => Multimodal.MediaBlob(id, kind, mediaPayload(kind)(id))
      case None => Multimodal.MediaBlob(id, "text",
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** The multimodal pillar END TO END REAL: synthesize one 16×16 PNG
    * per document (pixels a pure function of `doc_id % 251` —
    * [[graft.operators.Multimodal.syntheticPng]]), DECODE it with the
    * actual codec, embed the decoded pixels as 4×4-patch color means
    * ([[graft.operators.Multimodal.embedImage]]; exact rationals, so
    * the oracle compares values exactly), and dedup by embedding
    * identity — 251 seed classes → every class's docs collapse to one
    * group. The oracle recomputes the patch means FROM THE PIXEL
    * FORMULA (PNG is lossless, so true decode ⇒ identical values):
    * any decode, channel-order, patch-indexing, or averaging bug
    * hash-mismatches. Group equality doubles as the proof that equal
    * payloads embed equally and distinct payloads don't collide.
    *
    * Scale shape: encode+decode+embed is ONE mapPartitions projection
    * — decoded exactly once via the digest-window dedup
    * ([[digestDedup]]).
    */
  val q104 = Q("q104_image_embed_dedup",
    (s, dir) => digestDedup(Multimodal.embedImage(
      mediaBlobs(s, dir, "image"), grid = 4).toDF(), "width", "height"),
    Some(s"""
      WITH ${imagePixelCtes("px", "pm", "")},
      f AS (
        SELECT doc_id, (gy*4 + gx)*3 + c.c AS idx,
          CASE c.c WHEN 0 THEN mr WHEN 1 THEN mg ELSE mb END AS val
        FROM pm CROSS JOIN generate_series(0, 2) AS c(c)),
      ${seedClassTail(251,
        "CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height")}"""))

  /** The AUDIO leg of the multimodal pillar, end to end real:
    * synthesize one 64-sample WAV per document (16-bit PCM samples a
    * pure function of `doc_id % 97` —
    * [[graft.operators.Multimodal.syntheticWav]]), DECODE it with the
    * JVM's actual RIFF/PCM codec, embed the decoded frames as 8-band
    * [mean, mean-abs] envelope statistics
    * ([[graft.operators.Multimodal.embedAudio]]; integer sums over
    * power-of-two windows → exact doubles, so the oracle compares
    * values exactly), and dedup by embedding identity — 97 seed
    * classes. The oracle recomputes the band stats FROM THE SAMPLE
    * FORMULA (WAV is lossless): any container-parse, endianness,
    * sign-extension, or band-indexing bug hash-mismatches.
    *
    * Scale shape: encode+decode+embed is ONE mapPartitions projection
    * — decoded exactly once via the digest-window dedup
    * ([[digestDedup]]; the decode here is the trio's most expensive per
    * blob, ~360 us of javax.sound SPI probing per WAV, so not paying it
    * twice matters most on this leg).
    */
  val q106 = Q("q106_audio_embed_dedup",
    (s, dir) => digestDedup(Multimodal.embedAudio(
        mediaBlobs(s, dir, "audio"), bands = 8).toDF(),
      "sample_rate", "n_samples"),
    Some(s"""
      WITH s AS (
        SELECT d.doc_id, d.doc_id % 97 AS seed, i.i,
          ((d.doc_id % 97)*131071 + i.i*8191) % 65536 - 32768 AS v
        FROM documents d CROSS JOIN generate_series(0, 63) AS i(i)),
      b AS (
        SELECT doc_id, i // 8 AS band,
          CAST(SUM(v) AS DOUBLE) / 8 AS mean,
          CAST(SUM(ABS(v)) AS DOUBLE) / 8 AS mabs
        FROM s GROUP BY 1, 2),
      f AS (
        SELECT doc_id, band*2 + c.c AS idx,
          CASE c.c WHEN 0 THEN mean ELSE mabs END AS val
        FROM b CROSS JOIN generate_series(0, 1) AS c(c)),
      ${seedClassTail(97, "CAST(8000 AS DOUBLE) AS sample_rate, " +
        "CAST(64 AS INTEGER) AS n_samples")}"""))

  /** Cross-modal dedup router — the capstone of the multimodal pillar:
    * ONE scan over `documents` routes each row to its modality
    * (doc_id % 4 → image / audio / video / text), synthesizes the
    * payload, decodes it with the REAL codec
    * ([[graft.operators.Multimodal.imagePatchMeans]] /
    * [[graft.operators.Multimodal.audioBandStats]] /
    * [[graft.operators.Multimodal.videoFrameFeatures]] — the pure
    * per-blob hooks behind q104/q106/q108's embeddings), and dedups on
    * the canonical per-modality key: decoded-pixel patch means for
    * images, decoded PCM band stats for audio, sampled decoded-frame
    * means for video, content md5 for text. The oracle knows the
    * feature formulas collapse exactly by seed (q104/q106/q108 pin
    * that), so it groups by seed class — ANY divergence between
    * feature-equality and seed-equality (a feature bug splitting or
    * colliding classes) hash-mismatches here.
    *
    * Scale shape: a single projection computes every modality's key in
    * one pass (no per-modality re-scan), then ONE shuffle: a window
    * partitioned by a 64-bit xxhash64 digest of the dedup class
    * (kind + features + text hash), whose partitions are bounded by
    * true duplicate-group size. The features never cross the exchange
    * — rows shrink to (doc, kind, digest) before the shuffle.
    */
  val q107 = Q("q107_multimodal_route_dedup",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val keyed = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, text) =>
          val b = routedBlob(id, text)
          val f = b.kind match {
            case "image" => Multimodal.imagePatchMeans(b.content).get._3
            case "audio" => Multimodal.audioBandStats(b.content).get._4
            case "video" => Multimodal.videoFrameFeatures(b.content).get._3
            case _ => Array.empty[Double]
          }
          (id, b.kind, f.toSeq, if (b.kind == "text") text else "")
        }
      }.toDF("doc", "kind", "embedding", "text")
        // collapse every modality's key to ONE 64-bit digest before
        // the exchange: the embedding never needs to survive the
        // shuffle (the output is doc/grp/keep), so the exchange row is
        // ~40 bytes instead of the 48-double vector — the "group on a
        // digest at 100 TB" shape, implemented rather than promised
        // (collision odds ~2^-64; the seed-class oracle would catch
        // any merge it caused)
        .select(col("doc"), col("kind"),
          xxhash64(col("kind"), to_json(col("embedding")),
            when(col("kind") === "text", md5(col("text")))
              .otherwise(lit(""))).as("class_key"))
      val w = Window.partitionBy("class_key")
      val grp = min("doc").over(w)
      keyed.select(col("doc"), col("kind"), grp.as("grp"),
        count(lit(1)).over(w).as("grp_size"),
        (col("doc") === grp).as("keep"))
    },
    Some("""
      WITH cls AS (
        SELECT doc_id AS doc,
          CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            WHEN 2 THEN 'video' ELSE 'text' END AS kind,
          CASE doc_id % 4
            WHEN 0 THEN concat('i', doc_id % 251)
            WHEN 1 THEN concat('a', doc_id % 97)
            WHEN 2 THEN concat('v', doc_id % 61)
            ELSE concat('t', md5(text)) END AS k
        FROM documents),
      g AS (
        SELECT k, MIN(doc) AS grp, COUNT(*) AS grp_size
        FROM cls GROUP BY 1)
      SELECT c.doc, c.kind, g.grp, g.grp_size, c.doc = g.grp AS keep
      FROM cls c JOIN g USING (k)"""))

  /** The VIDEO leg of the multimodal pillar, end to end real:
    * synthesize one 8-frame animated GIF per document (indexed-color
    * frames, pixel index a pure function of `doc_id % 61` —
    * [[graft.operators.Multimodal.syntheticGif]]), SEEK + DECODE 4
    * evenly-spaced frames with the JVM's actual GIF codec, and
    * concatenate each decoded frame's 2×2 patch color means
    * ([[graft.operators.Multimodal.embedVideo]]). Indexed frames make
    * the LZW round-trip lossless, so the oracle recomputes the
    * 48-double embedding FROM THE INDEX + PALETTE FORMULAS — any
    * frame-addressing, palette-lookup, channel-order or patch-layout
    * bug hash-mismatches. Dedup groups by embedding — 61 seed classes.
    *
    * Scale shape: encode+seek+decode+embed is ONE mapPartitions
    * projection (only sampled frames decode, never the whole
    * animation) — decoded exactly once via the digest-window dedup
    * ([[digestDedup]]).
    */
  val q108 = Q("q108_video_frame_dedup",
    (s, dir) => digestDedup(Multimodal.embedVideo(
      mediaBlobs(s, dir, "video"), sample = 4, grid = 2).toDF(), "n_frames"),
    Some(s"""
      WITH ${videoPixelCtes("px", "pm", "d.doc_id % 61 AS seed, ", "")},
      f AS (
        SELECT doc_id, s*12 + (gy*2 + gx)*3 + c.c AS idx,
          CASE c.c WHEN 0 THEN mr WHEN 1 THEN mg ELSE mb END AS val
        FROM pm CROSS JOIN generate_series(0, 2) AS c(c)),
      ${seedClassTail(61, "CAST(8 AS INTEGER) AS n_frames")}"""))

  /** Decoded-signal quality gates over a mixed-modality corpus — the
    * multimodal twin of the Gopher text rules (q52): route each
    * document to its modality, decode with the REAL codec
    * ([[graft.operators.Multimodal.qualitySignals]]), and emit the
    * per-kind primary/auxiliary metrics plus a threshold keep policy:
    * mean decoded luminance + min dimension (image), mean |PCM
    * sample| + true duration (audio), sampled-frame luminance + true
    * container frame count (video), alpha fraction + length (text).
    * Every metric is an exact rational of decoded values (power-of-
    * two denominators up to one final rounded division that both
    * engines perform identically), so the oracle recomputes them from
    * the payload formulas and the whole gate hash-checks.
    *
    * Scale shape: ONE projection, ZERO shuffles — quality gating at
    * 100 TB is embarrassingly parallel and must stay that way.
    */
  val q109 = Q("q109_multimodal_quality",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val blobs = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, text) => routedBlob(id, text) }
      }
      Multimodal.qualitySignals(blobs).toDF()
        .select(col("id").as("doc"), col("kind"), col("decodable"),
          col("q_main"), col("q_aux"),
          (col("decodable") && (
            when(col("kind") === "image",
              col("q_main") >= 64 && col("q_main") <= 192 &&
                col("q_aux") >= 8)
            .when(col("kind") === "audio",
              col("q_main") >= 4096 && col("q_aux") >= 5)
            .when(col("kind") === "video",
              col("q_main") >= 64 && col("q_main") <= 192 &&
                col("q_aux") >= 4)
            .otherwise(col("q_main") >= 0.5 && col("q_aux") >= 10)))
            .as("keep"))
    },
    Some(s"""
      WITH ${imagePixelCtes("ipx", "ipm", " WHERE d.doc_id % 4 = 0")},
      img AS (
        SELECT doc_id, SUM(mr + mg + mb) / 48 AS q_main,
               CAST(16 AS DOUBLE) AS q_aux
        FROM ipm GROUP BY 1),
      asm AS (
        SELECT d.doc_id,
          ABS(((d.doc_id % 97)*131071 + i.i*8191) % 65536 - 32768) AS av
        FROM documents d CROSS JOIN generate_series(0, 63) AS i(i)
        WHERE d.doc_id % 4 = 1),
      aud AS (
        SELECT doc_id, CAST(SUM(av) AS DOUBLE) / 64 AS q_main,
               CAST(8 AS DOUBLE) AS q_aux
        FROM asm GROUP BY 1),
      ${videoPixelCtes("vpx", "vpm", "", " WHERE d.doc_id % 4 = 2")},
      vid AS (
        SELECT doc_id, SUM(mr + mg + mb) / 48 AS q_main,
               CAST(8 AS DOUBLE) AS q_aux
        FROM vpm GROUP BY 1),
      txt AS (
        SELECT doc_id,
          CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
            AS DOUBLE) / length(text) AS q_main,
          CAST(length(text) AS DOUBLE) AS q_aux
        FROM documents WHERE doc_id % 4 = 3),
      m AS (
        SELECT doc_id AS doc, 'image' AS kind, q_main, q_aux FROM img
        UNION ALL
        SELECT doc_id, 'audio', q_main, q_aux FROM aud
        UNION ALL
        SELECT doc_id, 'video', q_main, q_aux FROM vid
        UNION ALL
        SELECT doc_id, 'text', q_main, q_aux FROM txt)
      SELECT doc, kind, TRUE AS decodable, q_main, q_aux,
        CASE kind
          WHEN 'image' THEN q_main >= 64 AND q_main <= 192 AND q_aux >= 8
          WHEN 'audio' THEN q_main >= 4096 AND q_aux >= 5
          WHEN 'video' THEN q_main >= 64 AND q_main <= 192 AND q_aux >= 4
          ELSE q_main >= 0.5 AND q_aux >= 10 END AS keep
      FROM m"""))

  override def all: Seq[Q] =
    Seq(q34, q35, q36, q37, q38, q39, q40, q41, q47, q91, q104, q106,
      q107, q108, q109)
}
