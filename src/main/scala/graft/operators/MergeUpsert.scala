package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's upsert pipeline re-expressed as a shuffle-conscious
  * DataFrame program.
  *
  * Reference semantics (openverse-catalog `catalog/dags/common/loader/sql.py`):
  *  - sql.py:214-219  — required-column filtering (DELETE rows with any
  *    required field NULL), counted per column;
  *  - sql.py:220-237  — intra-batch dedup on the logical key
  *    `(provider, md5(foreign_identifier))`, arbitrary survivor (ctid);
  *  - sql.py:319      — `DISTINCT ON (url)` pick-one within the batch;
  *  - sql.py:322-326  — anti-join dropping staged rows whose url already
  *    belongs to a *different* (provider, foreign_identifier) in the target;
  *  - sql.py:264-332  — `INSERT … ON CONFLICT (provider, md5(fid)) DO
  *    UPDATE` with per-column merge strategies from
  *    `catalog/dags/common/storage/columns.py:24-99`.
  *
  * We make the "arbitrary survivor" deterministic (smallest tiebreaker
  * wins) so results are reproducible and oracle-comparable.
  *
  * Scale design: the merge is a single shuffle on the logical key (a
  * full outer join); per-column strategies are pure Column expressions so
  * the whole merge stays inside whole-stage codegen. With a real lakehouse
  * table format this becomes `MERGE INTO`; the join rewrite below is the
  * format-agnostic equivalent and what Delta executes under the hood.
  */
object MergeUpsert {

  /** Per-column merge strategies (columns.py:24-99). `n` = incoming staged
    * column, `o` = existing target column.
    */
  object Strategy {
    /** newest_non_null: incoming value wins unless NULL. */
    def newestNonNull(n: Column, o: Column): Column = coalesce(n, o)
    /** false on update (e.g. removed_from_source). */
    def alwaysFalse(n: Column, o: Column): Column = lit(false)
    /** now: refresh the audit timestamp on every touch (updated_on). */
    def now(n: Column, o: Column): Column = current_timestamp()
    /** merge_array / merge_jsonb_arrays: distinct union, old first; NULL
      * falls back to whichever side exists (columns.py:55-74).
      */
    def mergeArray(n: Column, o: Column): Column =
      coalesce(array_distinct(concat(o, n)), n, o)
    /** merge_jsonb_objects: key-level union, new keys win
      * (jsonb_strip_nulls(old) || jsonb_strip_nulls(new), columns.py:47-52)
      * — for MapType columns.
      */
    def mergeMap(n: Column, o: Column): Column = {
      val strip = (c: Column) => map_filter(c, (_, v) => v.isNotNull)
      coalesce(map_concat(strip(o), strip(n)), n, o)
    }
  }

  /** Drop rows with any required column NULL. Returns the surviving frame;
    * per-column drop counts are computable in ONE pass via `missingCounts`.
    */
  def filterRequired(df: DataFrame, required: Seq[String]): DataFrame =
    df.filter(required.map(col(_).isNotNull).reduce(_ && _))

  /** Per-required-column missing counts + surviving row count, single
    * aggregate pass (the reference issues one DELETE per column;
    * loader/sql.py:214-219 + reporting loader/loader.py:57-67).
    */
  def missingCounts(df: DataFrame, required: Seq[String]): DataFrame = {
    val aggs = required.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"missing_$c")) :+
      sum(when(required.map(col(_).isNotNull).reduce(_ && _), 1L)
        .otherwise(0L)).as("surviving")
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic one-row-per-key dedup (replaces ctid / unordered
    * DISTINCT ON): smallest `tiebreak` wins. One shuffle on `keys`.
    */
  def dedupeByKey(df: DataFrame, keys: Seq[Column], tiebreak: Column)
      : DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(tiebreak.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Full upsert merge. `strategies` maps column name → merge expression
    * builder (incoming, existing) => merged. Key columns pass through.
    * Columns absent from `strategies` default to newest_non_null.
    */
  def merge(target: DataFrame, staged: DataFrame, keys: Seq[String],
      strategies: Map[String, (Column, Column) => Column] = Map.empty)
      : DataFrame = {
    // presence markers survive the full outer join where qualified key
    // references would not (using-join coalesces the key columns).
    val t = target.withColumn("__in_t", lit(true)).alias("t")
    val s = staged.withColumn("__in_s", lit(true)).alias("s")
    val joined = t.join(s, keys, "full_outer")
    val merged = target.columns.filterNot(keys.contains).map { c =>
      val strat = strategies.getOrElse(c, Strategy.newestNonNull _)
      val n = col(s"s.$c")
      val o = col(s"t.$c")
      when(col("__in_s").isNull, o)         // target-only row: keep old
        .when(col("__in_t").isNull, n)      // brand-new row: insert
        .otherwise(strat(n, o)).as(c)       // matched: per-column strategy
    }
    joined.select((keys.map(col) ++ merged): _*)
  }

  /** J7 — url-conflict drop (loader/sql.py:322-326): a staged row is
    * dropped iff its url already exists in the target under a DIFFERENT
    * logical key (`MD5(foreign_identifier) <> MD5(new.foreign_identifier)`).
    * A re-pull of the same record (same url, same fid) survives and goes
    * on to update via the key merge. One anti-join keyed on url.
    */
  def urlConflictFilter(staged: DataFrame, target: DataFrame,
      urlCol: String, fidCol: String): DataFrame = {
    val conflicts = target.select(col(urlCol).as("__c_url"),
      md5(col(fidCol)).as("__c_fid_md5"))
    staged.join(conflicts,
      col(urlCol) === col("__c_url") &&
        md5(col(fidCol)) =!= col("__c_fid_md5"),
      "left_anti")
  }

  /** J7 at catalog scale: the TARGET side of the url-conflict anti-join
    * is the 100 TB side, and shuffling all of it to reject a batch's
    * few conflicts is the dominant cost. This variant builds a Bloom
    * filter over the (small) staged batch's urls — one aggregation
    * pass, runs eagerly — broadcasts it, and prefilters the target
    * scan with a codegen'd probe BEFORE the shuffle: a target row
    * whose url the filter rejects cannot equal any staged url, so
    * dropping it never changes the anti-join's result (no false
    * negatives); false positives merely survive into the exact join.
    * Result is row-identical to [[urlConflictFilter]] — the filter
    * prunes the shuffle, never decides membership.
    */
  def urlConflictFilterBloom(staged: DataFrame, target: DataFrame,
      urlCol: String, fidCol: String, expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val bloom = staged.stat.bloomFilter(urlCol, expectedItems, fpp)
    val bc = staged.sparkSession.sparkContext.broadcast(bloom)
    val pruned = target.filter(
      graft.functions.BloomMightContainExpr(col(urlCol), bc))
    urlConflictFilter(staged, pruned, urlCol, fidCol)
  }

  /** Surrogate-key assignment (columns.py:417 `identifier uuid DEFAULT
    * uuid_generate_v4()`): rows without an identifier get a fresh v4
    * uuid; existing identifiers are stable across merges. Run AFTER
    * merge so only newly-inserted rows mint ids.
    */
  /** SCD Type-2 merge: fold a staged snapshot into a dimension HISTORY
    * table instead of overwriting in place (the [[merge]] above is the
    * reference's SCD1 semantics; warehouses also need the
    * validity-interval form).
    *
    * History schema = key cols + tracked attrs + (valid_from,
    * valid_to), valid_to NULL marking the current row. For each key:
    *  - staged row equal to the current row (all `tracked` attrs) →
    *    unchanged;
    *  - staged row differing → the current row CLOSES
    *    (valid_to = batchId) and the staged row opens
    *    (valid_from = batchId, valid_to = NULL);
    *  - brand-new key → opens at batchId;
    *  - key absent from the batch → unchanged (SCD2 never deletes).
    * Already-closed rows pass through untouched.
    *
    * One full-outer join of current-vs-staged on the keys (closed rows
    * never join), then each joined row EXPLODES in-row into its 1 or 2
    * output rows (a changed key yields close + open) — the join
    * executes once, no union arms re-running it, no window, no second
    * shuffle. NULL-safe attr comparison via `<=>`.
    */
  def scd2Merge(history: DataFrame, staged: DataFrame, keys: Seq[String],
      tracked: Seq[String], batchId: Long): DataFrame = {
    val outCols = keys ++ tracked ++ Seq("valid_from", "valid_to")
    val closed = history.filter(col("valid_to").isNotNull)
    val cur = history.filter(col("valid_to").isNull)
      .withColumn("__in_t", lit(true)).alias("t")
    val s = staged.withColumn("__in_s", lit(true)).alias("s")
    val joined = cur.join(s, keys, "full_outer")
    val changed = col("__in_t").isNotNull && col("__in_s").isNotNull &&
      !tracked.map(c => col(s"t.$c") <=> col(s"s.$c")).reduce(_ && _)
    def row(side: String, from: Column, to: Column) =
      struct(tracked.map(c => col(s"$side.$c").as(c)) ++
        Seq(from.as("valid_from"), to.cast("long").as("valid_to")): _*)
    val keepCur = row("t", col("t.valid_from"), col("t.valid_to"))
    val closeCur = row("t", col("t.valid_from"), lit(batchId))
    val open = row("s", lit(batchId), lit(null))
    val emitted =
      when(changed, array(closeCur, open))
        .when(col("__in_t").isNotNull, array(keepCur))
        .otherwise(array(open))
    closed.select(outCols.map(col): _*)
      .unionByName(joined
        .select(keys.map(col) :+ explode(emitted).as("r"): _*)
        .select(keys.map(col) ++
          (tracked ++ Seq("valid_from", "valid_to"))
            .map(c => col(s"r.$c").as(c)): _*))
  }

  def assignIdentifiers(df: DataFrame, idCol: String = "identifier")
      : DataFrame = {
    val existing = if (df.columns.contains(idCol)) col(idCol)
      else lit(null).cast("string")
    df.withColumn(idCol, coalesce(existing, expr("uuid()")))
  }
}
