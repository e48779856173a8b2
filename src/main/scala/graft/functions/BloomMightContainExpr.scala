package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd membership probe against a BROADCAST Bloom filter —
  * the join-pruning primitive: a huge scan side is prefiltered by a
  * small side's key sketch before any shuffle, exactly (a Bloom filter
  * has false positives, never false negatives, so rows it keeps are a
  * superset of the rows any subsequent exact join needs).
  *
  * The filter ships once per executor via the broadcast (a reference
  * object in the generated code), not per task; the probe hashes the
  * string's UTF-8 bytes directly (`mightContainBinary`), which is
  * bit-compatible with `putString`'s insertion path, so filters built
  * by `DataFrame.stat.bloomFilter` probe correctly.
  */
object BloomMightContainExpr {

  /** [[mightContain]] over a string key column. */
  def apply(key: Column, bloom: Broadcast[BloomFilter]): Column =
    Kernel.call(this, "mightContain", BooleanType, Seq(key -> StringType),
      Seq(bloom))

  def mightContain(key: UTF8String, bloom: Broadcast[BloomFilter])
      : Boolean =
    bloom.value.mightContainBinary(key.getBytes)
}

/** LONG-key sibling of [[BloomMightContainExpr]]: probes with
  * `mightContainLong`, bit-compatible with `putLong` — the insertion
  * path `DataFrame.stat.bloomFilter` uses for integral columns.
  */
object BloomMightContainLongExpr {

  /** [[mightContain]] over a long key column. */
  def apply(key: Column, bloom: Broadcast[BloomFilter]): Column =
    Kernel.call(this, "mightContain", BooleanType, Seq(key -> LongType),
      Seq(bloom))

  def mightContain(key: Long, bloom: Broadcast[BloomFilter]): Boolean =
    bloom.value.mightContainLong(key)
}
