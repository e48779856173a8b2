package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Salted aggregation/join correctness: results must equal the direct
  * (unsalted) formulation.
  */
class SkewSpec extends SparkSpec {

  test("saltedSumCount equals direct groupBy on skewed events") {
    val e = Tables(spark, sfDir, "events")
    val direct = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    val salted = Skew.saltedSumCount(e, Seq("event_type"), "value", 8)
    // counts exact; double sums compared after rounding (salting changes
    // accumulation order, which is exactly why oracle queries use
    // decimal — this test only needs algebraic equivalence)
    val j = direct.withColumnRenamed("n", "n_d")
      .withColumnRenamed("total", "t_d")
      .join(salted, "event_type")
    assert(j.filter(col("n_d") =!= col("n")).count() == 0)
    assert(j.filter(abs(col("t_d") - col("total")) > 1e-6).count() == 0)
  }

  test("nearDupPairsSalted equals the unsalted blocked self-join") {
    val emb = Tables(spark, sfDir, "embeddings").limit(2000)
    // maxBlock large enough that s=1 everywhere -> the plain blocked join
    val plain = graft.operators.Similarity.nearDupPairsSalted(
      emb, "label", "vec_id", "embedding", 0.3,
      maxBlock = 1000000)
    // aggressively small cap -> every block salted into many buckets
    val salted = graft.operators.Similarity.nearDupPairsSalted(
      emb, "label", "vec_id", "embedding", 0.3, maxBlock = 17)
    assert(plain.count() == salted.count())
    assert(salted.exceptAll(plain).isEmpty &&
      plain.exceptAll(salted).isEmpty)
  }

  test("saltedJoin equals plain join") {
    val li = Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    val oo = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val direct = li.join(oo, "l_orderkey")
    val salted = Skew.saltedJoin(li, oo, "l_orderkey", 4)
    assert(direct.count() == salted.count())
    assert(salted.exceptAll(direct).isEmpty)
  }
}
