package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** r17 optimization guard: the in-row cell assignment
  * (NearestCentroidExpr, zero-exchange) must be BIT-identical to the
  * aggregation form it replaced — crossJoin(broadcast(centroids)) →
  * groupBy(id).min_by(cell_id, struct(-cosine, cell_id)) — including
  * tie-breaks, on the same corpus the bench assigns.
  */
class NearestCentroidSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sfDir, "embeddings")

  private def aggregationForm(centroids: org.apache.spark.sql.DataFrame)
      : Map[Long, Int] =
    emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("sim",
        Similarity.cosineNative(col("embedding"), col("centroid")))
      .groupBy("vec_id")
      .agg(min_by(col("cell_id"),
        struct((-col("sim")).as("ns"), col("cell_id"))).as("cell_id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("in-row assignment matches the aggregation form bit-for-bit") {
    for (k <- Seq(3, 8, 16)) {
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = k, iters = 1, dim = 64)
      val expect = aggregationForm(cents)
      val got = Reference.assignCells(emb, cents, "vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == expect, s"k=$k: assignment diverged")
    }
  }

  test("assignment plan has zero exchanges") {
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 4, iters = 1, dim = 64)
    val plan = Reference.assignCells(emb, cents, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected narrow plan:\n$plan")
  }

  test("ties break toward the lower cell_id like the struct ordering") {
    // duplicate centroids => every vector's sims tie across the pair;
    // the struct ordering picks the LOWER cell_id
    val one = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 1, iters = 1, dim = 64).select(col("centroid")).collect()(0)
      .getSeq[Double](0)
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell_id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val dup = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(7, one),
      org.apache.spark.sql.Row(3, one)).asJava, schema)
    val got = Reference.assignCells(emb, dup, "vec_id", "embedding")
      .select("cell_id").distinct().collect().map(_.getInt(0)).toSeq
    assert(got == Seq(3), s"tie must pick cell 3, got $got")
  }
}
