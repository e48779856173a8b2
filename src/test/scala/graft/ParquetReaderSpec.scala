package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.core.RunProfile
import graft.sources.Parquet

/** [[graft.sources.Parquet.read]] is a drop-in for a plain parquet read:
  * the same frame schema (a footer marks REQUIRED columns non-null, a
  * read makes every column nullable either way, so the frame's schema
  * is what is compared) and the same rows, for every input shape the
  * engine reads — and no Spark job to open a table.
  */
class ParquetReaderSpec extends SparkSpec {

  /** Rows as sorted canonical strings: binary as hex, maps by key, so
    * two reads compare as multisets whatever their scan order.
    */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x'", "", "'")
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("<", ",", ">")
    case x => x.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(canon).sorted

  private def assertSameRead(paths: String*): Unit = {
    val plain = spark.read.parquet(paths: _*)
    val footer = Parquet.read(spark, paths: _*)
    assert(footer.schema == plain.schema, paths.mkString(","))
    val r = rows(footer)
    assert(r.nonEmpty && r == rows(plain), paths.mkString(","))
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"pq-$tag-").toString

  /** Jobs started by `f` on this thread. */
  private def jobsStartedBy(f: => Unit): Int = RunProfile(spark)(f)._2.jobs

  test("every testdata table reads the same, under both nanosAsLong values") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.get(key)
    try {
      for (nanos <- Seq("true", "false")) {
        spark.conf.set(key, nanos)
        Tables.names.foreach(n => assertSameRead(s"$sfDir/$n.parquet"))
      }
    } finally spark.conf.set(key, prior)
  }

  test("a Spark-written file with nested, decimal, temporal, binary and varchar columns") {
    val dir = tmp("types")
    val table = s"pq_reader_types_${System.nanoTime}"
    spark.sql(s"""CREATE TABLE $table (
      |  id BIGINT NOT NULL, amount DECIMAL(12,3), big DECIMAL(30,10),
      |  tags ARRAY<STRING>, attrs MAP<STRING, INT>,
      |  loc STRUCT<lat: DOUBLE, lon: DOUBLE, name: STRING>,
      |  ts TIMESTAMP, ts_ntz TIMESTAMP_NTZ, blob BINARY, code VARCHAR(8))
      |USING parquet LOCATION '$dir/t'""".stripMargin)
    try {
      spark.sql(s"""INSERT INTO $table VALUES
        |(1, 12.345, 123456789012345.0123456789, array('a', null, 'c'),
        |  map('x', 1, 'y', null), named_struct('lat', 1.5, 'lon', -2.25,
        |  'name', 'p'), TIMESTAMP'2024-01-02 03:04:05.678901',
        |  TIMESTAMP_NTZ'2024-01-02 03:04:05.678901', X'00FF10', 'abc'),
        |(2, null, null, null, null, null, null, null, null, null),
        |(3, -0.001, 0.0000000001, array(), map(), named_struct('lat',
        |  null, 'lon', 0.0, 'name', null), TIMESTAMP'1969-12-31 23:59:59',
        |  TIMESTAMP_NTZ'1900-01-01 00:00:00', X'', 'abcdefgh')
        |""".stripMargin)
      assertSameRead(s"$dir/t")
      // a Spark-written footer carries Spark's own schema, field
      // metadata included; inference prefers it to the physical schema
      val note = new MetadataBuilder().putString("comment", "provider code")
        .build()
      spark.table(table).withColumn("code", col("code").as("code", note))
        .write.parquet(s"$dir/meta")
      assertSameRead(s"$dir/meta")
      assert(Parquet.read(spark, s"$dir/meta").schema("code").metadata ==
        note)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a multi-file directory and several paths read the same") {
    val dir = tmp("multi")
    Tables(spark, sfDir, "lineitem").repartition(4)
      .write.parquet(s"$dir/li")
    val parts = new java.io.File(s"$dir/li").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts > 1)
    assertSameRead(s"$dir/li")
    Tables(spark, sfDir, "lineitem").limit(7).write.parquet(s"$dir/li2")
    assertSameRead(s"$dir/li", s"$dir/li2")
  }

  test("a cell_id-partitioned directory (the IVF layout) reads the same") {
    val dir = tmp("ivf")
    val emb = Tables(spark, sfDir, "embeddings")
    emb.withColumn("cell_id", pmod(col("vec_id"), lit(5)))
      .write.partitionBy("cell_id").parquet(s"$dir/idx")
    // the IVF index's own underscore entries must not be mistaken for data
    new java.io.File(s"$dir/idx/_batch_tags").mkdirs()
    new java.io.File(s"$dir/idx/_batch_tags/t1").createNewFile()
    assertSameRead(s"$dir/idx")
    assert(Parquet.read(spark, s"$dir/idx").columns.toSeq ==
      emb.columns.toSeq :+ "cell_id")
  }

  test("a path with no data file falls back to plain inference") {
    val dir = tmp("empty")
    new java.io.File(s"$dir/none/_staging").mkdirs()
    val plain = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(s"$dir/none"))
    val footer = intercept[org.apache.spark.sql.AnalysisException](
      Parquet.read(spark, s"$dir/none"))
    assert(footer.getCondition == plain.getCondition)
  }

  test("Tables.apply on all ten tables starts zero Spark jobs") {
    val jobs = jobsStartedBy {
      Tables.names.foreach(n => Tables(spark, sfDir, n).schema)
    }
    assert(jobs == 0)
    // the counter does see an inference job when one runs
    assert(jobsStartedBy(spark.read.parquet(s"$sfDir/nation.parquet")) > 0)
  }
}
