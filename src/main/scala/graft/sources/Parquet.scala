package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetSchemaBridge
import org.apache.spark.sql.types.StructType

/** The engine's one parquet reader. Every batch read of a parquet path
  * goes through [[read]] (a spec scans the sources for raw reads).
  *
  * A plain parquet read resolves its schema by inference, which Spark
  * runs as a scheduled 1-task job per read call, before the caller's
  * own work and whatever the file's size. [[read]] takes the schema
  * from ONE data file's footer on the driver instead
  * ([[ParquetSchemaBridge.footerSchema]]) and hands it to the reader as
  * an explicit schema, so opening a table starts no job. The result is
  * the frame inference would give: same columns, types and order, and
  * Spark still discovers `k=v` partition directories and appends their
  * columns after the file's.
  *
  * The footer is one data file's:
  *  - a path that is a file is that file;
  *  - a directory's first `*.parquet` file in name order, looking
  *    through its subdirectories (partition directories) when it holds
  *    none itself; names starting with `_` or `.` (commit markers,
  *    checksums, staging and version directories) are skipped;
  *  - several paths: the first path that holds a data file.
  * Inference without `mergeSchema` (which no engine session sets)
  * reads one file's footer too, and every writer here gives all files
  * under one path one schema, so which file is read does not matter.
  * Plain inference runs only for a path with no data file, so an empty
  * or missing path fails as a plain read does.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    schema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** Rows under `paths`: the sum of the footer row counts of every
    * data file [[read]] would scan, read on the driver, so sizing a
    * rewrite from it starts no Spark job. A missing path holds no rows.
    */
  def rowCount(spark: SparkSession, paths: String*): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, paths).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** The data schema [[read]] passes to Spark, or None where it falls
    * back to inference. Partition columns are not part of it.
    */
  private def schema(spark: SparkSession, paths: Seq[String])
      : Option[StructType] =
    dataFiles(spark.sessionState.newHadoopConf(), paths)
      .nextOption()
      .map(ParquetSchemaBridge.footerSchema(spark, _))

  /** The data files under `paths`, lazily and in path order. */
  private def dataFiles(conf: Configuration, paths: Seq[String])
      : Iterator[Path] =
    paths.iterator.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val status =
        try Some(fs.getFileStatus(path))
        catch { case _: FileNotFoundException => None }
      status.iterator.flatMap(dataFiles(fs, _))
    }

  /** The data files at `s`, lazily: a file is its own; a directory's
    * come in name order, its own files before its subdirectories'.
    */
  private def dataFiles(fs: FileSystem, s: FileStatus): Iterator[Path] =
    if (s.isFile) Iterator(s.getPath)
    else {
      val (files, dirs) = fs.listStatus(s.getPath)
        .filterNot(c => hidden(c.getPath.getName))
        .sortBy(_.getPath.getName)
        .partition(_.isFile)
      files.iterator
        .filter(f => f.getLen > 0 && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath) ++
        dirs.iterator.flatMap(dataFiles(fs, _))
    }

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")
}
