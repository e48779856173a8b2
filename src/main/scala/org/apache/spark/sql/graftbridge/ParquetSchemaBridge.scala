package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Read a parquet file's Spark schema from its footer ON THE DRIVER —
  * no Spark job. A parquet read without an explicit schema runs schema
  * inference through `mergeSchemasInParallel`, which is a scheduled
  * 1-task Spark job per read call even for a single tiny file: a query
  * would pay one per table it opens, and a store-backed operator that
  * opens its segment tables a dozen times per invocation (q80's
  * nightly loop: ~17 such jobs of 20-200 ms each) a scheduling floor
  * that has nothing to do with data. The footer is a few KB of
  * driver-side filesystem I/O instead. Every engine read goes through
  * [[graft.sources.Parquet]], which finds the file and asks here.
  *
  * Lives under org.apache.spark.sql.* for `private[sql]` access to
  * ParquetToSparkSchemaConverter (same pattern as [[ColumnBridge]]).
  * The schema is the one inference would produce: the converter is
  * built from the same session flags as inference builds it (binary-
  * as-string, int96 timestamps, NTZ inference, the nanos-as-long
  * legacy flag this engine sets globally, unknown-annotation
  * handling), and a Spark-written file's own serialized schema (kept
  * in the footer's key-value metadata, with field metadata such as a
  * column comment) wins over the converted physical schema, exactly
  * as in `ParquetFileFormat.readSchemaFromFooter`.
  */
object ParquetSchemaBridge {

  /** Spark schema of `file` (a parquet data file), from its footer. */
  def footerSchema(spark: SparkSession, file: Path): StructType = {
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(file, spark.sessionState.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS)
    val sqlConf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
      nanosAsLong = sqlConf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      converter)
  }
}
