package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-side parquet writer for the store's LOCAL staged slices (r20,
  * guide §5 "the driver should do almost no data work" read the other way
  * around: a 500-row micro-batch slice IS driver work — scheduling a Spark
  * job, a Hadoop commit protocol (task/job setup, temp dirs, renames,
  * _SUCCESS) and a dynamic-partition writer around it is ~500 ms of fixed
  * cost per staged generation, measured as the sink family's single
  * largest driver term (`store.stage.write`, DriverProf r19/r20).
  *
  * This writes the SAME bytes the one-job write produced — Spark's own
  * `ParquetWriteSupport` over the session's parquet conf (legacy-format /
  * timestamp-type / rebase / field-id settings lifted exactly the way
  * `ParquetFileFormat.prepareWrite` lifts them) — directly from the
  * driver-resident rows to the final file, no job, no committer. It lives
  * in Spark's package namespace because `ParquetWriteSupport` is
  * `private[parquet]`; everything it touches is Apache Spark public
  * source.
  *
  * Callers own naming and atomicity: the store stages into an invisible
  * `_stage-<gen>` dir and renames committed files in, so a crash mid-write
  * leaves only unreferenced debris exactly as before.
  */
object GraftLocalParquet {

  private class Builder(out: HadoopOutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](out) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** The parquet conf `ParquetWriteSupport.init` requires — the same keys
    * `ParquetFileFormat.prepareWrite` sets on the job conf for a
    * distributed write, resolved from the live session.
    */
  def writeConf(spark: SparkSession, dataSchema: StructType): Configuration = {
    val sqlConf = spark.sessionState.conf
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    ParquetWriteSupport.setSchema(dataSchema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf
  }

  /** The session codec, resolved through Spark's own short-name table
    * ([[ParquetOptions]]) as the distributed write resolves it.
    */
  private def codecOf(spark: SparkSession): CompressionCodecName =
    CompressionCodecName.valueOf(
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf)
        .compressionCodecClassName)

  /** Write `rows` (already in the desired order) as ONE parquet file at
    * `path`, driver-side. `conf` must come from [[writeConf]] for the same
    * schema.
    */
  def writeFile(
      spark: SparkSession, conf: Configuration, path: Path,
      rows: Iterator[InternalRow]): Unit = {
    val writer = new Builder(HadoopOutputFile.fromPath(path, conf))
      .withConf(conf)
      .withCompressionCodec(codecOf(spark))
      .build()
    try rows.foreach(writer.write) finally writer.close()
  }
}
