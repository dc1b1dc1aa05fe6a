package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType

/** Package-private-access bridge (the pattern of
  * org.apache.spark.sql.GraftColumnBridge) to Spark's own parquet
  * footer-to-schema conversion: the schema `spark.read.parquet` infers
  * from a file, resolved on the driver without the one-task Spark job
  * that inference runs. `None` when no footer could be read (a corrupt
  * file under `spark.sql.files.ignoreCorruptFiles`).
  */
object GraftParquetBridge {
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val s = spark.asInstanceOf[classic.SparkSession]
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      s.sessionState.newHadoopConf(), Seq(file), s.sessionState.conf.ignoreCorruptFiles), s)
  }
}
