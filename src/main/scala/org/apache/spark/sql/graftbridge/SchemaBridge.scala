package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.StructType

/** Driver-direct parquet schema probe for the SINGLE-footer common case.
  *
  * `spark.read.parquet(path).schema` schedules a distributed
  * footer-merging job even when the "table" is one plain parquet file —
  * measured at 0.2–0.4 s of scheduler round-trip per first touch, ×10
  * fixture tables per fresh process (graft r17 profile). Spark's own
  * inference for a non-merging read is exactly: read one footer, convert
  * it with [[ParquetToSparkSchemaConverter]] under the session's SQLConf
  * flags (binaryAsString, int96AsTimestamp, inferTimestampNTZ,
  * nanosAsLong). This bridge performs those two steps on the driver —
  * same converter, same conf — and returns None for every layout where
  * single-footer inference would NOT be equivalent (multiple data files
  * whose footers Spark would merge, partition-directory layouts whose
  * keys inference would inject, summary files, empty dirs), so callers
  * fall back to the job-based path there. TablesInvalidateSpec pins
  * bridge-vs-inference equality on every fixture table at every SF.
  *
  * File-source nullability: Spark forces every data column nullable on
  * read (`HadoopFsRelation.schema` calls `asNullable`), so the converted
  * footer schema is normalized the same way before returning. */
object SchemaBridge {

  private def isDataFile(n: String): Boolean =
    n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")

  /** Parquet summary files, which Spark's listing keeps and its schema
    * inference reads before any data footer. */
  private def isSummary(n: String): Boolean =
    n.startsWith("_metadata") || n.startsWith("_common_metadata")

  /** Names Spark's file listing drops (`_`/`.` prefixes, in-flight
    * copies) — except summary files, which are refused before this
    * applies. */
  private def isHidden(n: String): Boolean =
    (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")

  /** The table's single parquet data file, or None when the layout needs
    * Spark's general inference: nested dirs, a summary file, or any
    * entry besides the one `.parquet` file that Spark would read as data
    * (extensionless files included). */
  private def singleDataFile(f: java.io.File): Option[java.io.File] =
    if (f.isFile) Some(f).filter(x => isDataFile(x.getName))
    else {
      val children = Option(f.listFiles()).getOrElse(Array.empty)
      if (children.exists(_.isDirectory)) None // partitioned layout
      else if (children.exists(c => isSummary(c.getName))) None
      else children.filterNot(c => isHidden(c.getName)) match {
        case Array(one) if isDataFile(one.getName) => Some(one)
        case _ => None
      }
    }

  def inferSingleFooter(s: SparkSession, path: String): Option[StructType] =
    try singleDataFile(new java.io.File(path)).map { file =>
      val hconf = s.sessionState.newHadoopConf()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath), hconf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val msg =
        try reader.getFooter.getFileMetaData.getSchema
        finally reader.close()
      new ParquetToSparkSchemaConverter(s.sessionState.conf)
        .convert(msg).asNullable
    } catch { case scala.util.control.NonFatal(_) => None }
}
