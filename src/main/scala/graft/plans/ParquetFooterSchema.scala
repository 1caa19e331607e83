// Same packaging rationale as FloatVecDot.scala: SessionState and the
// parquet footer-to-schema converter are Spark internals.
package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(path)` would infer, from ONE footer read
  * on the driver instead of Spark's schema-inference job. It touches the
  * file Spark's non-merging inference touches (`_common_metadata`, else
  * `_metadata`, else the first data file in path order) and converts it
  * with Spark's own footer converter under the session's conf, so the
  * result equals Spark's.
  *
  * `None` — the caller must let Spark infer — when schema merging is on,
  * the path is a glob or holds subdirectories (partition discovery), it
  * holds no parquet file, or the footer cannot be read (Spark then raises
  * its own error). */
object ParquetFooterSchema {
  private val Summary = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
    ParquetFileWriter.PARQUET_METADATA_FILE)

  /** Names Spark's file index lists (InMemoryFileIndex.shouldFilterOutPathName). */
  private def listed(name: String): Boolean =
    Summary.exists(name.startsWith) ||
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_"))

  def infer(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.getConfString("spark.sql.parquet.mergeSchema", "false").toBoolean ||
        path.exists("{}[]*?\\,".contains(_))) return None
    try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(hadoopConf)
      val top = fs.getFileStatus(p)
      val files =
        if (!top.isDirectory) Seq(top)
        else {
          val kids = fs.listStatus(p).toSeq.filter(s => listed(s.getPath.getName))
          if (kids.exists(_.isDirectory)) return None
          kids
        }
      val sorted = files.sortBy(_.getPath.toString)
      def named(n: String) = sorted.find(_.getPath.getName == n)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(sorted.find(s => !Summary(s.getPath.getName)))
        .map { f =>
          val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
            new ParquetToSparkSchemaConverter(conf))
        }
    } catch {
      case NonFatal(_) => None
    }
  }
}
