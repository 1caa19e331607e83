// Same packaging rationale as FloatVecDot.scala: SessionState and the
// parquet footer-to-schema converter are Spark internals.
package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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

  def infer(spark: SparkSession, path: String): Option[StructType] =
    footerSchema(spark, Seq(path), (fs, p) => {
      val top = fs.getFileStatus(p)
      if (!top.isDirectory) Some(Seq(top))
      else {
        val kids = fs.listStatus(p).toSeq.filter(s => listed(s.getPath.getName))
        if (kids.exists(_.isDirectory)) None else Some(kids)
      }
    })

  /** [[infer]] for `spark.read.parquet(files: _*)` over explicit parquet
    * FILE paths (Spark's non-merging inference then reads the first of
    * them in path order); `None` as in [[infer]], and when any path is a
    * directory. */
  def inferFiles(spark: SparkSession, files: Seq[String]): Option[StructType] =
    footerSchema(spark, files, (fs, p) => {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) None else Some(Seq(st))
    })

  private def footerSchema(spark: SparkSession, paths: Seq[String],
                           list: (FileSystem, Path) => Option[Seq[FileStatus]]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (paths.isEmpty || conf.getConfString("spark.sql.parquet.mergeSchema", "false").toBoolean ||
        paths.exists(_.exists("{}[]*?\\,".contains(_)))) return None
    try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val listings = paths.map { path =>
        val p = new Path(path)
        list(p.getFileSystem(hadoopConf), p)
      }
      if (listings.exists(_.isEmpty)) return None
      val sorted = listings.flatten.flatten.sortBy(_.getPath.toString)
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
