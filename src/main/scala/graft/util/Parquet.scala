package graft.util

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet reads that need no schema-inference job: `spark.read.parquet`
  * launches a one-task job on every read to open a footer. Here the
  * driver opens that footer itself. Spark's rule with `mergeSchema` off
  * is kept: the schema of one data file, from its Spark row-metadata
  * JSON, else converted from its Parquet schema under the session's
  * conf. A read Spark would treat otherwise falls back to
  * `spark.read.parquet`: no path (its error is kept), `mergeSchema` on,
  * a directory with subdirectories (partition discovery) or summary
  * files, or no data file at all. */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    schema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*)
    }

  /** The footer schema `spark.read.parquet(paths)` infers from (a read
    * makes either nullable), read on the driver; None where this helper
    * falls back. */
  private[graft] def schema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (paths.isEmpty || conf.getConfString("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val first = new Path(paths.head)
      val fs = first.getFileSystem(hadoopConf)
      val st = fs.getFileStatus(first)
      val file: Option[FileStatus] =
        if (st.isFile) Some(st)
        else {
          val children = fs.listStatus(first)
          def hidden(s: FileStatus) = s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")
          val summary = children.exists(s => Set("_metadata", "_common_metadata")(s.getPath.getName))
          if (summary || children.exists(s => s.isDirectory && !hidden(s))) None
          else children.filter(s => s.isFile && !hidden(s)).sortBy(_.getPath.getName).headOption
        }
      file.map { f =>
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(conf))
      }
    }
  }
}
