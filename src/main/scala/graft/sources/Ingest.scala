package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Raw-file ingestion into the `pages` table shape (BASELINE.json
  * input_hint: url, warc_ts, html, text, lang) — how a user of the
  * reference gets their document files into the engine.
  *
  * Two paths, both distributed scans with no driver-side IO:
  *  - `binaryFiles`: one page per file (`spark.read.format("binaryFile")`,
  *    the direct analog of the reference's image-file source,
  *    run_ocr_2.0.py:35-41). Column pruning applies: binaryFile pushes
  *    the path/length filters and never reads content for pruned rows.
  *  - `warcFiles`: Common-Crawl WARC captures; each file may carry many
  *    response records (sources/Warc.scala), exploded per record.
  */
object Ingest {

  /** One row per file: url = file path, warc_ts = modification time. */
  def binaryFiles(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)
      .select(
        col("path").as("url"),
        col("modificationTime").as("warc_ts"),
        col("content").as("html"),
        lit(null).cast("string").as("text"),
        lit(null).cast("string").as("lang"))

  /** One row per WARC response record. */
  def warcFiles(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(glob)
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap { bytes =>
        Warc.records(bytes).map { r =>
          (r.url, parseWarcTs(r.warcDate), r.payload, null: String, null: String)
        }
      }
      .toDF("url", "warc_ts", "html", "text", "lang")
      .withColumn("warc_ts", col("warc_ts").cast("timestamp"))
  }

  /** WARC-Date (ISO-8601 Zulu) → java.sql.Timestamp; null if malformed. */
  def parseWarcTs(iso: String): java.sql.Timestamp =
    try java.sql.Timestamp.from(java.time.Instant.parse(iso))
    catch { case NonFatal(_) => null }
}
