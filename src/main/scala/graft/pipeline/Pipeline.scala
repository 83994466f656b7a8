package graft.pipeline

import graft.extract.{Chunker, DocMetrics, ExtractMode, Extractor, Span}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuilder

/** One extracted document (SURVEY.md §1.2 answer-record mapping).
  * `status` is "ok" or a quarantine reason — failures are routed to a
  * side output, never silently substituted (the engine's fix of the
  * reference's fallback-to-sample-0, conversation_dataset_qwen.py:226-252). */
final case class ExtractedDoc(url: String, warc_ts: java.sql.Timestamp,
    mode: String, text: String, spans: Seq[Span], status: String,
    metrics: DocMetrics)

/** The distributed extraction pipeline (SURVEY.md §3 entry-point
  * mappings): narrow select (column-pruning help — Catalyst cannot see
  * inside the kernel closure) → mapPartitions(kernel) → optional
  * grouped reassembly. A caller that wants the salted url-host
  * repartition (explicit crawl-domain skew defuse, BASELINE.json)
  * composes `saltedByHost` before `extract`.
  */
object Pipeline {

  /** Salt fan-out per host: one hot Zipf-head domain spreads over this
    * many partitions (SURVEY.md §4 custom rule #1). */
  final val Salts = 8

  /** Salted repartition by url-host hash: a payload shuffle that a
    * caller composes before `extract` — over the narrowed
    * `pages.select("url", "warc_ts", "html")`, into
    * `spark.sql.shuffle.partitions` partitions — for source files that
    * are host-clustered AND pathologically size-skewed (Bench's salted
    * pass and `Probe extract salted`). Nothing else shares it
    * (multi-page reassembly groups by base url, `perHostStats` is a
    * plain groupBy, lineage shards hash on their own). */
  def saltedByHost(df: DataFrame, numPartitions: Int): DataFrame =
    df.repartition(numPartitions,
      xxhash64(parse_url(col("url"), lit("HOST"))),
      pmod(xxhash64(col("url")), lit(Salts)))

  /** Single-mode extraction over a `pages`-shaped DataFrame.
    *
    * Map-only: extraction is a pure per-row function, so the payload
    * bytes never cross the network — at 10^12-document scale, shuffling
    * raw html is the anti-pattern; balance comes from source splits
    * (`maxPartitionBytes`) and the `MaxDocBytes` kernel guard. */
  def extract(pages: DataFrame, mode: ExtractMode): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val narrowed = pages.select(col("url"), col("warc_ts"), col("html"))
    val modeName = mode.name
    narrowed.as[(String, java.sql.Timestamp, Array[Byte])].mapPartitions { it =>
      it.map { case (url, ts, html) => extractOne(url, ts, html, mode, modeName) }
    }
  }

  /** Per-row-mode extraction: input carries (url, warc_ts, html, mode,
    * mode_args) — the golden-eval shape where each fixture names its own
    * query mode (reference gt entries carry their prompt). */
  def extractWithModes(rows: DataFrame): Dataset[ExtractedDoc] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val narrowed =
      rows.select(col("url"), col("warc_ts"), col("html"), col("mode"), col("mode_args"))
    narrowed.as[(String, java.sql.Timestamp, Array[Byte], String, String)].mapPartitions { it =>
      it.map { case (url, ts, html, modeStr, args) =>
        val mode = ExtractMode.parse(modeStr, args)
        extractOne(url, ts, html, mode, modeStr)
      }
    }
  }

  private def extractOne(url: String, ts: java.sql.Timestamp, html: Array[Byte],
      mode: ExtractMode, modeName: String): ExtractedDoc =
    Extractor.extract(html, mode) match {
      case Right(res) =>
        ExtractedDoc(url, ts, modeName, res.text, res.spans, "ok", res.metrics)
      case Left(reason) =>
        ExtractedDoc(url, ts, modeName, "", Seq.empty, reason,
          DocMetrics.quarantined(if (html == null) 0L else html.length.toLong))
    }

  /** Quarantine side output (F4): never silently dropped. */
  def errors(extracted: Dataset[ExtractedDoc]): Dataset[ExtractedDoc] =
    extracted.filter(_.status != "ok")
  def ok(extracted: Dataset[ExtractedDoc]): Dataset[ExtractedDoc] =
    extracted.filter(_.status == "ok")

  /** Multi-page reassembly (S4/O1): part rows `base?part=N` → ordered
    * group-concat. The reference's natsorted page glob becomes explicit
    * part-index ordering under `sort_array` — deterministic under
    * shuffle (SURVEY.md hard-part (d)). */
  def reassembleMultiPage(extracted: DataFrame): DataFrame = {
    extracted
      .where(col("url").contains("?part="))
      .withColumn("base", substring_index(col("url"), "?part=", 1))
      .withColumn("part", regexp_extract(col("url"), "\\?part=(\\d+)", 1).cast("int"))
      .groupBy(col("base").as("url"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("part"), col("text")))),
            x => x.getField("text")),
          "\n").as("text"),
        count(lit(1)).as("n_parts"))
  }

  /** Multi-crop pipeline (entry point 2, SURVEY.md §3): the reference
    * tiles a page, encodes every tile and concatenates them in order
    * (GOT_ocr_2_0.py:151). Here each document goes through the SAME
    * kernel call as Plain extraction, and the chunk columns are derived
    * from it: `Chunker` cuts the emitted blocks into ≤6 ordered segments
    * (`n_chunks`; a PDF is one) and `thumbnail` is the text cut to
    * `Chunker.ThumbnailChars` like the output cap. All chunks of a
    * document come from one call, so reassembly needs no shuffle.
    *
    * One row per input row, columns `url, status, text, n_chunks,
    * thumbnail`. `status` is the kernel's: on "ok" rows `text` is
    * identical to Plain text and `n_chunks ≥ 1`; a quarantined row
    * carries its reason with `text = ""`, `n_chunks = 0` and
    * `thumbnail = ""`. */
  def extractChunked(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("url"), col("html")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        val lens = new ArrayBuilder.ofInt
        it.map { case (url, html) =>
          lens.clear()
          Extractor.extract(html, ExtractMode.Plain, lens) match {
            case Right(res) => (url, "ok", res.text, Chunker.segmentEnds(lens.result()).length,
              Extractor.cut(res.text, Chunker.ThumbnailChars))
            case Left(reason) => (url, reason, "", 0, "")
          }
        }
      }
      .toDF("url", "status", "text", "n_chunks", "thumbnail")
  }

  /** The classify-then-aggregate stage at corpus scale: per-host content
    * metrics. Partial (map-side) aggregation means only ONE small row per
    * (task, host) crosses the shuffle — the scalable shape for wide
    * stats over 10^12 docs. */
  def perHostStats(extracted: DataFrame): DataFrame =
    extracted
      .groupBy(parse_url(col("url"), lit("HOST")).as("host"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
        sum(col("metrics.bytes_in")).as("bytes_in"),
        sum(col("metrics.blocks_kept")).as("blocks_kept"),
        sum(col("metrics.out_chars")).as("out_chars"))
}
