package graft.pipeline

import graft.extract.{DocMetrics, ExtractMode, Extractor, Span}
import graft.html.{Dom, Html5Tokenizer}
import graft.classify.BlockClassifier
import graft.extract.Chunker
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One extracted document (SURVEY.md §1.2 answer-record mapping).
  * `status` is "ok" or a quarantine reason — failures are routed to a
  * side output, never silently substituted (the engine's fix of the
  * reference's fallback-to-sample-0, conversation_dataset_qwen.py:226-252). */
final case class ExtractedDoc(url: String, warc_ts: java.sql.Timestamp,
    mode: String, text: String, spans: Seq[Span], status: String,
    metrics: DocMetrics)

final case class ChunkRow(url: String, warc_ts: java.sql.Timestamp,
    chunk_idx: Int, n_chunks: Int, text: String, thumbnail: String)

/** The distributed extraction pipeline (SURVEY.md §3 entry-point
  * mappings): narrow select (column-pruning help — Catalyst cannot see
  * inside the kernel closure) → salted url-host repartition (explicit
  * crawl-domain skew defuse, BASELINE.json) → mapPartitions(kernel) →
  * optional grouped reassembly.
  */
object Pipeline {

  /** Salt fan-out per host: one hot Zipf-head domain spreads over this
    * many partitions (SURVEY.md §4 custom rule #1). */
  final val Salts = 8

  /** Salted repartition by url-host hash. Kept as a reusable stage so
    * every entry point shares the same skew policy. */
  def saltedByHost(df: DataFrame, numPartitions: Int): DataFrame =
    df.repartition(numPartitions,
      xxhash64(parse_url(col("url"), lit("HOST"))),
      pmod(xxhash64(col("url")), lit(Salts)))

  private def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Single-mode extraction over a `pages`-shaped DataFrame.
    *
    * Map-only by default: extraction is a pure per-row function, so the
    * payload bytes never cross the network — at 10^12-document scale,
    * shuffling raw html is the anti-pattern; balance comes from source
    * splits (`maxPartitionBytes`) and the `MaxDocBytes` kernel guard.
    * The salted url-host repartition (north rule) applies where a
    * shuffle is REQUIRED anyway: grouped reassembly (multipage/chunked),
    * per-host aggregation, and the lineage shard assignment — pass
    * `repartitionByHost = true` to force it here too (e.g. when source
    * files are host-clustered AND pathologically size-skewed). */
  def extract(pages: DataFrame, mode: ExtractMode,
      numPartitions: Int = 0, repartitionByHost: Boolean = false): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val p = if (numPartitions > 0) numPartitions else shufflePartitions(spark)
    val narrowed0 = pages.select(col("url"), col("warc_ts"), col("html"))
    val narrowed = if (repartitionByHost) saltedByHost(narrowed0, p) else narrowed0
    val modeName = mode.name
    narrowed.as[(String, java.sql.Timestamp, Array[Byte])].mapPartitions { it =>
      it.map { case (url, ts, html) => extractOne(url, ts, html, mode, modeName) }
    }
  }

  /** Per-row-mode extraction: input carries (url, warc_ts, html, mode,
    * mode_args) — the golden-eval shape where each fixture names its own
    * query mode (reference gt entries carry their prompt). */
  def extractWithModes(rows: DataFrame, numPartitions: Int = 0): Dataset[ExtractedDoc] = {
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

  /** Multi-crop pipeline (entry point 2, SURVEY.md §3): kernel chunks
    * each document into ≤6 ordered segments (+ thumbnail), segments
    * shuffle independently, reassembly is an ordered concat — the
    * sequence-concat of GOT_ocr_2_0.py:151 as a relational group-agg.
    * Output text is identical to Plain extraction (identity property). */
  /** All chunks of a document are produced by the SAME kernel call, so
    * reassembly is local — chunk → render → ordered concat inside one
    * map, ZERO shuffle. (A groupBy(url) reassembly here would sort-agg
    * the whole rendered corpus for nothing; the genuinely distributed
    * group case — parts arriving as separate input ROWS — is multipage,
    * `reassembleMultiPage`.) The chunk→concat identity property (x04)
    * still mirrors the reference's per-tile encode + sequence concat
    * (GOT_ocr_2_0.py:151). */
  def extractChunked(pages: DataFrame, numPartitions: Int = 0): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val narrowed = pages.select(col("url"), col("warc_ts"), col("html"))
    narrowed.as[(String, java.sql.Timestamp, Array[Byte])]
      .flatMap { case (url, ts, html) =>
        val rows = chunkOne(url, ts, html)
        if (rows.isEmpty) None
        else Some((url, rows.map(_.text).mkString("\n"), rows.length,
          rows.head.thumbnail))
      }
      .toDF("url", "text", "n_chunks", "thumbnail")
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

  private def chunkOne(url: String, ts: java.sql.Timestamp,
      html: Array[Byte]): Seq[ChunkRow] = {
    try {
      Extractor.payloadKind(html) match {
        case "pdf" =>
          val text = graft.pdf.PdfParser.extractText(html)
          Seq(ChunkRow(url, ts, 0, 1, text,
            text.substring(0, math.min(text.length, Chunker.ThumbnailChars))))
        case "html" =>
          val blocks = Dom.blocksStreaming(html) // fused: no token list
          val kept = Extractor.suppressRepeats(blocks.filter(BlockClassifier.keep))
          val segs = Chunker.segments(kept)
          val thumb = Chunker.thumbnail(kept)
          // thumbnail rides only on chunk 0: shuffling one copy per doc,
          // not one per chunk
          segs.zipWithIndex.map { case (seg, idx) =>
            ChunkRow(url, ts, idx, segs.length, seg.map(_.text).mkString("\n"),
              if (idx == 0) thumb else "")
          }
        case _ => Seq.empty
      }
    } catch { case _: Throwable => Seq.empty }
  }
}
