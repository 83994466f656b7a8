package graft.extract

import graft.classify.BlockClassifier
import graft.html.{Block, Dom, KernelScratch}
import graft.pdf.PdfParser
import scala.collection.mutable.ArrayBuilder
import scala.util.control.NonFatal

/** Byte span into the ORIGINAL payload (BASELINE.json: span offsets). */
final case class Span(start: Long, end: Long, kind: String)

/** Fixed-width per-doc metrics. A struct, deliberately NOT a
  * Map[String,Long]: at 10^12 rows a map costs ~8 allocated UTF8String
  * keys + boxed values per row in Catalyst serialization; a struct costs
  * zero per-row allocations and stays codegen-friendly. */
final case class DocMetrics(bytes_in: Long, is_pdf: Long, blocks_total: Long,
    blocks_kept: Long, blocks_dropped: Long, kept_chars: Long, out_chars: Long)

object DocMetrics {
  def quarantined(bytesIn: Long): DocMetrics = DocMetrics(bytesIn, 0L, 0L, 0L, 0L, 0L, 0L)
}

final case class ExtractResult(text: String, spans: Vector[Span],
    metrics: DocMetrics)

/** The extraction kernel — the deterministic replacement of the
  * reference's model forward pass (GOT/model/GOT_ocr_2_0.py:230-301).
  * Pure Scala, invoked from `mapPartitions` (SURVEY.md §2.10): one call
  * per (payload, mode), never throws — malformed payloads are returned
  * as Left(quarantine-reason), the engine's explicit version of the
  * reference's broken-image skip (conversation_dataset_qwen.py:226-252).
  */
object Extractor {

  /** Oversize guard (spill-awareness: kernel memory is O(doc)). */
  final val MaxDocBytes: Int = 16 << 20
  /** Output cap — the analog of the reference's max_new_tokens=4096
    * generation budget (run_ocr_2.0.py:144), in output chars. */
  final val MaxOutChars: Int = 1 << 20
  /** Repeated-block suppression threshold in words — the analog of the
    * reference's no_repeat_ngram_size=20 decode guard
    * (run_ocr_2.0.py:142): a block of ≥20 words whose exact text already
    * appeared in this document is emitted only once. */
  final val NoRepeatWords: Int = 20


  def payloadKind(bytes: Array[Byte]): String = {
    if (bytes.isEmpty) "empty"
    else if (PdfParser.isPdf(bytes)) "pdf"
    else {
      // binary sniff: NULs or a high control-byte ratio in the head
      val n = math.min(bytes.length, 512)
      var ctrl = 0
      var i = 0
      var hasNul = false
      while (i < n) {
        val b = bytes(i) & 0xff
        if (b == 0) hasNul = true
        if (b < 9 || (b > 13 && b < 32)) ctrl += 1
        i += 1
      }
      if (hasNul || ctrl * 5 > n) "binary" else "html"
    }
  }

  def extract(bytes: Array[Byte], mode: ExtractMode): Either[String, ExtractResult] =
    extract(bytes, mode, null)

  /** `emitted`, when non-null, receives the text length of every block
    * the HTML path emits, in output order: the block boundaries
    * `Chunker.segmentEnds` cuts on. A PDF emits none. */
  private[graft] def extract(bytes: Array[Byte], mode: ExtractMode,
      emitted: ArrayBuilder.ofInt): Either[String, ExtractResult] = {
    try {
      if (bytes.length > MaxDocBytes) Left("too_large")
      else payloadKind(bytes) match {
        case "empty"  => Left("empty")
        case "binary" => Left("binary_payload")
        case "pdf"    => Right(extractPdf(bytes))
        case _ =>
          val ks = KernelScratch.get()
          try Right(extractHtml(bytes, mode, emitted, ks)) finally KernelScratch.release(ks)
      }
    } catch {
      // never-throw contract: anything unexpected is quarantined, a stack
      // overflow (hostile nesting) included; other VM errors (OOM) and
      // interrupts escape to the task
      case e @ (NonFatal(_) | _: StackOverflowError) =>
        Left("kernel_error:" + e.getClass.getSimpleName)
    }
  }

  private def extractPdf(bytes: Array[Byte]): ExtractResult = {
    val text = cut(PdfParser.extractText(bytes), MaxOutChars)
    ExtractResult(text,
      if (text.isEmpty) Vector.empty else Vector(Span(0L, bytes.length.toLong, "pdf")),
      DocMetrics(bytes.length.toLong, 1L, 0L, 0L, 0L, 0L, text.length.toLong))
  }

  private def extractHtml(bytes: Array[Byte], mode: ExtractMode,
      emitted: ArrayBuilder.ofInt, ks: KernelScratch): ExtractResult = {
    val blocks = Dom.blocks(bytes, ks) // fused: no token list
    // mode-specific selection predicate (density gate unless the user
    // pointed at a region — reference '[red] OCR:' / box prompts).
    // Takes the already-computed keep verdict so the classifier runs
    // ONCE per block (r6: it previously ran twice on the Plain path —
    // once for metrics, once inside select).
    val select: (Block, Boolean) => Boolean = mode match {
      case ExtractMode.Color(color) =>
        (b, _) => b.text.nonEmpty && !b.inBoilerplateContainer && matchesColor(b, color)
      case ExtractMode.Box(x1, x2) =>
        val (from, until) = ExtractMode.byteWindow(bytes.length.toLong, x1, x2)
        (b, k) => k && b.startByte >= from && b.endByte <= until
      case _ => (_, k) => k
    }
    val format = mode == ExtractMode.Format
    // single pass: select -> repeat-suppress -> render -> span, no
    // intermediate block Vectors (per-doc allocation is the scale cost)
    val sb = { val b = ks.outText; b.setLength(0); b } // thread-reused (r6b)
    val spans = Vector.newBuilder[Span]
    var seen: scala.collection.mutable.HashSet[String] = null // lazy: rare
    var kept = 0L; var dropped = 0L; var keptChars = 0L
    var bi = 0
    val bn = blocks.length
    while (bi < bn) {
      val b = blocks(bi)
      val isKeep = BlockClassifier.keep(b)
      if (isKeep) { kept += 1; keptChars += b.text.length }
      else dropped += 1
      if (select(b, isKeep)) {
        val repeat = b.words >= NoRepeatWords && {
          if (seen == null) seen = scala.collection.mutable.HashSet.empty[String]
          !seen.add(b.text)
        }
        if (!repeat) {
          if (sb.length > 0) sb.append('\n')
          sb.append(if (format) renderBlock(b) else b.text)
          spans += Span(b.startByte, b.endByte, b.kind)
          if (emitted != null) emitted += b.text.length
        }
      }
      bi += 1
    }
    val text = cut(if (format) repairLeftRight(sb.toString) else sb.toString, MaxOutChars)
    ExtractResult(text, spans.result(),
      DocMetrics(bytes.length.toLong, 0L, blocks.length.toLong,
        kept, dropped, keptChars, text.length.toLong))
  }

  private def matchesColor(b: Block, color: String): Boolean =
    b.cls == color || b.cls.split(' ').contains(color) ||
      b.style.replace(" ", "").contains("color:" + color)

  /** `s` cut to `n` chars, one char shorter when the cut would end on a
    * high surrogate: a lone surrogate is not encodable, and Spark's UTF-8
    * row encode would store it as '?'. */
  private[graft] def cut(s: String, n: Int): String =
    if (s.length <= n) s
    else s.substring(0, if (Character.isHighSurrogate(s.charAt(n - 1))) n - 1 else n)

  /** Structure-preserving rendering (Format mode): headings get markdown
    * marks, list items get dashes, tables render as \begin{tabular} so
    * the reference's category-split regexes (eval_ocr.py:39-41: inline
    * \(..\), display \[..\], \begin{tabular}..\end{tabular}) classify
    * the output. */
  def renderBlock(b: Block): String = {
    if (b.headingLevel > 0) ("#" * b.headingLevel) + " " + b.text
    else if (b.kind == "li") "- " + b.text
    else if (b.kind == "table" && b.cells.nonEmpty) renderTabular(b.cells)
    else if (b.kind == "blockquote") "> " + b.text
    else b.text
  }

  def renderTabular(cells: Vector[Vector[String]]): String = {
    val ncols = cells.map(_.length).max
    val spec = "c" * ncols
    val rows = cells.map(r => r.mkString(" & ") + " \\\\").mkString("\n")
    s"\\begin{tabular}{$spec}\n$rows\n\\end{tabular}"
  }

  /** Exact port of the reference's unbalanced \left/\right repair
    * (run_ocr_2.0.py:180-184): when the counts of literal "\left" and
    * "\right" differ, strip the delimiter forms pairwise. */
  def repairLeftRight(s: String): String = {
    val leftNum = countOccurrences(s, "\\left")
    val rightNum = countOccurrences(s, "\\right")
    if (leftNum == rightNum) s
    else s.replace("\\left(", "(").replace("\\right)", ")")
      .replace("\\left[", "[").replace("\\right]", "]")
      .replace("\\left{", "{").replace("\\right}", "}")
      .replace("\\left|", "|").replace("\\right|", "|")
      .replace("\\left.", ".").replace("\\right.", ".")
  }

  private[extract] def countOccurrences(s: String, sub: String): Int = {
    var c = 0; var i = s.indexOf(sub)
    while (i >= 0) { c += 1; i = s.indexOf(sub, i + sub.length) }
    c
  }
}
