package graft.extract

import graft.classify.BlockClassifier
import graft.html.{Dom, KernelScratch}
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

  /** True when `extract` takes the HTML path: within `MaxDocBytes` and
    * sniffed as HTML. The side extractors read only such payloads. */
  private[graft] def isKernelHtml(bytes: Array[Byte]): Boolean =
    bytes.length <= MaxDocBytes && payloadKind(bytes) == "html"

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
    val asm = new Assembly(bytes.length.toLong, mode, emitted, ks)
    Dom.stream(bytes, ks, asm) // fused: no token list, no block list
    asm.result()
  }

  /** The HTML path's one assembly, for every mode: each block is
    * classified at its flush, selected, repeat-suppressed, rendered
    * (Format) and appended to the output text, and its span recorded,
    * with no `Block` and no per-block `String`. The text is built in the
    * thread-scratch `outText` array (appends are array copies). Modes
    * other than Format stop appending once the text passes `MaxOutChars`
    * (the final cut needs no more); Format keeps it whole, as
    * `repairLeftRight` counts over all of it. */
  private final class Assembly(docLen: Long, mode: ExtractMode, emitted: ArrayBuilder.ofInt,
      ks: KernelScratch) extends Dom.BlockConsumer {
    private val format = mode == ExtractMode.Format
    // mode-specific selection (density gate unless the user pointed at
    // a region — reference '[red] OCR:' / box prompts)
    private val color: String = mode match { case ExtractMode.Color(c) => c; case _ => null }
    private val box = mode.isInstanceOf[ExtractMode.Box]
    private val (boxFrom, boxUntil) = mode match {
      case ExtractMode.Box(x1, x2) => ExtractMode.byteWindow(docLen, x1, x2)
      case _                       => (0L, 0L)
    }
    private var out = ks.outText
    private var n = 0 // output text length
    private val spans = Vector.newBuilder[Span]
    private var seen: RepeatSet = null // lazy: the first block of ≥ NoRepeatWords words
    private var total = 0L; private var kept = 0L; private var dropped = 0L; private var keptChars = 0L

    def block(b: Dom.BlockView): Unit = {
      total += 1
      val len = b.len
      val words = b.words
      val isKeep = BlockClassifier.keep(b.kindFlags, b.headingLevel, len, words, b.linkChars,
        b.inBoilerplateContainer)
      if (isKeep) { kept += 1; keptChars += len } else dropped += 1
      val selected =
        if (color != null) len > 0 && !b.inBoilerplateContainer && matchesColor(b.cls, b.style, color)
        else if (box) isKeep && b.startByte >= boxFrom && b.endByte <= boxUntil
        else isKeep
      if (selected) {
        if (words < NoRepeatWords) append(b)
        else {
          if (seen == null) seen = new RepeatSet
          val h = RepeatSet.hash(b.chars, len)
          if (seen.contains(h, b.chars, len, out)) return // a repeat: emitted once only
          seen.add(h, append(b), b.chars, len)
        }
        spans += Span(b.startByte, b.endByte, b.kind)
        if (emitted != null) emitted += len
      }
    }

    private def ensure(extra: Int): Unit =
      if (n + extra > out.length) { out = KernelScratch.grow(out, n + extra); ks.outText = out }
    private def put(chars: Array[Char], from: Int, len: Int): Unit = {
      ensure(len); System.arraycopy(chars, from, out, n, len); n += len
    }
    private def put(s: String): Unit = { ensure(s.length); s.getChars(0, s.length, out, n); n += s.length }

    /** Appends the block; returns where its text sits verbatim in `out`,
      * or -1 when it does not (a Format table, text past the cap). */
    private def append(b: Dom.BlockView): Int = {
      if (format) {
        if (n > 0) put("\n")
        val level = b.headingLevel
        if (level > 0) put("#" * level + " ")
        else if (b.kind == "li") put("- ")
        else if (b.rows.nonEmpty) { put(renderTabular(b.rows.map(_.map(_.text)))); return -1 }
        else if (b.kind == "blockquote") put("> ")
        val at = n
        put(b.chars, 0, b.len)
        at
      } else if (n <= MaxOutChars) {
        if (n > 0) put("\n")
        val at = n
        val room = MaxOutChars + 1 - at // one char past the cap decides the cut
        if (b.len <= room) { put(b.chars, 0, b.len); at }
        else { put(b.chars, 0, room); -1 }
      } else -1
    }

    def result(): ExtractResult = {
      val all = new String(out, 0, n)
      val text = cut(if (format) repairLeftRight(all) else all, MaxOutChars)
      ExtractResult(text, spans.result(),
        DocMetrics(docLen, 0L, total, kept, dropped, keptChars, text.length.toLong))
    }
  }

  /** The texts of a document's emitted blocks of ≥ `NoRepeatWords` words,
    * by exact content: each is found where it sits verbatim in the
    * output text, or else (past the cap, a Format table) in a copy of
    * its own. Open addressing on the texts' hashes. */
  private final class RepeatSet {
    private var slots = new Array[Int](64) // entry index + 1; 0 = free
    private var hashes = new Array[Int](32)
    private var offs = new Array[Int](32) // >= 0: in the output text; < 0: ~offset in `copies`
    private var lens = new Array[Int](32)
    private var n = 0
    private var copies: Array[Char] = null
    private var copied = 0

    /** Whether `chars[0, len)` was added; `out` is the current output text. */
    def contains(h: Int, chars: Array[Char], len: Int, out: Array[Char]): Boolean = {
      val mask = slots.length - 1
      var i = h & mask
      while (slots(i) != 0) {
        val e = slots(i) - 1
        if (hashes(e) == h && lens(e) == len) {
          val off = offs(e)
          val (a, at) = if (off >= 0) (out, off) else (copies, ~off)
          if (java.util.Arrays.equals(a, at, at + len, chars, 0, len)) return true
        }
        i = (i + 1) & mask
      }
      false
    }

    /** Adds a text not yet present; `at` is its offset in the output text, or -1. */
    def add(h: Int, at: Int, chars: Array[Char], len: Int): Unit = {
      if (n == hashes.length) {
        hashes = java.util.Arrays.copyOf(hashes, 2 * n)
        offs = java.util.Arrays.copyOf(offs, 2 * n)
        lens = java.util.Arrays.copyOf(lens, 2 * n)
        slots = new Array[Int](4 * n)
        var e = 0
        while (e < n) { place(e); e += 1 }
      }
      hashes(n) = h; lens(n) = len
      offs(n) =
        if (at >= 0) at
        else {
          copies = KernelScratch.grow(if (copies == null) new Array[Char](len) else copies, copied + len)
          System.arraycopy(chars, 0, copies, copied, len)
          copied += len
          ~(copied - len)
        }
      place(n)
      n += 1
    }

    private def place(e: Int): Unit = {
      val mask = slots.length - 1
      var i = hashes(e) & mask
      while (slots(i) != 0) i = (i + 1) & mask
      slots(i) = e + 1
    }
  }

  private object RepeatSet {
    /** `String.hashCode` of `chars[0, len)`, four chars a step. */
    def hash(chars: Array[Char], len: Int): Int = {
      var h = 0
      var i = 0
      while (i + 4 <= len) {
        h = h * 923521 + chars(i) * 29791 + chars(i + 1) * 961 + chars(i + 2) * 31 + chars(i + 3)
        i += 4
      }
      while (i < len) { h = 31 * h + chars(i); i += 1 }
      h
    }
  }

  private def matchesColor(cls: String, style: String, color: String): Boolean =
    cls == color || cls.split(' ').contains(color) ||
      style.replace(" ", "").contains("color:" + color)

  /** `s` cut to `n` chars, one char shorter when the cut would end on a
    * high surrogate: a lone surrogate is not encodable, and Spark's UTF-8
    * row encode would store it as '?'. */
  private[graft] def cut(s: String, n: Int): String =
    if (s.length <= n) s
    else s.substring(0, if (Character.isHighSurrogate(s.charAt(n - 1))) n - 1 else n)

  /** Format mode's table rendering: \begin{tabular} so the reference's
    * category-split regexes (eval_ocr.py:39-41: inline \(..\), display
    * \[..\], \begin{tabular}..\end{tabular}) classify the output. */
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
