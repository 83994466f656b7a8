package graft

import graft.classify.BlockClassifier
import graft.extract.{DocMetrics, ExtractMode, ExtractResult, Extractor, Span}
import graft.html._
import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

/** The Block-list HTML path, kept as the fused kernel's reference: a block
  * builder that copies each text event raw and collapses whitespace once
  * per block at its end, and an assembly that builds every `Block`
  * (text `String` included), then classifies, selects, suppresses
  * repeats through a `HashSet[String]`, renders and cuts. The kernel
  * (`Extractor.extract` over `Dom.BlockSink`) collapses as text arrives
  * and classifies at flush; `KernelReferenceSpec` demands byte-identical
  * results from both. Tables follow HTML5's implied closes on their own
  * here (the kernel's are `TableReader`'s): `<td>`/`<th>` closes the open
  * cell, `<tr>` the open row, `</table>` or the end of input everything;
  * `<table/>` opens nothing and a `</table>` with no table open is
  * ignored. */
object BlockListReference {

  private final val BrSentinel = '\u0001'

  /** Collapse [ \t\n\r\f]+ → ' ', BR sentinels → '\n' (leading and
    * trailing hard newlines stripped); `sepsOut(0)` gets the separator
    * (' '/'\n') count of the result. */
  def normalizeArr(buf: Array[Char], len: Int, sepsOut: Array[Int]): String = {
    var k = 0
    var seps = 0
    var ws = false
    var i = 0
    while (i < len) {
      val c = buf(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') ws = true
      else if (c == BrSentinel) {
        if (k > 0) { buf(k) = '\n'; k += 1; seps += 1 }
        ws = false
      } else {
        if (ws && k > 0 && buf(k - 1) != '\n') { buf(k) = ' '; k += 1; seps += 1 }
        ws = false
        buf(k) = c; k += 1
      }
      i += 1
    }
    while (k > 0 && buf(k - 1) == '\n') { k -= 1; seps -= 1 }
    sepsOut(0) = seps
    new String(buf, 0, k)
  }

  def blocks(bytes: Array[Byte]): Vector[Block] = {
    val sink = new Sink
    Html5Tokenizer.stream(bytes, sink)
    sink.result().toVector
  }

  private final class Sink extends Html5Tokenizer.TokenSink {
    private val out = new ArrayBuffer[Block]
    private var suppressDepth = 0
    private var boilerDepth = 0
    private var linkDepth = 0
    private val stack = new ArrayBuffer[String]
    private var curKind = "body"
    private var curCls = ""
    private var curStyle = ""
    private var tBuf = new Array[Char](64)
    private var tLen = 0
    private def tEnsure(extra: Int): Unit =
      if (tLen + extra > tBuf.length) tBuf = java.util.Arrays.copyOf(tBuf, 2 * (tLen + extra))
    private var curLink = 0
    private var spanStart = -1L
    private var spanEnd = -1L
    private var curPre = false
    private var tableDepth = 0
    private var tblCls = ""
    private val tblRows = new ArrayBuffer[Vector[String]]
    private val tblRow = new ArrayBuffer[String]
    private val tblCell = new java.lang.StringBuilder
    private var inCell = false
    private var tblSpanStart = -1L
    private var tblSpanEnd = -1L
    private val sepsBox = new Array[Int](1)

    private def cellText(): String = {
      val a = new Array[Char](tblCell.length)
      tblCell.getChars(0, a.length, a, 0)
      normalizeArr(a, a.length, sepsBox)
    }

    private def closeCell(): Unit = if (inCell) { tblRow += cellText(); inCell = false }
    private def closeRow(): Unit = {
      closeCell()
      if (tblRow.nonEmpty) { tblRows += tblRow.toVector; tblRow.clear() }
    }
    private def closeTable(): Unit = {
      closeRow()
      if (tblRows.nonEmpty) {
        val rows = tblRows.toVector
        val text = rows.map(_.mkString(" ")).mkString("\n")
        out += Block("table", text, rows, tblCls, "", 0, boilerDepth > 0,
          tblSpanStart, tblSpanEnd, nSeps = text.count(c => c == ' ' || c == '\n'))
      }
      startBlock(if (stack.nonEmpty) stack.last else "body", "", "")
    }

    private def flush(): Unit = {
      val text =
        if (curPre) {
          val from = if (tLen > 0 && tBuf(0) == '\n') 1 else 0
          var seps = 0
          var i = from
          while (i < tLen) {
            if (tBuf(i) == BrSentinel) tBuf(i) = '\n'
            if (tBuf(i) == ' ' || tBuf(i) == '\n') seps += 1
            i += 1
          }
          sepsBox(0) = seps
          new String(tBuf, from, tLen - from)
        } else normalizeArr(tBuf, tLen, sepsBox)
      if (text.nonEmpty)
        out += Block(curKind, text, Vector.empty, curCls, curStyle, curLink,
          boilerDepth > 0, spanStart, spanEnd, nSeps = sepsBox(0))
      tLen = 0; curLink = 0; spanStart = -1L; spanEnd = -1L
    }

    private def startBlock(kind: String, cls: String, style: String): Unit = {
      curKind = kind; curCls = cls; curStyle = style
      curPre = kind == "pre"
    }

    private def hasNonWs(chars: Array[Char], from: Int, len: Int): Boolean =
      (from until from + len).exists { i =>
        val c = chars(i); c != ' ' && c != '\t' && c != '\n' && c != '\r' && c != '\f'
      }

    def tagOpen(t: TagOpen): Unit = {
      val name = t.name
      val fl = Tags.flags(name)
      if ((fl & Tags.FSuppress) != 0) {
        if (!t.selfClosing) suppressDepth += 1
      } else if (suppressDepth == 0) {
        if (name == "table") {
          if (!t.selfClosing) {
            if (tableDepth == 0) {
              flush()
              tblCls = t.attrOrEmpty("class")
              tblRows.clear(); tblRow.clear(); tblCell.setLength(0); inCell = false
              tblSpanStart = -1L; tblSpanEnd = -1L
            }
            tableDepth += 1
          }
        } else if (tableDepth > 0) {
          name match {
            case "td" | "th" if tableDepth == 1 => closeCell(); inCell = true; tblCell.setLength(0)
            case "tr" if tableDepth == 1        => closeRow()
            case "br"                           => if (inCell) tblCell.append(' ')
            case _                              => ()
          }
        } else if (name == "br") {
          tEnsure(1); tBuf(tLen) = BrSentinel; tLen += 1
        } else if (name == "a") {
          linkDepth += 1
          if (linkDepth > 32) linkDepth = 32
        } else if ((fl & Tags.FBlock) != 0) {
          flush()
          if ((fl & Tags.FBoiler) != 0) boilerDepth += 1
          stack += name
          startBlock(name, t.attrOrEmpty("class"), t.attrOrEmpty("style"))
        }
      }
    }

    def tagClose(name: String, startByte: Int, endByte: Int): Unit = {
      val fl = Tags.flags(name)
      if ((fl & Tags.FSuppress) != 0) {
        if (suppressDepth > 0) suppressDepth -= 1
      } else if (suppressDepth == 0) {
        if (name == "table") {
          if (tableDepth > 0) {
            tableDepth -= 1
            if (tableDepth == 0) closeTable()
          }
        } else if (tableDepth > 0) {
          name match {
            case "td" | "th" if tableDepth == 1 => closeCell()
            case "tr" if tableDepth == 1        => closeRow()
            case _                              => ()
          }
        } else if (name == "a") {
          if (linkDepth > 0) linkDepth -= 1
        } else if ((fl & Tags.FBlock) != 0) {
          flush()
          if ((fl & Tags.FBoiler) != 0 && boilerDepth > 0) boilerDepth -= 1
          val idx = stack.lastIndexOf(name)
          if (idx >= 0) stack.remove(idx, stack.length - idx)
          startBlock(if (stack.nonEmpty) stack.last else "body", "", "")
        }
      }
    }

    def text(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit =
      if (suppressDepth == 0) {
        if (tableDepth > 0) {
          if (inCell) {
            tblCell.append(chars, from, len)
            if (hasNonWs(chars, from, len)) {
              if (tblSpanStart < 0) tblSpanStart = startByte.toLong
              tblSpanEnd = endByte.toLong
            }
          }
        } else {
          tEnsure(len); System.arraycopy(chars, from, tBuf, tLen, len); tLen += len
          if (linkDepth > 0) curLink += len
          if (hasNonWs(chars, from, len)) {
            if (spanStart < 0) spanStart = startByte.toLong
            spanEnd = endByte.toLong
          }
        }
      }

    def result(): ArrayBuffer[Block] = {
      if (tableDepth > 0) { tableDepth = 0; closeTable() }
      flush()
      out
    }
  }

  /** `Extractor.extract` over the reference blocks: the same guards and
    * PDF path, the Block-list HTML assembly. */
  def extract(bytes: Array[Byte], mode: ExtractMode,
      emitted: ArrayBuilder.ofInt): Either[String, ExtractResult] =
    if (bytes.length > Extractor.MaxDocBytes || Extractor.payloadKind(bytes) != "html")
      Extractor.extract(bytes, mode, emitted)
    else Right(extractHtml(bytes, mode, emitted))

  private def extractHtml(bytes: Array[Byte], mode: ExtractMode,
      emitted: ArrayBuilder.ofInt): ExtractResult = {
    val blocks = this.blocks(bytes)
    val select: (Block, Boolean) => Boolean = mode match {
      case ExtractMode.Color(color) =>
        (b, _) => b.text.nonEmpty && !b.inBoilerplateContainer && matchesColor(b, color)
      case ExtractMode.Box(x1, x2) =>
        val (from, until) = ExtractMode.byteWindow(bytes.length.toLong, x1, x2)
        (b, k) => k && b.startByte >= from && b.endByte <= until
      case _ => (_, k) => k
    }
    val format = mode == ExtractMode.Format
    val sb = new java.lang.StringBuilder
    val spans = Vector.newBuilder[Span]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var kept = 0L; var dropped = 0L; var keptChars = 0L
    blocks.foreach { b =>
      val isKeep = BlockClassifier.keep(b)
      if (isKeep) { kept += 1; keptChars += b.text.length }
      else dropped += 1
      if (select(b, isKeep) && !(b.words >= Extractor.NoRepeatWords && !seen.add(b.text))) {
        if (sb.length > 0) sb.append('\n')
        sb.append(if (format) renderBlock(b) else b.text)
        spans += Span(b.startByte, b.endByte, b.kind)
        if (emitted != null) emitted += b.text.length
      }
    }
    val text = Extractor.cut(
      if (format) Extractor.repairLeftRight(sb.toString) else sb.toString, Extractor.MaxOutChars)
    ExtractResult(text, spans.result(),
      DocMetrics(bytes.length.toLong, 0L, blocks.length.toLong, kept, dropped, keptChars,
        text.length.toLong))
  }

  private def matchesColor(b: Block, color: String): Boolean =
    b.cls == color || b.cls.split(' ').contains(color) ||
      b.style.replace(" ", "").contains("color:" + color)

  def renderBlock(b: Block): String =
    if (b.headingLevel > 0) ("#" * b.headingLevel) + " " + b.text
    else if (b.kind == "li") "- " + b.text
    else if (b.kind == "table" && b.cells.nonEmpty) Extractor.renderTabular(b.cells)
    else if (b.kind == "blockquote") "> " + b.text
    else b.text
}
