package graft.html

import scala.collection.mutable.ArrayBuffer

/** A flat content block — the unit the density classifier scores.
  *
  * `text` is the normalized block text (the single normalization point,
  * SURVEY.md §7 hard-part (b)): entities decoded (tokenizer), whitespace
  * runs collapsed to one space, `<br>` → '\n', trimmed. `<pre>` blocks
  * skip collapsing (one leading newline stripped, HTML5 rule).
  *
  * `startByte`/`endByte` span the raw source region of the block's text
  * (first to last non-whitespace text run).
  */
final case class Block(
    kind: String,
    text: String,
    cells: Vector[Vector[String]],
    cls: String,
    style: String,
    linkChars: Int,
    inBoilerplateContainer: Boolean,
    startByte: Long,
    endByte: Long,
    nSeps: Int = -1) {
  // `nSeps` is the separator (' '/'\n') count of `text`, fused into the
  // builder's normalize pass (r6b — `words` was a second full scan over
  // every kept block's text, ~7% of the html kernel profile); -1 means
  // "not precomputed" and falls back to the scan (table blocks, tests).
  lazy val words: Int = if (text.isEmpty) 0 else if (nSeps >= 0) nSeps + 1 else {
    var c = 1; var i = 0
    while (i < text.length) { if (text.charAt(i) == ' ' || text.charAt(i) == '\n') c += 1; i += 1 }
    c
  }
  def linkDensity: Double =
    if (text.isEmpty) 0.0 else linkChars.toDouble / text.length.toDouble
  def headingLevel: Int =
    if (kind.length == 2 && kind.charAt(0) == 'h' && kind.charAt(1).isDigit) kind.charAt(1) - '0' else 0
}

/** Builds the flat block list from the token stream — the lightweight
  * "DOM" (SURVEY.md §7 module `html/Dom.scala`). No tree is materialized;
  * a tag stack tracks ancestry, which is all the classifier needs. Which
  * tags suppress content, start a block or mark a boilerplate container
  * is `Tags.flags`: `Tags` owns every tag role.
  */
object Dom {
  private final val BrSentinel = '\u0001'

  // r6b: char-class table for normalizeArr's inner loop — one bounds
  // check + load + compare on the common (regular-char) path instead
  // of the sentinel + five whitespace comparisons. 0=regular, 1=ws,
  // 2=BR sentinel; chars >= 256 are always regular (the ws set and the
  // sentinel are all < 256).
  private val normCls: Array[Byte] = {
    val t = new Array[Byte](256)
    t(' ') = 1; t('\t') = 1; t('\n') = 1; t('\r') = 1; t('\f') = 1
    t(BrSentinel) = 2
    t
  }

  /** Collapse [ \t\n\r\f]+ → ' ', honor BR sentinels as hard newlines;
    * leading/trailing hard newlines are stripped. Single streaming pass
    * (this runs once per block or cell — no regex, no intermediate
    * strings). The builder's chars are copied into `ks.normBuf` and
    * collapsed there. `ks` is passed in by the caller (r6b) because a
    * ThreadLocal.get per BLOCK was itself hot on executor threads —
    * Spark threads carry long ThreadLocalMap probe chains, and the
    * lookup showed at ~5% in the extract-stage profile. */
  private[graft] def normalize(raw: java.lang.StringBuilder, ks: KernelScratch): String = {
    val len = raw.length
    val buf = KernelScratch.grow(ks.normBuf, len)
    ks.normBuf = buf
    raw.getChars(0, len, buf, 0)
    normalizeArr(buf, len, null)
  }

  /** In-place form (r6b): collapses `buf[0, len)` within `buf` itself —
    * the sink's flat accumulator or the builder copy above — so a block
    * costs one read-and-write pass and one final String copy, and no
    * second buffer. Each input char writes at most one char past the
    * whitespace it collapses, so the write cursor never passes the read
    * cursor. `sepsOut(0)`, when non-null, receives the separator
    * (' '/'\n') count of the RETURNED string — computed on the emit
    * branches only (the common write path pays nothing), so
    * `Block.words` needs no second scan over the text. */
  private[graft] def normalizeArr(buf: Array[Char], len: Int, sepsOut: Array[Int]): String = {
    if (len == 0) { if (sepsOut != null) sepsOut(0) = 0; return "" }
    var k = 0     // output length
    var seps = 0  // ' ' + '\n' emitted (word separators)
    var ws = false
    var i = 0
    while (i < len) {
      val c = buf(i)
      val cls = if (c < 256) normCls(c) else 0
      if (cls == 0) {
        if (ws && k > 0 && buf(k - 1) != '\n') { buf(k) = ' '; k += 1; seps += 1 }
        ws = false
        buf(k) = c; k += 1
      } else if (cls == 1) {
        ws = true
      } else { // BR sentinel
        if (k > 0) { buf(k) = '\n'; k += 1; seps += 1 } // skip leading hard newlines
        ws = false
      }
      i += 1
    }
    while (k > 0 && buf(k - 1) == '\n') { k -= 1; seps -= 1 }
    if (sepsOut != null) sepsOut(0) = seps
    new String(buf, 0, k)
  }

  /** Fused path: bytes → blocks in one scan, no token materialization
    * (the per-doc token array, TextRun strings and comment bodies were
    * measured at ~40% of html kernel cost). Returns the builder's own
    * buffer: a fresh one per call, no Vector copy. */
  def blocksStreaming(bytes: Array[Byte]): ArrayBuffer[Block] = {
    val ks = KernelScratch.get()
    try blocks(bytes, ks) finally KernelScratch.release(ks)
  }

  /** `blocksStreaming` on a scratch the caller fetched (and releases). */
  private[graft] def blocks(bytes: Array[Byte], ks: KernelScratch): ArrayBuffer[Block] = {
    val sink = new BlockSink(ks)
    Html5Tokenizer.stream(bytes, sink, ks)
    sink.resultBuffer()
  }

  /** The single block-building state machine, fed by tokenizer events. */
  final class BlockSink(ks: KernelScratch) extends Html5Tokenizer.TokenSink {
    /** The sink reads attributes only on table (class) and block-start
      * tags (class/style via startBlock) — inline tags (a/span/b/img,
      * which carry most crawl-HTML attributes, href above all) skip
      * attr string construction in the tokenizer entirely (r6b). */
    override def wantsAttrs(name: String): Boolean =
      name == "table" || (Tags.flags(name) & Tags.FBlock) != 0
    private val out = new ArrayBuffer[Block]

    private var suppressDepth = 0
    private var boilerDepth = 0
    private var linkDepth = 0
    private val stack = new ArrayBuffer[String]

    // current block accumulation
    private var curKind = "body"
    private var curCls = ""
    private var curStyle = ""
    // Flat char accumulator for the current block's text (r6b): a
    // StringBuilder here paid coder checks (LATIN1/UTF16 inflation) on
    // every append plus a full getChars copy into normalize's scratch;
    // the flat array appends with arraycopy and normalize reads it
    // zero-copy. Thread-scratch, reused across documents.
    private var tBuf: Array[Char] = ks.sinkBuf
    private var tLen = 0
    private def tEnsure(extra: Int): Unit =
      if (tLen + extra > tBuf.length) {
        tBuf = KernelScratch.grow(tBuf, tLen + extra); ks.sinkBuf = tBuf
      }
    private def tAppend(c: Char): Unit = { tEnsure(1); tBuf(tLen) = c; tLen += 1 }
    private var curLink = 0
    private var spanStart = -1L
    private var spanEnd = -1L
    private var curPre = false

    // table accumulation
    private var tableDepth = 0
    private var tblCls = ""
    private val tblRows = new ArrayBuffer[Vector[String]]
    private val tblRow = new ArrayBuffer[String]
    private val tblCell = new java.lang.StringBuilder
    private var inCell = false
    private var tblSpanStart = -1L
    private var tblSpanEnd = -1L

    private val sepsBox = new Array[Int](1)

    private def flush(): Unit = {
      val text =
        if (curPre) {
          // in-place sentinel scan over the flat accumulator (r6b: no
          // copy at all before the final String); the scan also counts
          // separators (fused Block.words)
          val len = tLen
          val from = if (len > 0 && tBuf(0) == '\n') 1 else 0
          var seps = 0
          var i = from
          while (i < len) {
            if (tBuf(i) == BrSentinel) tBuf(i) = '\n'
            if (tBuf(i) == ' ' || tBuf(i) == '\n') seps += 1
            i += 1
          }
          sepsBox(0) = seps
          new String(tBuf, from, len - from)
        } else normalizeArr(tBuf, tLen, sepsBox)
      if (text.nonEmpty) {
        out += Block(curKind, text, Vector.empty, curCls, curStyle, curLink,
          boilerDepth > 0, spanStart, spanEnd, nSeps = sepsBox(0))
      }
      tLen = 0; curLink = 0; spanStart = -1L; spanEnd = -1L
    }

    private def startBlock(kind: String, cls: String, style: String): Unit = {
      curKind = kind; curCls = cls; curStyle = style
      curPre = kind == "pre"
    }

    private def hasNonWs(chars: Array[Char], from: Int, len: Int): Boolean = {
      var i = from
      while (i < from + len) {
        val c = chars(i)
        if (c != ' ' && c != '\t' && c != '\n' && c != '\r' && c != '\f') return true
        i += 1
      }
      false
    }

    def tagOpen(t: TagOpen): Unit = {
        val name = t.name
        val fl = Tags.flags(name)
        if ((fl & Tags.FSuppress) != 0) {
          if (!t.selfClosing) suppressDepth += 1
        } else if (suppressDepth == 0) {
          if (name == "table") {
            if (tableDepth == 0) {
              flush()
              tblCls = t.attrOrEmpty("class")
              tblRows.clear(); tblRow.clear(); tblCell.setLength(0); inCell = false
              tblSpanStart = -1L; tblSpanEnd = -1L
            }
            tableDepth += 1
          } else if (tableDepth > 0) {
            // row/cell structure is tracked at depth 1 only: a NESTED
            // table's td/tr must not clear the outer row or cell —
            // its text folds into the enclosing cell (layout-table
            // nesting is ubiquitous in real crawl HTML)
            name match {
              case "td" | "th" if tableDepth == 1 => inCell = true; tblCell.setLength(0)
              case "tr" if tableDepth == 1        => tblRow.clear()
              case "br"                           => if (inCell) tblCell.append(' ')
              case _                              => ()
            }
          } else if (name == "br") {
            tAppend(BrSentinel)
          } else if (name == "a") {
            linkDepth += 1
            // links never nest in practice; guard runaway depth
            if (linkDepth > 32) linkDepth = 32
          } else if ((fl & Tags.FBlock) != 0) {
            flush()
            if ((fl & Tags.FBoiler) != 0) boilerDepth += 1
            stack += name
            startBlock(name, t.attrOrEmpty("class"), t.attrOrEmpty("style"))
          }
          // other inline tags (b, i, em, span, code, …) are transparent
        }
    }

    def tagClose(name: String, startByte: Int, endByte: Int): Unit = {
        val fl = Tags.flags(name)
        if ((fl & Tags.FSuppress) != 0) {
          if (suppressDepth > 0) suppressDepth -= 1
        } else if (suppressDepth == 0) {
          if (name == "table") {
            if (tableDepth > 0) tableDepth -= 1
            if (tableDepth == 0) {
              if (tblRow.nonEmpty) { tblRows += tblRow.toVector; tblRow.clear() }
              if (tblRows.nonEmpty) {
                val rows = tblRows.toVector
                val text = rows.map(_.mkString(" ")).mkString("\n")
                out += Block("table", text, rows, tblCls, "", 0, boilerDepth > 0,
                  tblSpanStart, tblSpanEnd)
              }
              startBlock(if (stack.nonEmpty) stack.last else "body", "", "")
            }
          } else if (tableDepth > 0) {
            name match {
              case "td" | "th" if tableDepth == 1 =>
                if (inCell) { tblRow += Dom.normalize(tblCell, ks); inCell = false }
              case "tr" if tableDepth == 1 =>
                if (tblRow.nonEmpty) { tblRows += tblRow.toVector; tblRow.clear() }
              case _ => ()
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

    def text(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit = {
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
    }

    private[graft] def resultBuffer(): ArrayBuffer[Block] = {
      flush()
      out
    }
  }
}
