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
    nSeps: Int) {
  /** `nSeps` is the separator (' '/'\n') count of `text`, counted by the
    * builder as it writes the text (r6b: a second scan over every kept
    * block's text was ~7% of the html kernel profile). */
  def words: Int = if (text.isEmpty) 0 else nSeps + 1
  def headingLevel: Int = Tags.headingLevel(kind)
}

/** Builds the flat blocks from the token stream — the lightweight
  * "DOM" (SURVEY.md §7 module `html/Dom.scala`). No tree is materialized;
  * a tag stack tracks ancestry, which is all the classifier needs. Which
  * tags suppress content, start a block or mark a boilerplate container
  * is `Tags.flags`: `Tags` owns every tag role.
  *
  * `BlockSink` is the only code that sees a block's characters: it
  * collapses whitespace as each text event arrives and, at the block's
  * end, hands a `BlockView` to a `BlockConsumer`. The extractor
  * classifies and assembles straight from the view; `blocksStreaming`
  * is the consumer that builds `Block`s.
  */
object Dom {
  /** A U+0001 char in text is a hard newline, as `<br>` is: the builder
    * once marked `<br>` with it in the raw text, and output keeps the rule. */
  private final val BrSentinel = '\u0001'

  // Char classes of the collapse loops: 0=regular, 1=ws, 2=BR sentinel.
  // Every whitespace char and the sentinel are <= ' ', so a char above
  // ' ' is regular after one compare; the table covers the rest.
  private val normCls: Array[Byte] = {
    val t = new Array[Byte](' ' + 1)
    t(' ') = 1; t('\t') = 1; t('\n') = 1; t('\r') = 1; t('\f') = 1
    t(BrSentinel) = 2
    t
  }
  @inline private def charClass(c: Char): Int = if (c > ' ') 0 else normCls(c)

  /** Collapse [ \t\n\r\f]+ → ' ', honor BR sentinels as hard newlines;
    * leading/trailing hard newlines are stripped. The builder's chars
    * are copied into `ks.normBuf` and collapsed there in one pass (a
    * table cell, a title). `ks` is passed in by the caller (r6b): a
    * ThreadLocal.get per call was itself hot on executor threads. */
  private[graft] def normalize(raw: java.lang.StringBuilder, ks: KernelScratch): String = {
    val len = raw.length
    val buf = KernelScratch.grow(ks.normBuf, len)
    ks.normBuf = buf
    raw.getChars(0, len, buf, 0)
    var k = 0 // output length; never passes the read cursor
    var ws = false
    var i = 0
    while (i < len) {
      val c = buf(i)
      val cls = charClass(c)
      if (cls == 0) {
        if (ws && k > 0 && buf(k - 1) != '\n') { buf(k) = ' '; k += 1 }
        ws = false
        buf(k) = c; k += 1
      } else if (cls == 1) ws = true
      else { // BR sentinel: skip leading hard newlines
        if (k > 0) { buf(k) = '\n'; k += 1 }
        ws = false
      }
      i += 1
    }
    while (k > 0 && buf(k - 1) == '\n') k -= 1
    new String(buf, 0, k)
  }

  /** One flushed block as the sink hands it to a `BlockConsumer`. The
    * view and its `chars` belong to the sink: they are valid during the
    * `block` call only. The text is `chars[0, len)`, collapsed (`<pre>`:
    * raw, one leading newline stripped); `nSeps` is its ' '/'\n' count;
    * `cells` is non-empty for a table block only. */
  final class BlockView {
    var kind: String = "body"
    /** `Tags.flags(kind)`. */
    var kindFlags: Int = Tags.flags("body")
    var cls: String = ""
    var style: String = ""
    var linkChars: Int = 0
    var inBoilerplateContainer: Boolean = false
    var startByte: Long = -1L
    var endByte: Long = -1L
    var chars: Array[Char] = null
    var len: Int = 0
    var nSeps: Int = 0
    var cells: Vector[Vector[String]] = Vector.empty

    def words: Int = if (len == 0) 0 else nSeps + 1
    def headingLevel: Int = Tags.headingLevel(kind)
    def toBlock: Block = Block(kind, new String(chars, 0, len), cells, cls, style, linkChars,
      inBoilerplateContainer, startByte, endByte, nSeps)
  }

  /** Receives every block of a document, in order, at its flush. */
  trait BlockConsumer { def block(b: BlockView): Unit }

  /** Fused path: bytes → blocks in one scan, no token materialization
    * (the per-doc token array, TextRun strings and comment bodies were
    * measured at ~40% of html kernel cost). Returns a fresh buffer per
    * call. */
  def blocksStreaming(bytes: Array[Byte]): ArrayBuffer[Block] = {
    val ks = KernelScratch.get()
    try {
      val out = new ArrayBuffer[Block]
      stream(bytes, ks, b => out += b.toBlock)
      out
    } finally KernelScratch.release(ks)
  }

  /** Streams `bytes` through one `BlockSink` into `consumer`, on a scratch
    * the caller fetched (and releases). */
  private[graft] def stream(bytes: Array[Byte], ks: KernelScratch, consumer: BlockConsumer): Unit = {
    val sink = new BlockSink(ks, consumer)
    Html5Tokenizer.stream(bytes, sink, ks)
    sink.finish()
  }

  /** The single block-building state machine, fed by tokenizer events. */
  final class BlockSink(ks: KernelScratch, consumer: BlockConsumer) extends Html5Tokenizer.TokenSink {
    /** The sink reads attributes only on table (class) and block-start
      * tags (class/style via startBlock) — inline tags (a/span/b/img,
      * which carry most crawl-HTML attributes, href above all) skip
      * attr string construction in the tokenizer entirely (r6b). */
    override def wantsAttrs(name: String): Boolean =
      name == "table" || (Tags.flags(name) & Tags.FBlock) != 0

    /** Holds the current block's kind, cls and style; the rest is set at flush. */
    private val view = new BlockView

    private var suppressDepth = 0
    private var boilerDepth = 0
    private var linkDepth = 0
    // open block tags (interned names), innermost last
    private var stack = new Array[String](16)
    private var depth = 0

    // The current block's collapsed text, written as events arrive into
    // the thread-scratch `sinkBuf` (r6b: a flat array, not a
    // StringBuilder, so appends pay no coder checks). `ws` is a pending
    // whitespace run, `seps` the ' '/'\n' count written; a `<pre>` block
    // keeps its chars and drops one leading '\n' (`preStart`).
    private var tBuf: Array[Char] = ks.sinkBuf
    private var tLen = 0
    private def tEnsure(extra: Int): Unit =
      if (tLen + extra > tBuf.length) {
        tBuf = KernelScratch.grow(tBuf, tLen + extra); ks.sinkBuf = tBuf
      }
    private var ws = false
    private var seps = 0
    private var pre = false
    private var preStart = true
    private var curLink = 0
    private var spanStart = -1L
    private var spanEnd = -1L

    // table accumulation
    private var tableDepth = 0
    private var tblCls = ""
    private val tblRows = new ArrayBuffer[Vector[String]]
    private val tblRow = new ArrayBuffer[String]
    private val tblCell = new java.lang.StringBuilder
    private var inCell = false
    private var tblSpanStart = -1L
    private var tblSpanEnd = -1L

    /** Hands the current block to the consumer (trailing hard newlines
      * stripped, unless `<pre>`) when it has text, and starts the next. */
    private def flush(): Unit = {
      var k = tLen
      var s = seps
      if (!pre) while (k > 0 && tBuf(k - 1) == '\n') { k -= 1; s -= 1 }
      if (k > 0) emit(k, s, curLink, spanStart, spanEnd)
      tLen = 0; seps = 0; ws = false; preStart = true
      curLink = 0; spanStart = -1L; spanEnd = -1L
    }

    private def emit(len: Int, nSeps: Int, linkChars: Int, start: Long, end: Long): Unit = {
      val v = view
      v.chars = tBuf; v.len = len; v.nSeps = nSeps; v.linkChars = linkChars
      v.inBoilerplateContainer = boilerDepth > 0; v.startByte = start; v.endByte = end
      consumer.block(v)
    }

    private def startBlock(kind: String, cls: String, style: String): Unit = {
      view.kind = kind; view.kindFlags = Tags.flags(kind)
      view.cls = cls; view.style = style
      pre = kind == "pre"
    }

    /** Resumes the enclosing block (or body) after a block or table closes. */
    private def resume(): Unit = startBlock(if (depth > 0) stack(depth - 1) else "body", "", "")

    /** A table's one block: its text (cells joined by ' ', rows by '\n')
      * goes into `tBuf`, which is empty while a table is open. */
    private def emitTable(rows: Vector[Vector[String]]): Unit = {
      val text = rows.map(_.mkString(" ")).mkString("\n")
      tEnsure(text.length)
      text.getChars(0, text.length, tBuf, 0)
      view.kind = "table"; view.kindFlags = Tags.flags("table")
      view.cls = tblCls; view.style = ""; view.cells = rows
      emit(text.length, text.count(c => c == ' ' || c == '\n'), 0, tblSpanStart, tblSpanEnd)
      view.cells = Vector.empty
    }

    private def hasNonWs(chars: Array[Char], from: Int, len: Int): Boolean = {
      var i = from
      while (i < from + len) {
        val c = chars(i)
        if (charClass(c) != 1) return true
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
            hardNewline()
          } else if (name == "a") {
            linkDepth += 1
            // links never nest in practice; guard runaway depth
            if (linkDepth > 32) linkDepth = 32
          } else if ((fl & Tags.FBlock) != 0) {
            flush()
            if ((fl & Tags.FBoiler) != 0) boilerDepth += 1
            if (depth == stack.length) stack = java.util.Arrays.copyOf(stack, 2 * depth)
            stack(depth) = name; depth += 1
            startBlock(name, t.attrOrEmpty("class"), t.attrOrEmpty("style"))
          }
          // other inline tags (b, i, em, span, code, …) are transparent
        }
    }

    /** `<br>`: a '\n' unless at the block's start (`<pre>`: always). */
    private def hardNewline(): Unit = {
      if (pre) preStart = false
      if (pre || tLen > 0) { tEnsure(1); tBuf(tLen) = '\n'; tLen += 1; seps += 1 }
      ws = false
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
              if (tblRows.nonEmpty) emitTable(tblRows.toVector)
              resume()
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
            var i = depth - 1
            while (i >= 0 && stack(i) != name) i -= 1
            if (i >= 0) depth = i
            resume()
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
            if (linkDepth > 0) curLink += len
            val nonWs = if (pre) appendPre(chars, from, len) else appendCollapsed(chars, from, len)
            if (nonWs) {
              if (spanStart < 0) spanStart = startByte.toLong
              spanEnd = endByte.toLong
            }
          }
        }
    }

    /** Appends `chars[from, from + len)` collapsed: a whitespace run
      * becomes one ' ' before the next char (none at the block's start or
      * after a '\n'), a BR sentinel char a '\n' (none at the start).
      * Returns whether the range held a char outside [ \t\n\r\f]. */
    private def appendCollapsed(chars: Array[Char], from: Int, len: Int): Boolean = {
      tEnsure(len + 1) // at most one pending space more than the input
      val buf = tBuf
      var k = tLen
      var s = seps
      var w = ws
      var nonWs = false
      var i = from
      val end = from + len
      while (i < end) {
        val c = chars(i)
        val cls = charClass(c)
        if (cls == 0) {
          if (w) {
            if (k > 0 && buf(k - 1) != '\n') { buf(k) = ' '; k += 1; s += 1 }
            w = false
          }
          buf(k) = c; k += 1
          nonWs = true
        } else if (cls == 1) {
          w = true
        } else {
          if (k > 0) { buf(k) = '\n'; k += 1; s += 1 }
          w = false
          nonWs = true
        }
        i += 1
      }
      tLen = k; seps = s; ws = w
      nonWs
    }

    /** `<pre>`: appends the chars as they are (a BR sentinel char as
      * '\n'), dropping a '\n' that starts the block. */
    private def appendPre(chars: Array[Char], from: Int, len: Int): Boolean = {
      tEnsure(len)
      val buf = tBuf
      var k = tLen
      var s = seps
      var nonWs = false
      var i = from
      val end = from + len
      if (preStart && i < end) {
        preStart = false
        if (chars(i) == '\n') i += 1
      }
      while (i < end) {
        val raw = chars(i)
        if (charClass(raw) != 1) nonWs = true
        val c = if (raw == BrSentinel) '\n' else raw
        if (c == ' ' || c == '\n') s += 1
        buf(k) = c; k += 1
        i += 1
      }
      tLen = k; seps = s
      nonWs
    }

    /** End of the document: the last block. */
    def finish(): Unit = flush()
  }
}
