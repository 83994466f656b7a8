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

/** Text collapsed as it arrives — the kernel's one whitespace-collapse
  * loop (SURVEY.md §7 hard part (b)): a [ \t\n\r\f]+ run becomes one
  * ' ' before the next char (none at the start or after a '\n'), a BR
  * sentinel char (U+0001, a hard newline as `<br>` is) a '\n' (none at
  * the start). `Dom.BlockSink`'s blocks and table cells (through its
  * `TableReader`) and `Meta`'s title go through it.
  *
  * The chars live in the scratch's `sinkBuf` (r6b: a flat array, not a
  * StringBuilder, so appends pay no coder checks): one buffer of a
  * kernel call writes it. The block sink's table cells share the sink's
  * buffer, which is empty while a table is open.
  */
final class TextBuf(ks: KernelScratch) {
  var chars: Array[Char] = ks.sinkBuf
  var len = 0
  /** The ' '/'\n' count of `chars[0, len)`. */
  var seps = 0
  /** A whitespace run is pending. */
  var ws = false

  def ensure(extra: Int): Unit =
    if (len + extra > chars.length) { chars = KernelScratch.grow(chars, len + extra); ks.sinkBuf = chars }

  def clear(): Unit = { len = 0; seps = 0; ws = false }

  /** Appends `in[from, from + n)` collapsed; returns whether the range
    * held a char outside [ \t\n\r\f]. */
  def append(in: Array[Char], from: Int, n: Int): Boolean = {
    ensure(n + 1) // at most one pending space more than the input
    val buf = chars
    var k = len
    var s = seps
    var w = ws
    var nonWs = false
    var i = from
    val end = from + n
    while (i < end) {
      val c = in(i)
      val cls = TextBuf.charClass(c)
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
    len = k; seps = s; ws = w
    nonWs
  }

  /** `len` without trailing hard newlines. */
  def trimmedLen: Int = {
    var k = len
    while (k > 0 && chars(k - 1) == '\n') k -= 1
    k
  }

  /** The text without trailing hard newlines; clears the buffer. */
  def take(): String = {
    val s = new String(chars, 0, trimmedLen)
    clear()
    s
  }
}

object TextBuf {
  final val BrSentinel = '\u0001'

  // Char classes: 0=regular, 1=ws, 2=BR sentinel. Every whitespace char
  // and the sentinel are <= ' ', so a char above ' ' is regular after
  // one compare; the table covers the rest.
  private val cls: Array[Byte] = {
    val t = new Array[Byte](' ' + 1)
    t(' ') = 1; t('\t') = 1; t('\n') = 1; t('\r') = 1; t('\f') = 1
    t(BrSentinel) = 2
    t
  }
  @inline def charClass(c: Char): Int = if (c > ' ') 0 else cls(c)
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
  /** One flushed block as the sink hands it to a `BlockConsumer`. The
    * view and its `chars` belong to the sink: they are valid during the
    * `block` call only. The text is `chars[0, len)`, collapsed (`<pre>`:
    * raw, one leading newline stripped); `nSeps` is its ' '/'\n' count;
    * `rows` (`TableReader`'s cells) is non-empty for a table block only. */
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
    var rows: Vector[Vector[TableReader.Cell]] = Vector.empty

    def words: Int = if (len == 0) 0 else nSeps + 1
    def headingLevel: Int = Tags.headingLevel(kind)
    def toBlock: Block = Block(kind, new String(chars, 0, len), rows.map(_.map(_.text)), cls, style,
      linkChars, inBoilerplateContainer, startByte, endByte, nSeps)
  }

  /** Receives every block of a document, in order, at its flush. */
  trait BlockConsumer { def block(b: BlockView): Unit }

  /** Fused path: bytes → blocks in one scan, no token materialization
    * (the per-doc token array, TextRun strings and comment bodies were
    * measured at ~40% of html kernel cost). Returns a fresh buffer per
    * call. */
  def blocksStreaming(bytes: Array[Byte]): ArrayBuffer[Block] = {
    val out = new ArrayBuffer[Block]
    stream(bytes, b => out += b.toBlock)
    out
  }

  /** Streams `bytes` through one `BlockSink` into `consumer`. */
  def stream(bytes: Array[Byte], consumer: BlockConsumer): Unit = {
    val ks = KernelScratch.get()
    try stream(bytes, ks, consumer) finally KernelScratch.release(ks)
  }

  /** `stream` on a scratch the caller fetched (and releases). */
  private[graft] def stream(bytes: Array[Byte], ks: KernelScratch, consumer: BlockConsumer): Unit = {
    val sink = new BlockSink(ks, consumer)
    Html5Tokenizer.stream(bytes, sink, ks)
    sink.finish()
  }

  /** The single block-building state machine, fed by tokenizer events,
    * and the one place that decides which content is suppressed
    * (`Tags.FSuppress`). While a table is open, every unsuppressed event
    * goes to its `TableReader`, and the table is one block at its close. */
  final class BlockSink(ks: KernelScratch, consumer: BlockConsumer) extends Html5Tokenizer.TokenSink {
    /** The sink reads attributes only on cells while a table is open
      * (colspan), and otherwise on table (class) and block-start tags
      * (class/style via startBlock) — inline tags (a/span/b/img, which
      * carry most crawl-HTML attributes, href above all) and a table's
      * rows skip attr string construction in the tokenizer entirely (r6b). */
    override def wantsAttrs(name: String): Boolean =
      if (inTable) name == "td" || name == "th"
      else name == "table" || (Tags.flags(name) & Tags.FBlock) != 0

    /** Holds the current block's kind, cls and style; the rest is set at flush. */
    private val view = new BlockView

    private var suppressDepth = 0
    private var boilerDepth = 0
    private var linkDepth = 0
    // open block tags (interned names), innermost last
    private var stack = new Array[String](16)
    private var depth = 0

    // The current block's text, or the open table's current cell. A
    // `<pre>` block keeps its chars and drops one leading '\n' (`preStart`).
    private val buf = new TextBuf(ks)
    private var pre = false
    private var preStart = true
    private var curLink = 0
    private var spanStart = -1L
    private var spanEnd = -1L

    // created at the document's first table; `tblCls` is the open table's class
    private var table: TableReader = null
    private var tblCls = ""
    private def inTable: Boolean = table != null && table.isOpen

    /** Hands the current block to the consumer (trailing hard newlines
      * stripped, unless `<pre>`) when it has text, and starts the next. */
    private def flush(): Unit = {
      val k = if (pre) buf.len else buf.trimmedLen
      if (k > 0) emit(k, buf.seps - (buf.len - k), curLink, spanStart, spanEnd)
      buf.clear(); preStart = true
      curLink = 0; spanStart = -1L; spanEnd = -1L
    }

    private def emit(len: Int, nSeps: Int, linkChars: Int, start: Long, end: Long): Unit = {
      val v = view
      v.chars = buf.chars; v.len = len; v.nSeps = nSeps; v.linkChars = linkChars
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

    /** The table's close: its one block, when it has rows, then the
      * enclosing block resumes. */
    private def closeTable(rows: Vector[Vector[TableReader.Cell]]): Unit = {
      if (rows.nonEmpty) emitTable(rows)
      resume()
    }

    /** A table's block: its rows, its text (cells joined by ' ', rows by
      * '\n') written into `buf`, which is empty once the table has
      * closed, and the span of its cells' text. */
    private def emitTable(rows: Vector[Vector[TableReader.Cell]]): Unit = {
      val text = rows.map(_.map(_.text).mkString(" ")).mkString("\n")
      var start = -1L
      var end = -1L
      rows.foreach(_.foreach(c => if (c.startByte >= 0) { if (start < 0) start = c.startByte; end = c.endByte }))
      buf.ensure(text.length)
      text.getChars(0, text.length, buf.chars, 0)
      view.kind = "table"; view.kindFlags = Tags.flags("table")
      view.cls = tblCls; view.style = ""; view.rows = rows
      emit(text.length, text.count(c => c == ' ' || c == '\n'), 0, start, end)
      view.rows = Vector.empty
    }

    def tagOpen(t: TagOpen): Unit = {
        val name = t.name
        val fl = Tags.flags(name)
        if ((fl & Tags.FSuppress) != 0) {
          if (!t.selfClosing) suppressDepth += 1
        } else if (suppressDepth == 0) {
          if (inTable) table.tagOpen(t)
          else if (name == "table") {
            if (!t.selfClosing) {
              flush()
              tblCls = t.attrOrEmpty("class")
              if (table == null) table = new TableReader(buf, closeTable)
              table.tagOpen(t)
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
      if (pre || buf.len > 0) { buf.ensure(1); buf.chars(buf.len) = '\n'; buf.len += 1; buf.seps += 1 }
      buf.ws = false
    }

    def tagClose(name: String, startByte: Int, endByte: Int): Unit = {
        val fl = Tags.flags(name)
        if ((fl & Tags.FSuppress) != 0) {
          if (suppressDepth > 0) suppressDepth -= 1
        } else if (suppressDepth == 0) {
          if (inTable) table.tagClose(name)
          else if (name == "a") {
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
          if (inTable) table.text(chars, from, len, startByte, endByte)
          else {
            if (linkDepth > 0) curLink += len
            val nonWs = if (pre) appendPre(chars, from, len) else buf.append(chars, from, len)
            if (nonWs) {
              if (spanStart < 0) spanStart = startByte.toLong
              spanEnd = endByte.toLong
            }
          }
        }
    }

    /** `<pre>`: appends the chars as they are (a BR sentinel char as
      * '\n'), dropping a '\n' that starts the block. */
    private def appendPre(chars: Array[Char], from: Int, len: Int): Boolean = {
      buf.ensure(len)
      val out = buf.chars
      var k = buf.len
      var s = buf.seps
      var nonWs = false
      var i = from
      val end = from + len
      if (preStart && i < end) {
        preStart = false
        if (chars(i) == '\n') i += 1
      }
      while (i < end) {
        val raw = chars(i)
        if (TextBuf.charClass(raw) != 1) nonWs = true
        val c = if (raw == TextBuf.BrSentinel) '\n' else raw
        if (c == ' ' || c == '\n') s += 1
        out(k) = c; k += 1
        i += 1
      }
      buf.len = k; buf.seps = s
      nonWs
    }

    /** End of the document: a table still open, then the last block. */
    def finish(): Unit = {
      if (table != null) table.finish()
      flush()
    }
  }
}
