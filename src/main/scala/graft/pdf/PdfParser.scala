package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.Inflater
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One positioned text line: (x, y) is the text-space position of the
  * line's first show op (PDF y grows upward). */
final case class PdfLine(x: Double, y: Double, text: String)

/** From-scratch PDF content-stream text extractor (the binary-payload
  * path of BASELINE.json: "PDF content-stream parser ... plus layout").
  *
  * Layout model (SURVEY.md §7 hard-part (c)): every text-positioning op
  * (Td, TD, T-star, Tm, quote ops) starts a new line; show ops (Tj, TJ,
  * quote ops) append to the current line; lines join with '\n'.
  * Positions are tracked through the line matrix (Tm absolute, Td/TD
  * relative, T-star/TL leading), and reading order is column-aware: when a page's line
  * x-starts are bimodal (largest gap ≥ one inch with ≥3 lines per side —
  * a column gutter, never a paragraph indent), each column is emitted
  * top-to-bottom, left column first, recursively for 3+ columns.
  * Single-column pages keep exact DOCUMENT order (golden byte-identity
  * is unchanged for them). Never throws on hostile bytes: malformed
  * structures yield best-effort text (possibly empty).
  */
object PdfParser {

  /** Minimum x gap treated as a column gutter (1 inch = 72 pt; paragraph
    * indents are well under this). */
  final val MinGutterPts = 72.0

  def isPdf(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
      bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'

  /** Extract text lines from all content streams in the document. */
  def extractText(bytes: Array[Byte]): String = {
    val streams = findStreams(bytes)
    val lines = new ArrayBuffer[String]
    streams.foreach { s =>
      val page = new ArrayBuffer[PdfLine]
      parseContent(s, page)
      orderColumns(page.toSeq).foreach(lines += _.text)
    }
    lines.mkString("\n")
  }

  /** Conservative per-character width estimate used by the
    * crossing-the-gutter test (12pt Helvetica averages ~6.6pt/glyph;
    * 4pt underestimates so only clearly-too-wide lines veto a split). */
  final val MinCharWidthPts = 4.0
  /** A side must hold at least this fraction of the page's lines to be a
    * column (sparse clusters — centered headings, pull quotes — are
    * offset block elements, not columns). */
  final val MinColumnFraction = 0.25

  /** Column-aware reading order for one page (content stream). Splits
    * recursively at the largest x-start gap when it looks like a gutter;
    * inside a column, lines read top-down (y desc; stable, so equal-y
    * lines keep document order). A page with no detectable gutter is
    * returned in document order untouched.
    *
    * Two false-split vetoes protect single-column pages: a "column" that
    * holds under a quarter of the lines is an offset block element
    * (centered heading) not a column, and a left-side line whose
    * conservative width estimate crosses into the right side's x-start
    * proves the gap is not a gutter. */
  private[graft] def orderColumns(ls: Seq[PdfLine]): Seq[PdfLine] = {
    def splitCols(c: Seq[PdfLine]): Seq[Seq[PdfLine]] =
      gutterX(c) match {
        case None => Seq(c)
        case Some(split) =>
          val (left, right) = c.partition(_.x < split)
          splitCols(left) ++ splitCols(right)
      }
    val cols = splitCols(ls)
    if (cols.length == 1) ls
    else cols.flatMap(_.sortBy(l => -l.y)) // Scala sortBy is stable
  }

  /** The x midpoint of a column gutter in `c` when the page-layout column
    * test passes (largest x-start gap ≥ [[MinGutterPts]], both sides hold
    * ≥3 lines and ≥[[MinColumnFraction]] of the block, and no left-side
    * line's conservative width crosses the right side's x-start), else
    * None. Shared with [[PdfTable]], which uses the SAME predicate in
    * reverse: a two-anchor block that would split here is a two-column
    * page LAYOUT (read as columns), never a table. */
  private[graft] def gutterX(c: Seq[PdfLine]): Option[Double] = {
    if (c.length < 6) return None
    val xs = c.map(_.x).distinct.sorted
    if (xs.length < 2) return None
    var bestGap = 0.0
    var split = 0.0
    var i = 1
    while (i < xs.length) {
      val g = xs(i) - xs(i - 1)
      if (g > bestGap) { bestGap = g; split = (xs(i) + xs(i - 1)) / 2 }
      i += 1
    }
    if (bestGap < MinGutterPts) return None
    val (left, right) = c.partition(_.x < split)
    if (left.length < 3 || right.length < 3) return None
    val minFrac = math.max(3, (c.length * MinColumnFraction).toInt)
    if (left.length < minFrac || right.length < minFrac) return None
    val rightMinX = right.map(_.x).min
    if (left.exists(l => l.x + l.text.length * MinCharWidthPts > rightMinX))
      return None
    Some(split)
  }

  /** Inflated bytes one document may produce across all its streams
    * (the kernel's input cap, `Extractor.MaxDocBytes`). A FlateDecode
    * stream that would pass it is cut there like a truncated stream, and
    * later ones inflate to nothing: a 16 MiB file of deflate bombs would
    * otherwise ask for GiBs. */
  final val MaxInflatedBytes: Int = 16 << 20

  /** Locate `stream ... endstream` payloads; inflate when the preceding
    * dictionary mentions /FlateDecode (within [[MaxInflatedBytes]] per
    * document), else use raw bytes. */
  private[pdf] def findStreams(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val raw = new String(bytes, ISO_8859_1)
    val out = new ArrayBuffer[Array[Byte]]
    var inflated = 0 // budget spent
    var from = 0
    while (from < raw.length) {
      val si = raw.indexOf("stream", from)
      if (si < 0) { from = raw.length }
      else {
        // require it to be the keyword, not "endstream"
        val isEnd = si >= 3 && raw.regionMatches(si - 3, "end", 0, 3)
        if (isEnd) { from = si + 6 }
        else {
          var dataStart = si + 6
          if (dataStart < raw.length && raw.charAt(dataStart) == '\r') dataStart += 1
          if (dataStart < raw.length && raw.charAt(dataStart) == '\n') dataStart += 1
          val ei = raw.indexOf("endstream", dataStart)
          if (ei < 0) { from = raw.length }
          else {
            var dataEnd = ei
            // strip one trailing EOL
            if (dataEnd > dataStart && raw.charAt(dataEnd - 1) == '\n') dataEnd -= 1
            if (dataEnd > dataStart && raw.charAt(dataEnd - 1) == '\r') dataEnd -= 1
            val dictStart = math.max(0, raw.lastIndexOf("<<", si))
            val dict = raw.substring(dictStart, si)
            val payload = java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
            val data =
              if (!dict.contains("/FlateDecode")) payload
              else { val d = inflate(payload, MaxInflatedBytes - inflated); inflated += d.length; d }
            if (data.nonEmpty) out += data
            from = ei + 9
          }
        }
      }
    }
    out.toSeq
  }

  /** At most `limit` inflated bytes of `data`: all of them when the
    * stream ends first, the prefix before the damage when it is cut
    * short, none when it is corrupt. */
  private def inflate(data: Array[Byte], limit: Int): Array[Byte] = {
    if (limit <= 0) return Array.emptyByteArray
    val inf = new Inflater()
    try {
      inf.setInput(data)
      var out = new Array[Byte](math.min(limit, data.length * 4 + 64))
      var n = 0
      var stalled = false // no output with room to write: needs input or a dictionary
      while (!stalled && !inf.finished() && n < limit) {
        if (n == out.length) out = java.util.Arrays.copyOf(out, math.min(limit, 2 * n))
        val k = inf.inflate(out, n, out.length - n)
        stalled = k == 0
        n += k
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    } catch { case NonFatal(_) => Array.emptyByteArray }
    finally inf.end() // frees zlib's native memory on every path
  }

  /** Parse one content stream, appending completed positioned lines.
    * Tracks the line position through Tm (absolute), Td/TD (relative),
    * and the T-star / quote ops (advance by leading, set via TL or TD). */
  private[graft] def parseContent(stream: Array[Byte], lines: ArrayBuffer[PdfLine]): Unit = {
    val s = new String(stream, ISO_8859_1)
    val n = s.length
    var i = 0
    val cur = new StringBuilder
    var anyShow = false
    // line-matrix position + leading (text state)
    var lineX = 0.0; var lineY = 0.0; var leading = 0.0
    // position captured at the line's FIRST show op
    var curX0 = 0.0; var curY0 = 0.0
    def breakLine(): Unit = {
      if (anyShow) { lines += PdfLine(curX0, curY0, cur.toString); cur.setLength(0); anyShow = false }
    }
    def show(str: String): Unit = {
      if (!anyShow) { curX0 = lineX; curY0 = lineY }
      cur.append(str)
      anyShow = true
    }
    // operand stacks: strings and numbers (strings only ever consumed
    // by show ops; numbers by positioning ops)
    val operands = new ArrayBuffer[String]
    val nums = new ArrayBuffer[Double]
    var lastWasArray = false
    var arrayStrings: List[String] = Nil
    def num(fromEnd: Int): Double =
      if (nums.length >= fromEnd) nums(nums.length - fromEnd) else 0.0
    def clearOps(): Unit = { operands.clear(); nums.clear(); lastWasArray = false }

    while (i < n) {
      val c = s.charAt(i)
      if (c == '(') {
        val (str, next) = parseString(s, i)
        operands += str
        lastWasArray = false
        i = next
      } else if (c == '[') {
        val (strs, next) = parseArray(s, i)
        arrayStrings = strs
        lastWasArray = true
        i = next
      } else if (c == '<' && i + 1 < n && s.charAt(i + 1) != '<') {
        val (str, next) = parseHexString(s, i)
        operands += str
        lastWasArray = false
        i = next
      } else if (c == '%') {
        while (i < n && s.charAt(i) != '\n') i += 1
      } else if ((c >= '0' && c <= '9') || c == '-' || c == '+' || c == '.') {
        // Hand-rolled decimal parse (PDF numbers are sign + digits +
        // optional fraction — no exponent): the substring + toDouble
        // formulation allocated and slow-parsed EVERY bare number in the
        // stream, and profiling the kernel per payload kind showed it as
        // the round-2 pdf cost increase. Positioning ops read at most the
        // last 6 operands, so the stack is capped at 8: a hostile stream
        // of bare numbers must not grow it without bound.
        val neg = c == '-'
        if (c == '-' || c == '+') i += 1
        var mant = 0L      // all digits as one integer
        var div = 1L       // 10^(fraction digits)
        var digits = 0
        var any = false
        while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
          if (digits < 18) { mant = mant * 10 + (s.charAt(i) - '0'); digits += 1 }
          any = true; i += 1
        }
        if (i < n && s.charAt(i) == '.') {
          i += 1
          while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
            if (digits < 18) { mant = mant * 10 + (s.charAt(i) - '0'); div *= 10; digits += 1 }
            any = true; i += 1
          }
        }
        if (any) {
          if (nums.length >= 8) nums.remove(0)
          // mant and div are exact in double (< 2^60 capped at 18 digits,
          // typical PDF coords well under 2^53), so one correctly-rounded
          // division reproduces toDouble's value for realistic inputs
          val v = mant.toDouble / div.toDouble
          nums += (if (neg) -v else v)
        } // lone '-'/'+'/'.' pushes nothing
      } else if (isOpChar(c)) {
        val start = i
        while (i < n && isOpChar(s.charAt(i))) i += 1
        s.substring(start, i) match {
          case "Td" =>
            breakLine()
            lineX += num(2); lineY += num(1)
            clearOps()
          case "TD" =>
            breakLine()
            leading = -num(1)
            lineX += num(2); lineY += num(1)
            clearOps()
          case "T*" =>
            breakLine()
            lineY -= leading
            clearOps()
          case "Tm" =>
            breakLine()
            if (nums.length >= 6) { lineX = num(2); lineY = num(1) }
            clearOps()
          case "TL" =>
            leading = num(1)
            clearOps()
          case "Tj" =>
            if (operands.nonEmpty) show(operands.last)
            clearOps()
          case "TJ" =>
            if (lastWasArray && arrayStrings.nonEmpty) {
              if (!anyShow) { curX0 = lineX; curY0 = lineY }
              arrayStrings.foreach(cur.append)
              anyShow = true
            }
            lastWasArray = false
          case "'" =>
            breakLine()
            lineY -= leading
            if (operands.nonEmpty) show(operands.last)
            clearOps()
          case "\"" =>
            breakLine()
            lineY -= leading
            if (operands.nonEmpty) show(operands.last)
            clearOps()
          case "ET" | "BT" =>
            breakLine()
            lineX = 0.0; lineY = 0.0
            clearOps()
          case _ =>
            clearOps()
        }
      } else {
        i += 1 // names, whitespace, dict delimiters
      }
    }
    breakLine()
  }

  @inline private def isOpChar(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || c == '*' || c == '\'' || c == '"'

  /** PDF literal string with escapes and balanced nesting. Returns
    * (decoded, indexAfterClose). */
  private[graft] def parseString(s: String, open: Int): (String, Int) = {
    val b = new StringBuilder
    var i = open + 1
    var depth = 1
    val n = s.length
    while (i < n && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) {
        val e = s.charAt(i + 1)
        e match {
          case 'n'  => b.append('\n'); i += 2
          case 'r'  => b.append('\r'); i += 2
          case 't'  => b.append('\t'); i += 2
          case 'b'  => b.append('\b'); i += 2
          case 'f'  => b.append('\f'); i += 2
          case '('  => b.append('('); i += 2
          case ')'  => b.append(')'); i += 2
          case '\\' => b.append('\\'); i += 2
          case '\n' => i += 2 // line continuation
          case '\r' => i += (if (i + 2 < n && s.charAt(i + 2) == '\n') 3 else 2)
          case d if d >= '0' && d <= '7' =>
            var code = 0; var k = i + 1; var cnt = 0
            while (k < n && cnt < 3 && s.charAt(k) >= '0' && s.charAt(k) <= '7') {
              code = code * 8 + (s.charAt(k) - '0'); k += 1; cnt += 1
            }
            b.append((code & 0xff).toChar); i = k
          case other => b.append(other); i += 2
        }
      } else if (c == '(') { depth += 1; b.append(c); i += 1 }
      else if (c == ')') { depth -= 1; if (depth > 0) b.append(c); i += 1 }
      else { b.append(c); i += 1 }
    }
    (b.toString, i)
  }

  private[graft] def parseHexString(s: String, open: Int): (String, Int) = {
    val b = new StringBuilder
    var i = open + 1
    val n = s.length
    var hi = -1
    while (i < n && s.charAt(i) != '>') {
      val c = s.charAt(i)
      val v =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if (v >= 0) {
        if (hi < 0) hi = v
        else { b.append(((hi << 4) | v).toChar); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) b.append((hi << 4).toChar)
    (b.toString, if (i < n) i + 1 else n)
  }

  /** `[ (a) -250 (b) ] TJ` array: collect the strings in order. */
  private[pdf] def parseArray(s: String, open: Int): (List[String], Int) = {
    val out = List.newBuilder[String]
    var i = open + 1
    val n = s.length
    while (i < n && s.charAt(i) != ']') {
      val c = s.charAt(i)
      if (c == '(') {
        val (str, next) = parseString(s, i)
        out += str; i = next
      } else if (c == '<') {
        val (str, next) = parseHexString(s, i)
        out += str; i = next
      } else i += 1
    }
    (out.result(), if (i < n) i + 1 else n)
  }
}
