package graft.extract

import graft.html.{Html5Tokenizer, KernelScratch, TableReader, Tags, TagOpen, TextBuf}
import scala.collection.mutable.ArrayBuffer

/** HTML table → GitHub-flavored-markdown extraction — the web-payload
  * analog of the reference's formatted table output (GOT-OCR2.0's
  * format mode emits markdown/mathpix tables from document images,
  * GOT/demo/run_ocr_2.0.py OCR-format path; our input is crawl HTML, so
  * the structured-table signal comes from real `<table>` markup instead
  * of a vision model).
  *
  * Semantics: rows and cells are `TableReader`'s (the extraction
  * kernel's table rules: depth-1 structure, a nested table folded into
  * the enclosing cell, HTML5's implied closes, cell text entity-decoded
  * by the tokenizer and whitespace-collapsed as it arrives), over the
  * kernel's suppression (`Tags.FSuppress`: no script, style or button
  * text in a cell). On top of them:
  *  - `colspan=k` flattens to the cell followed by k-1 empty cells
  *    (k clamped to [1,16]); `rowspan` is ignored — the cell appears
  *    in its first row only (documented md-flattening convention);
  *  - the table's markdown header is the longest prefix of rows made
  *    entirely of `<th>` cells (0 rows → a synthesized empty header,
  *    GFM requires one); all rows pad to the widest row;
  *  - `|` in a cell escapes to `\|`; newlines are already collapsed;
  *    other characters pass through.
  *
  * Scale shape: pure map over the payload via the streaming tokenizer
  * (no DOM build, no token list); emits one row per table map-side —
  * the Outlinks fan-out shape, shuffle-free until the caller's
  * aggregate.
  */
object TableMd {

  /** One extracted table: colspan-expanded cell grid, number of leading
    * all-`<th>` header rows, and the rendered GFM markdown. */
  final case class Table(rows: Vector[Vector[String]], headerRows: Int,
      markdown: String)

  private def esc(cell: String): String = cell.replace("|", "\\|")

  /** Render a cell grid as GFM: header (real or synthesized-empty),
    * `---` separator, body; every row padded to the widest row. */
  def render(rows: Vector[Vector[String]], headerRows: Int): String = {
    val width = rows.map(_.length).max
    def line(cells: Vector[String]): String =
      (cells ++ Vector.fill(width - cells.length)(""))
        .map(c => s" ${esc(c)} ").mkString("|", "|", "|")
    val sep = Vector.fill(width)("---").map(c => s" $c ").mkString("|", "|", "|")
    val (header, body) =
      if (headerRows > 0) (rows.take(headerRows).map(line), rows.drop(headerRows))
      else (Vector(line(Vector.fill(width)(""))), rows)
    (header ++ Vector(sep) ++ body.map(line)).mkString("\n")
  }

  /** Extract every top-level table from an HTML payload. Non-HTML
    * payloads (magic-byte dispatch) yield no tables. */
  def extract(bytes: Array[Byte]): Seq[Table] = {
    if (Extractor.payloadKind(bytes) != "html") return Nil
    val out = ArrayBuffer.empty[Table]
    val ks = KernelScratch.get()
    val reader = new TableReader(new TextBuf(ks), rows => if (rows.nonEmpty) out += table(rows))
    val sink = new Html5Tokenizer.TokenSink {
      private var suppressDepth = 0
      override def wantsAttrs(name: String): Boolean = name == "td" || name == "th"
      def tagOpen(t: TagOpen): Unit =
        if ((Tags.flags(t.name) & Tags.FSuppress) != 0) { if (!t.selfClosing) suppressDepth += 1 }
        else if (suppressDepth == 0) reader.tagOpen(t)
      def tagClose(name: String, startByte: Int, endByte: Int): Unit =
        if ((Tags.flags(name) & Tags.FSuppress) != 0) { if (suppressDepth > 0) suppressDepth -= 1 }
        else if (suppressDepth == 0) reader.tagClose(name)
      def text(chars: Array[Char], from: Int, len: Int, sb: Int, eb: Int): Unit =
        if (suppressDepth == 0) reader.text(chars, from, len, sb, eb)
    }
    try {
      Html5Tokenizer.stream(bytes, sink, ks)
      reader.finish() // EOF closes an open table (truncated payloads keep their cells)
    } finally KernelScratch.release(ks)
    out.toSeq
  }

  /** The colspan-padded grid and its all-`<th>` header prefix. */
  private def table(rows: Vector[Vector[TableReader.Cell]]): Table = {
    val grid = rows.map(_.flatMap(c => c.text +: Vector.fill(c.colspan - 1)("")))
    val header = rows.takeWhile(_.forall(_.th)).length
    Table(grid, header, render(grid, header))
  }
}
