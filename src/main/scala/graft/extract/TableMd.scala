package graft.extract

import graft.html.{Dom, TableReader}
import scala.collection.mutable.ArrayBuffer

/** HTML table → GitHub-flavored-markdown extraction — the web-payload
  * analog of the reference's formatted table output (GOT-OCR2.0's
  * format mode emits markdown/mathpix tables from document images,
  * GOT/demo/run_ocr_2.0.py OCR-format path; our input is crawl HTML, so
  * the structured-table signal comes from real `<table>` markup instead
  * of a vision model).
  *
  * Semantics: a table is the extraction kernel's table block
  * (`Dom.BlockSink`), and its rows and cells are that block's
  * `TableReader` rows: depth-1 structure, a nested table folded into
  * the enclosing cell, HTML5's implied closes, cell text entity-decoded
  * by the tokenizer and whitespace-collapsed as it arrives, and the
  * kernel's suppression (no script, style or button text in a cell).
  * On top of them:
  *  - `colspan=k` flattens to the cell followed by k-1 empty cells
  *    (k clamped to [1,16]); `rowspan` is ignored — the cell appears
  *    in its first row only (documented md-flattening convention);
  *  - the table's markdown header is the longest prefix of rows made
  *    entirely of `<th>` cells (0 rows → a synthesized empty header,
  *    GFM requires one); all rows pad to the widest row;
  *  - `|` in a cell escapes to `\|`; newlines are already collapsed;
  *    other characters pass through.
  *
  * Scale shape: pure map over the payload via the streaming block
  * builder (no DOM build, no token list); emits one row per table map-side —
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
    // a table block's rows; the end of input closes an open table
    // (truncated payloads keep their cells)
    Dom.stream(bytes, b => if (b.rows.nonEmpty) out += table(b.rows))
    out.toSeq
  }

  /** The colspan-padded grid and its all-`<th>` header prefix. */
  private def table(rows: Vector[Vector[TableReader.Cell]]): Table = {
    val grid = rows.map(_.flatMap(c => c.text +: Vector.fill(c.colspan - 1)("")))
    val header = rows.takeWhile(_.forall(_.th)).length
    Table(grid, header, render(grid, header))
  }
}
