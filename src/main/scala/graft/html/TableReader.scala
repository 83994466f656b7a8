package graft.html

import scala.collection.mutable.ArrayBuffer

/** The one table state machine: `Dom.BlockSink`, its one caller, feeds
  * it while a table is open and drops suppressed content (script,
  * style, …) before it gets here. The rows it reads become the table's
  * block, which `Extractor` and `TableMd` read. Rules:
  *  - `<table>` opens a table; `<table/>` opens nothing;
  *  - rows and cells are tracked at table depth 1 only: a NESTED table's
  *    text folds into the enclosing cell (crawl HTML nests layout tables
  *    everywhere);
  *  - HTML5's implied closes: `<td>`/`<th>` closes the open cell, `<tr>`
  *    the open row, `</table>` (or `finish`, the end of input) the open
  *    cell, row and table; `</td>`, `</th>` and `</tr>` close theirs;
  *  - a cell's text collapses through `cell` as it arrives, `<br>` as a
  *    space; text outside a cell is dropped, and so is a row without
  *    cells;
  *  - a cell keeps its `<th>` flag, its colspan (digits only, clamped to
  *    [1, 16]; 1 when absent) and the byte span of its non-whitespace
  *    text.
  *
  * `done` gets each outermost table's rows at its close, none for a
  * table without rows; `cell` is empty whenever no cell is open.
  */
final class TableReader(cell: TextBuf, done: Vector[Vector[TableReader.Cell]] => Unit) {
  import TableReader.Cell

  private var depth = 0
  private val rows = new ArrayBuffer[Vector[Cell]]
  private val row = new ArrayBuffer[Cell]
  private var inCell = false
  private var th = false
  private var colspan = 1
  private var start = -1L
  private var end = -1L

  def isOpen: Boolean = depth > 0

  def tagOpen(t: TagOpen): Unit = t.name match {
    case "table" => if (!t.selfClosing) depth += 1
    case "td" | "th" if depth == 1 =>
      closeCell()
      inCell = true; th = t.name == "th"; colspan = TableReader.colspan(t.attrOrEmpty("colspan"))
    case "tr" if depth == 1 => closeRow()
    case "br" => if (inCell) cell.ws = true
    case _ => ()
  }

  def tagClose(name: String): Unit = name match {
    case "table" if depth > 0 =>
      depth -= 1
      if (depth == 0) closeTable()
    case "td" | "th" if depth == 1 => closeCell()
    case "tr" if depth == 1        => closeRow()
    case _                         => ()
  }

  def text(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit =
    if (inCell && cell.append(chars, from, len)) {
      if (start < 0) start = startByte.toLong
      end = endByte.toLong
    }

  /** End of input: closes a table still open. */
  def finish(): Unit = if (depth > 0) { depth = 0; closeTable() }

  private def closeCell(): Unit = if (inCell) {
    row += Cell(cell.take(), th, colspan, start, end)
    inCell = false; start = -1L; end = -1L
  }

  private def closeRow(): Unit = {
    closeCell()
    if (row.nonEmpty) { rows += row.toVector; row.clear() }
  }

  private def closeTable(): Unit = {
    closeRow()
    val t = rows.toVector
    rows.clear()
    done(t)
  }
}

object TableReader {
  /** One cell: collapsed text, `<th>` flag, colspan, and the byte span
    * of its non-whitespace text (-1, -1 when it has none). */
  final case class Cell(text: String, th: Boolean, colspan: Int, startByte: Long, endByte: Long)

  private def colspan(v: String): Int =
    if (v.isEmpty || !v.forall(_.isDigit)) 1
    else math.max(1, v.foldLeft(0)((n, d) => math.min(16, 10 * n + Character.digit(d, 10))))
}
