package graft

import graft.extract.TableMd
import org.scalatest.funsuite.AnyFunSuite

/** Table→markdown kernel contract: header detection, colspan
  * flattening, escaping, nesting, truncation leniency. */
class TableMdSpec extends AnyFunSuite {

  private def one(html: String): TableMd.Table = {
    val ts = TableMd.extract(html.getBytes("UTF-8"))
    assert(ts.length == 1, s"expected 1 table, got ${ts.length}")
    ts.head
  }

  test("th header row renders above the separator") {
    val t = one("<table><tr><th>Name</th><th>V</th></tr>" +
      "<tr><td>a</td><td>b</td></tr></table>")
    assert(t.headerRows == 1)
    assert(t.markdown ==
      "| Name | V |\n| --- | --- |\n| a | b |")
  }

  test("no-th table synthesizes an empty header") {
    val t = one("<table><tr><td>a</td><td>b</td></tr></table>")
    assert(t.headerRows == 0)
    assert(t.markdown == "|  |  |\n| --- | --- |\n| a | b |")
  }

  test("colspan flattens to trailing empty cells, clamped to 16") {
    val t = one("<table><tr><td colspan=\"2\">wide</td><td>c</td></tr>" +
      "<tr><td>x</td><td>y</td><td>z</td></tr></table>")
    assert(t.rows == Vector(Vector("wide", "", "c"), Vector("x", "y", "z")))
    val big = one("<table><tr><td colspan=\"99\">w</td></tr></table>")
    assert(big.rows.head.length == 16)
  }

  test("pipes escape; entities decode; whitespace normalizes") {
    val t = one("<table><tr><td>a|b</td><td>x &amp; y\n  z</td></tr></table>")
    assert(t.rows == Vector(Vector("a|b", "x & y z")))
    assert(t.markdown.contains("| a\\|b | x & y z |"))
  }

  test("nested table text folds into the enclosing cell") {
    val t = one("<table><tr><td>outer <table><tr><td>inner</td></tr>" +
      "</table> tail</td></tr></table>")
    assert(t.rows == Vector(Vector("outer inner tail")))
  }

  test("ragged rows pad to the widest row") {
    val t = one("<table><tr><th>H</th></tr>" +
      "<tr><td>r1</td><td>r2</td></tr></table>")
    assert(t.markdown == "| H |  |\n| --- | --- |\n| r1 | r2 |")
  }

  test("truncated payload keeps its complete prefix") {
    val t = one("<table><tr><td>done</td></tr><tr><td>half")
    assert(t.rows == Vector(Vector("done"), Vector("half")))
  }

  test("rowspan is ignored; br becomes a space; unclosed cells close on tr") {
    val t = one("<table><tr><td rowspan=\"2\">a<br>b<td>c</tr>" +
      "<tr><td>d</td></tr></table>")
    assert(t.rows == Vector(Vector("a b", "c"), Vector("d")))
  }

  test("multiple top-level tables; self-closing and non-HTML yield none") {
    val ts = TableMd.extract(
      "<table><tr><td>1</td></tr></table><p>x</p><table><tr><td>2</td></tr></table>"
        .getBytes("UTF-8"))
    assert(ts.map(_.rows) == Seq(Vector(Vector("1")), Vector(Vector("2"))))
    assert(TableMd.extract("<table/>".getBytes("UTF-8")).isEmpty)
    assert(TableMd.extract("%PDF-1.4 junk".getBytes("UTF-8")).isEmpty)
    assert(TableMd.extract("<p>no tables</p>".getBytes("UTF-8")).isEmpty)
  }

  test("script, style and button text never reaches a cell") {
    val t = one("<table><tr><td>x<script>var s = 1</script>y</td>" +
      "<td>a<style>td { color: red }</style>b<button>Go</button>c</td></tr></table>")
    assert(t.rows == Vector(Vector("xy", "abc")))
  }

  test("a colspan past Int range clamps to 16 instead of throwing") {
    val t = one("<table><tr><td colspan=\"99999999999\">w</td></tr></table>")
    assert(t.rows == Vector(Vector("w") ++ Vector.fill(15)("")))
  }

  test("header prefix counts multiple all-th rows; mixed row ends it") {
    val t = one("<table><tr><th>a</th></tr><tr><th>b</th></tr>" +
      "<tr><th>h</th></tr><tr><td>d</td></tr></table>")
    assert(t.headerRows == 3)
    val mixed = one("<table><tr><th>a</th><td>b</td></tr>" +
      "<tr><td>c</td><td>d</td></tr></table>")
    assert(mixed.headerRows == 0)
  }

  test("a table after an unclosed <head> is found") {
    val t = one("<html><head><title>T</title><body><table><tr><td>a</td></tr></table>")
    val found = t.rows == Vector(Vector("a"))
    assert(found)
  }
}
