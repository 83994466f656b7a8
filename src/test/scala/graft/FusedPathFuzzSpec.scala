package graft

import graft.extract.{ExtractMode, Extractor}
import graft.html.Dom
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** The fused path (bytes → BlockSink via TokenSink events) and the
  * token-list path (`TokenList`: tokenize → ArraySeq → replay) share one
  * state machine, but the EVENT STREAM itself could diverge from the token
  * list (run batching, CDATA direct-append, comment ranges, EOF
  * flushes). This fuzzes seeded hostile token soup through both and
  * demands identical blocks — and identical kernel extraction output.
  * Seed-fixed: failures reproduce exactly. */
class FusedPathFuzzSpec extends AnyFunSuite {

  private val tagPool = Array("p", "div", "a", "b", "table", "tr", "td",
    "script", "style", "pre", "li", "ul", "nav", "h2", "br", "textarea", "x-odd")
  private val atoms = Array("&amp;", "&#65;", "&bogus;", "&", "<", ">", "<!",
    "<!--", "-->", "<!-- c -->", "<![CDATA[z]]>", "<![CDATA[broken", "<![CDATA[]]>", "<?pi?>",
    "<!doctype html>", " ", "\n", "é中", "</", "<3", "", "word", "x y z")

  private def soup(r: scala.util.Random): String = {
    val n = r.nextInt(40)
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      r.nextInt(6) match {
        case 0 => sb.append('<').append(tagPool(r.nextInt(tagPool.length))).append('>')
        case 1 => sb.append("</").append(tagPool(r.nextInt(tagPool.length))).append('>')
        case 2 => sb.append('<').append(tagPool(r.nextInt(tagPool.length)))
          .append(" class='c&amp;1' href=/x>")
        case 3 => sb.append(atoms(r.nextInt(atoms.length)))
        case 4 => (0 until 3).foreach(_ => sb.append(r.nextInt(256).toChar))
        case _ => sb.append(r.alphanumeric.take(r.nextInt(12)).mkString)
      }
    }
    sb.toString
  }

  test("streaming and token-replay block lists are identical on token soup") {
    val r = new scala.util.Random(0xf05edL)
    (0 until 500).foreach { i =>
      val s = soup(r)
      val bytes = s.getBytes(UTF_8)
      val viaTokens = TokenList.blocks(TokenList.tokenize(bytes))
      val viaStream = Dom.blocksStreaming(bytes)
      assert(viaStream == viaTokens, s"iter $i diverged on: ${s.take(200)}")
    }
  }

  test("an entity-dense text run past the tokenizer's initial text buffer replays identically") {
    // every '&' splits the run into segments, so the whole run collects in
    // the tokenizer's scratch text buffer (4 K chars initially) and grows it
    val run = (0 until 2500).map(i => s"w$i&amp;x&#65;").mkString(" ")
    val decoded = (0 until 2500).map(i => s"w$i&xA").mkString(" ")
    assert(run.length > 10 * 1024 && decoded.length > 4 * 1024)
    val html = s"<title>$run</title><p>$run</p><table><tr><td>$run</td></tr></table>"
    val bytes = html.getBytes(UTF_8)
    val viaStream = Dom.blocksStreaming(bytes)
    assert(viaStream == TokenList.blocks(TokenList.tokenize(bytes)))
    assert(viaStream.map(_.text) == Seq(decoded, decoded))
    assert(graft.extract.TableMd.extract(bytes).map(_.rows) == Seq(Vector(Vector(decoded))))
    assert(graft.extract.Meta.extract(bytes).title == decoded)
  }

  test("pdf-soup payloads never throw and never escape the Either contract") {
    val r = new scala.util.Random(0x9dfL)
    val pdfAtoms = Array("BT", "ET", "Tj", "TJ", "Td", "TD", "Tm", "T*", "TL",
      "(text)", "(unbalanced", "<</Length 9>>", "stream", "endstream", "obj",
      "endobj", "0 0", "1.5 -2.25", "[(a)(b)]", "/F1 12 Tf", "%comment\n",
      "\\)", "()", "xref", "trailer", "4e3")
    (0 until 400).foreach { i =>
      val sb = new StringBuilder("%PDF-1.4\n")
      (0 until r.nextInt(60)).foreach { _ =>
        if (r.nextInt(5) == 0) sb.append(r.nextInt(256).toChar)
        else { sb.append(pdfAtoms(r.nextInt(pdfAtoms.length))); sb.append(' ') }
      }
      val res = Extractor.extract(sb.toString.getBytes(UTF_8), ExtractMode.Plain)
      res match {
        case Right(out) => assert(out.text != null && out.text.length <= Extractor.MaxOutChars)
        case Left(reason) => assert(reason.nonEmpty, s"iter $i empty quarantine reason")
      }
    }
  }

  test("sink-based kernels (TableMd, Meta, PdfTable) never throw on soup") {
    val r = new scala.util.Random(0x7ab1efL)
    (0 until 400).foreach { i =>
      val bytes = soup(r).getBytes(UTF_8)
      // TableMd: every extracted table is internally consistent
      graft.extract.TableMd.extract(bytes).foreach { t =>
        assert(t.rows.nonEmpty && t.headerRows >= 0 &&
          t.headerRows <= t.rows.length, s"iter $i bad table shape")
        assert(t.markdown.nonEmpty)
      }
      // Meta: fields are never null (the column-totality contract)
      val pm = graft.extract.Meta.extract(bytes)
      assert(pm.title != null && pm.description != null && pm.ogTitle != null &&
        pm.ogDescription != null && pm.canonical != null &&
        pm.publishedTime != null && pm.htmlLang != null, s"iter $i null field")
    }
    val rp = new scala.util.Random(0x7ab1e2L)
    val pdfAtoms = Array("BT", "ET", "Tj", "TJ", "Td", "TD", "Tm", "T*",
      "(cell)", "(unbalanced", "stream", "endstream", "1 0 0 1 72 700",
      "0 -14", "[(a)(b)]", "%c\n", "4e3")
    (0 until 400).foreach { i =>
      val sb = new StringBuilder("%PDF-1.4\n")
      (0 until rp.nextInt(60)).foreach { _ =>
        if (rp.nextInt(5) == 0) sb.append(rp.nextInt(256).toChar)
        else { sb.append(pdfAtoms(rp.nextInt(pdfAtoms.length))); sb.append(' ') }
      }
      graft.pdf.PdfTable.tables(sb.toString.getBytes(UTF_8)).foreach { t =>
        assert(t.rows.length >= 2 && t.rows.forall(_.length >= 2),
          s"iter $i degenerate pdf table")
      }
    }
  }

  test("kernel extraction equals the reconstructed token-list pipeline on soup") {
    val r = new scala.util.Random(0xbeef1L)
    (0 until 300).foreach { i =>
      val s = soup(r)
      val bytes = s.getBytes(UTF_8)
      Extractor.extract(bytes, ExtractMode.Plain) match {
        case Right(res) =>
          val blocks = TokenList.blocks(TokenList.tokenize(bytes))
          val kept = blocks.filter(graft.classify.BlockClassifier.keep)
          val seen = scala.collection.mutable.HashSet.empty[String]
          val expected = kept
            .filter(b => b.words < Extractor.NoRepeatWords || seen.add(b.text))
            .map(_.text).mkString("\n")
          assert(res.text == expected.take(Extractor.MaxOutChars),
            s"iter $i extraction diverged on: ${s.take(200)}")
        case Left(_) => // binary-sniffed soup: both paths quarantine alike
      }
    }
  }

  test("fused separator count (Block.nSeps) equals the scan definition of words") {
    val r = new scala.util.Random(0x5e95L)
    var checked = 0
    (0 until 500).foreach { i =>
      val s = soup(r)
      val blocks = Dom.blocksStreaming(s.getBytes(UTF_8))
      blocks.foreach { b =>
        // the pre-r6b definition, recomputed from the text
        val scan = if (b.text.isEmpty) 0 else {
          var c = 1; var j = 0
          while (j < b.text.length) {
            if (b.text.charAt(j) == ' ' || b.text.charAt(j) == '\n') c += 1
            j += 1
          }
          c
        }
        assert(b.words == scan,
          s"iter $i: fused words=${b.words} scan=$scan kind=${b.kind} text=${b.text.take(80)}")
        if (b.nSeps >= 0) checked += 1
      }
    }
    assert(checked > 100, s"vacuity guard: only $checked fused-count blocks seen")
  }
}
