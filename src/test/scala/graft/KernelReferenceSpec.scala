package graft

import graft.extract.{ExtractMode, Extractor}
import graft.gen.SynthCorpus
import graft.html.Dom
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuilder

/** The kernel (`Extractor.extract`: whitespace collapsed as text arrives,
  * each block classified at its flush) against the Block-list reference
  * (`BlockListReference`), in every mode: text, spans with their kinds,
  * `DocMetrics`, the emitted block lengths `Chunker` cuts on, and the
  * blocks `Dom.blocksStreaming` builds. */
class KernelReferenceSpec extends AnyFunSuite {

  private val modes = Seq(ExtractMode.Plain, ExtractMode.Format, ExtractMode.MultiCrop,
    ExtractMode.Box(0, 1000), ExtractMode.Box(100, 900), ExtractMode.Box(0, 500),
    ExtractMode.Color("red"), ExtractMode.Color("blue"), ExtractMode.Color("ad"))

  /** Asserts on booleans: a failure message quoting the texts could
    * hold a lone surrogate, which the test harness's report writer
    * cannot take. */
  private def check(label: String, bytes: Array[Byte]): Unit = {
    val sameBlocks = Dom.blocksStreaming(bytes) == BlockListReference.blocks(bytes)
    assert(sameBlocks, s"$label: blocks diverged")
    modes.foreach { m =>
      val (lens, refLens) = (new ArrayBuilder.ofInt, new ArrayBuilder.ofInt)
      val got = Extractor.extract(bytes, m, lens)
      val want = BlockListReference.extract(bytes, m, refLens)
      val (sameText, sameRest) = (got.map(_.text) == want.map(_.text),
        got.map(r => (r.spans, r.metrics)) == want.map(r => (r.spans, r.metrics)))
      assert(sameText, s"$label: $m text diverged")
      assert(sameRest, s"$label: $m spans or metrics diverged")
      val sameLens = lens.result().toSeq == refLens.result().toSeq
      assert(sameLens, s"$label: $m emitted lengths diverged")
    }
  }

  private val hostile = Seq(
    "<pre>\nkeep  this\n  as is</pre><pre>\n\nsecond</pre><pre><br>\nafter br</pre><pre>\n</pre>",
    "<p><br><br>lead<br> <br>  mid <br>trail<br><br></p><div><br></div>",
    "<p>ctl\u0001char \u0001</p><pre>\u0001pre\u0001</pre><table><tr><td>a\u0001b</td></tr></table>",
    "<table><tr><td></td></tr></table><table><tr><td> </td><td></td></tr><tr><td>x</td></tr></table>",
    "<table class=red><tr><td>a<br>b</td><td><table><tr><td>in</td></tr></table>ner</td></tr></table>",
    "<div><a href=/>one</a> <a href=/>two</a> words here</div><li>a <a>b</a></li><dt>x y</dt><dd>z</dd>",
    "<h1>Title</h1><h2> </h2><h3>Sub head</h3><blockquote>quoted text</blockquote><li>item one</li>",
    "<nav><p>menu entry</p></nav><footer><p>foot note</p></footer><aside>side text</aside><p>body</p>",
    "<p class='x red y'>classed</p><p style='color: red'>styled</p><div class=blue>one two three four five six seven eight</div>",
    "<div>a<div>b<div>c<p>d</div>e</div>f</p>g</div>h",
    "<p>\\left( x \\right) and \\left[ y</p><h2>\\right]</h2>",
    "<p>" + "é中 " * 50 + "</p><p>" + "é中 " * 50 + "</p>",
    "plain text with no tags at all but more than eight words in it",
    "<p>" + "<b>" * 3000 + "deep" + "</b>" * 3000 + "</p>" + "<div>" * 2000 + "nested" + "</div>" * 2000,
    "<p>t\t\r\f\n tabs</p><p> nbsp em space</p>",
    // implied table closes: no </td>, no </tr>, open at EOF, <table/>,
    // and a </table> with no table open
    "<table><tr><td>a<td>b</tr></table>",
    "<div class=red><table><tr><td>r1</td><tr><th>r2<br>x</table>tail</div>",
    "<p>lead</p><table class=red><tr><td>open <table><tr><td>in",
    "<p>before</p><table/><p>after</p><div><table/>x</div>",
    "<div class=red>a</table>b</div><table><tr><td>t</td></tr></table></table>c",
    // the head ends without </head>; a stray </head> ends no suppressed
    // element; text directly inside <head> goes to the body
    "<html><head><title>T</title><body><p>visible paragraph text</p>",
    "<svg><text>x</text></head>one two three four five six seven eight nine</svg><p>ok para</p>",
    "<html><head><title>T</title>stray head text<meta charset=utf-8></head><body><p>para</p>")

  test("hostile fixtures: kernel == Block-list reference in every mode") {
    hostile.zipWithIndex.foreach { case (h, i) => check(s"hostile $i", h.getBytes(UTF_8)) }
  }

  test("token soup: kernel == Block-list reference in every mode") {
    val r = new scala.util.Random(0x5eed13L)
    (0 until 600).foreach(i => check(s"soup $i", FusedPathFuzzSpec.soup(r).getBytes(UTF_8)))
  }

  test("synthetic corpus docs: kernel == Block-list reference in every mode") {
    var n = 0
    (0L until 150L).foreach { i =>
      SynthCorpus.docRows(i, 150L)._1.foreach { p => check(p.url, p.html); n += 1 }
    }
    assert(n >= 150)
  }

  /** One block of 25 words per id (the same id, the same text), every
    * seventh a table cell. */
  private def blocksOf(ids: Seq[Int], wordLen: Int): String =
    ids.zipWithIndex.map { case (id, k) =>
      val w = (0 until 25).map(j => s"w${id}x$j" + "y" * wordLen).mkString(" ")
      if (k % 7 == 3) s"<table><tr><td>$w</td></tr></table>" else s"<p>$w</p>"
    }.mkString

  test("repeated blocks before and past the output cap: kernel == reference") {
    // short blocks: every repeat hits an earlier block in the output text
    check("repeats", blocksOf((0 until 200).map(_ % 13), 2).getBytes(UTF_8))
    // ~1,000 chars a block: ids 0..1299 pass MaxOutChars near id 1,100;
    // then repeats of blocks wholly before, across and wholly past the
    // cap, new blocks past it, and repeats of those
    val ids = (0 until 1300) ++ Seq(50, 700) ++ (1080 until 1120) ++ Seq(1200, 1299) ++
      (1300 until 1340) ++ (1300 until 1340) ++ (0 until 1340 by 97)
    val big = blocksOf(ids, 30)
    assert(1100 * 1000 > Extractor.MaxOutChars && big.length > 1300 * 1000)
    check("repeats past the cap", big.getBytes(UTF_8))
  }

  test("a high surrogate at the cap: kernel == reference") {
    val unit = "a😀 " // 4 chars, a surrogate pair at 1..2
    (0 to 3).foreach { shift =>
      val html = "<p>" + "b" * shift + unit * (Extractor.MaxOutChars / 4 + 2) + "</p>"
      check(s"surrogate shift $shift", html.getBytes(UTF_8))
    }
  }
}
