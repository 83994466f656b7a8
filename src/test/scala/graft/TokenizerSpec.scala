package graft

import graft.html._
import java.nio.charset.StandardCharsets.UTF_8
import graft.util.SplitMix64
import org.scalatest.funsuite.AnyFunSuite

class TokenizerSpec extends AnyFunSuite {

  private def toks(s: String) = TokenList.tokenize(s.getBytes(UTF_8))

  test("basic tags, text and attributes") {
    val t = toks("""<p class="x" id=y>hi <b>world</b></p>""")
    assert(t(0) == TagOpen("p", List("class" -> "x", "id" -> "y"), false, 0, 18))
    assert(t(1) == TextRun("hi ", 18, 21))
    assert(t(2).asInstanceOf[TagOpen].name == "b")
    assert(t(3) == TextRun("world", 24, 29))
    assert(t.collect { case c: TagClose => c.name } == Vector("b", "p"))
  }

  test("entities decode in text and attribute values; unknown stay literal") {
    val t = toks("""<a title="a&amp;b">x &lt; y &unknown; &#65;&#x42;</a>""")
    assert(t(0).asInstanceOf[TagOpen].attrOrEmpty("title") == "a&b")
    assert(t(1) == TextRun("x < y &unknown; AB", 19, 49))
  }

  test("script/style raw text is not parsed as tags") {
    val t = toks("""<script>if (a<b && "</div>x") { f(); }</script><p>ok</p>""")
    assert(t(0).asInstanceOf[TagOpen].name == "script")
    val raw = t(1).asInstanceOf[TextRun]
    assert(raw.text.contains("a<b"))
    assert(t.exists { case TagClose("script", _, _) => true; case _ => false })
    assert(t.exists { case TextRun("ok", _, _) => true; case _ => false })
  }

  test("rcdata (title) decodes entities but not tags") {
    val t = toks("<title>a &amp; <b>b</title>")
    val txt = t.collect { case x: TextRun => x.text }.mkString
    assert(txt == "a & <b>b")
  }

  test("comments, doctype, cdata, processing instructions") {
    val t = toks("<!DOCTYPE html><!-- c --><![CDATA[raw <b>]]><?php x?>text")
    assert(t(0).isInstanceOf[DoctypeTok])
    assert(t(1) == CommentTok(" c ", 15, 25))
    assert(t(2).asInstanceOf[TextRun].text == "raw <b>")
    assert(t(3).isInstanceOf[CommentTok])
    assert(t(4).asInstanceOf[TextRun].text == "text")
  }

  test("byte offsets are exact for multi-byte utf-8") {
    val s = "<p>héllo — ok</p>" // é = 2 bytes, — = 3 bytes
    val t = toks(s)
    val run = t(1).asInstanceOf[TextRun]
    assert(run.text == "héllo — ok")
    assert(run.startByte == 3)
    assert(run.endByte == s.getBytes(UTF_8).length - 4)
  }

  test("charset sniffing: latin-1 page decodes") {
    val head = """<html><head><meta charset="iso-8859-1"></head><body><p>"""
    val bytes = head.getBytes(UTF_8) ++ Array(0xe9.toByte) ++ "</p>".getBytes(UTF_8)
    val t = TokenList.tokenize(bytes)
    assert(t.collect { case x: TextRun => x.text }.mkString == "é")
  }

  test("unterminated constructs flush at EOF (lenient)") {
    assert(toks("<p>abc").collect { case x: TextRun => x.text }.mkString == "abc")
    assert(toks("<p foo=\"bar").nonEmpty)
    assert(toks("abc <").collect { case x: TextRun => x.text }.mkString == "abc <")
    assert(toks("<!-- never closed").nonEmpty)
    assert(toks("<script>never closed").nonEmpty)
  }

  test("self-closing and void elements") {
    val t = toks("a<br/>b<img src=x>c")
    assert(t.collect { case x: TextRun => x.text } == Vector("a", "b", "c"))
    assert(t.collect { case x: TagOpen => (x.name, x.selfClosing) } ==
      Vector(("br", true), ("img", false)))
  }

  test("property: never throws and is deterministic on arbitrary bytes (500 cases)") {
    val r = new SplitMix64(0xbeef1L)
    (0 until 500).foreach { _ =>
      val n = r.nextInt(600)
      val bytes = Array.fill(n)((r.nextLong() & 0xff).toByte)
      val a = TokenList.tokenize(bytes)
      val b = TokenList.tokenize(bytes)
      assert(a == b)
    }
  }

  test("property: never throws on hostile html-ish strings, spans in bounds (500 cases)") {
    val pieces = Array(
      "<", ">", "&", "\"", "'", "=", "/", "!", "-", "a", "p", "div",
      "<p", "</", "<!--", "]]>", "&#", "&amp", "<script>", "</script>",
      "<![CDATA[", "<title>", "<pre>", "&#xZZ;", "&#99999999999;",
      " ", "\u00e9", "\u4e2d", "\u0001")
    val r = new SplitMix64(0xbeef2L)
    (0 until 500).foreach { _ =>
      val s = (0 until r.nextInt(40)).map(_ => pieces(r.nextInt(pieces.length))).mkString
      val bytes = s.getBytes(UTF_8)
      val t = TokenList.tokenize(bytes)
      t.foreach { tok =>
        val (startByte, endByte) = TokenList.span(tok)
        assert(startByte >= 0 && endByte <= bytes.length)
        assert(startByte <= endByte)
      }
      // blocks must be total on hostile inputs too
      val blocks = TokenList.blocks(t)
      blocks.foreach(b => assert(b.text != null))
    }
  }

  test("ascii fast path (identity offsets) tokenizes identically to an equivalent non-ascii doc structure") {
    // same markup, ascii-only payload: offsets must equal char indices
    val s = "<div><p id=a>hello &amp; goodbye</p><br><pre>x\n y</pre></div>"
    val bytes = s.getBytes(UTF_8)
    val t = TokenList.tokenize(bytes)
    t.foreach { tok =>
      val (startByte, endByte) = TokenList.span(tok)
      assert(startByte >= 0 && endByte <= bytes.length && startByte <= endByte)
    }
    val run = t.collect { case x: TextRun => x }.head
    assert(run.text == "hello & goodbye")
    assert(run.startByte == s.indexOf("hello")) // identity: char idx == byte off
    // appending one multi-byte char at the END must not change earlier offsets
    val s2 = s + "é"
    val t2 = TokenList.tokenize(s2.getBytes(UTF_8))
    val run2 = t2.collect { case x: TextRun => x }.head
    assert(run2.startByte == run.startByte && run2.endByte == run.endByte)
  }

  test("uppercase tags and attrs lowercase via ascii rule only") {
    val t = toks("""<DIV CLASS="X"><P>t</P></DIV>""")
    assert(t(0).asInstanceOf[TagOpen].name == "div")
    assert(t(0).asInstanceOf[TagOpen].attrs == List("class" -> "X")) // values keep case
    assert(t(1).asInstanceOf[TagOpen].name == "p")
    assert(t(3) == TagClose("p", 19, 23))
    // RAWTEXT close-tag match is ascii-case-insensitive
    val r = toks("<SCRIPT>var a = '<p>';</SCRIPT><p>after</p>")
    assert(r.collect { case x: TextRun => x.text }.mkString == "var a = '<p>';after")
  }

  test("protocol tokens fold the same under a Turkish default locale") {
    // under tr-TR "I".toLowerCase is "ı": every keyword fold passes
    // Locale.ROOT, so extracted bytes never depend on the JVM's locale
    import graft.extract.{Meta, Outlinks, Robots}
    import graft.sources.Warc
    val warc = Warc.write(Seq(Warc.Record("https://a.example.com/x",
      "2024-01-02T03:04:05Z", "text/html", "<p>x</p>".getBytes(UTF_8))))
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      assert(Html5Tokenizer.sniffCharset("<meta charset=ISO-8859-1>".getBytes(UTF_8)) == "iso-8859-1")
      assert(Meta.extract("""<META NAME="DESCRIPTION" CONTENT="d">""".getBytes(UTF_8))
        .description == "d")
      assert(Outlinks.host("HTTP://WIKI.ORG/x") == "wiki.org")
      assert(Robots.parse("USER-AGENT: *\nDISALLOW: /private", "graftbot") ==
        Seq(Robots.Rule(allow = false, "/private")))
      assert(Warc.records(warc).map(_.url) == Vector("https://a.example.com/x"))
    } finally java.util.Locale.setDefault(prev)
  }
}
