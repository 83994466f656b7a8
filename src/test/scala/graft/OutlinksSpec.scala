package graft

import graft.extract.Outlinks
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class OutlinksSpec extends AnyFunSuite {

  private def links(html: String, url: String = "https://src.example.com/p") =
    Outlinks.extract(html.getBytes(UTF_8), url)

  test("host: absolute, protocol-relative, userinfo, port, hostile") {
    assert(Outlinks.host("https://a.example.com/x?y#z") == "a.example.com")
    assert(Outlinks.host("http://A.Example.COM") == "a.example.com")
    assert(Outlinks.host("//cdn.example.net/lib.js") == "cdn.example.net")
    assert(Outlinks.host("https://user:pw@h.example.org:8443/p") == "h.example.org")
    assert(Outlinks.host("/relative/only") == "")
    assert(Outlinks.host("") == "")
    assert(Outlinks.host("https://") == "")
  }

  test("host: an IPv6 literal keeps its brackets, as java.net.URI.getHost does") {
    assert(Outlinks.host("http://[::1]:8080/x") == "[::1]")
    assert(new java.net.URI("http://[::1]:8080/x").getHost == "[::1]")
    assert(Outlinks.host("https://user@[2001:DB8::1]/p") == "[2001:db8::1]")
    assert(Outlinks.host("http://[::1/x") == "")
  }

  test("relative and root-relative hrefs resolve to the page host") {
    val ls = links("""<a href="/s1">Nav</a> <a href="sub/page.html">Rel</a>""")
    assert(ls.map(_.targetHost) == Seq("src.example.com", "src.example.com"))
    assert(ls.forall(!_.external))
    assert(ls.map(_.anchor) == Seq("Nav", "Rel"))
  }

  test("absolute and protocol-relative hrefs are external with their own host") {
    val ls = links(
      """<a href="https://share.example.org/tw">Tweet</a>
        |<a href="//legal.example.net/p">Privacy</a>""".stripMargin)
    assert(ls.map(l => (l.targetHost, l.external)) ==
      Seq(("share.example.org", true), ("legal.example.net", true)))
  }

  test("non-navigational schemes and bare fragments are dropped") {
    val ls = links(
      """<a href="mailto:a@b.c">m</a><a href="javascript:void(0)">j</a>
        |<a href="#frag">f</a><a href="tel:+123">t</a><a href="/ok">ok</a>""".stripMargin)
    assert(ls.map(_.anchor) == Seq("ok"))
  }

  test("anchor text concatenates nested inline tags, entity-decoded") {
    val ls = links("""<a href="/x"><b>Bold</b> &amp; <i>ital</i></a>""")
    assert(ls.map(_.anchor) == Seq("Bold & ital"))
  }

  test("nested <a> closes the previous anchor; EOF closes an open one") {
    val ls = links("""<a href="/one">first <a href="/two">second""")
    assert(ls.map(l => (l.href, l.anchor)) ==
      Seq(("/one", "first"), ("/two", "second")))
  }

  test("PDF and binary payloads yield no links") {
    assert(Outlinks.extract("%PDF-1.4 whatever".getBytes(UTF_8), "https://h/x").isEmpty)
    assert(Outlinks.extract(Array[Byte](0, 1, 2, 0, 5), "https://h/x").isEmpty)
  }

  test("anchor without href is ignored; empty href ignored") {
    val ls = links("""<a name="top">anchor-only</a><a href="">e</a><a href="/k">k</a>""")
    assert(ls.map(_.href) == Seq("/k"))
  }
}
