package graft.gen

import graft.extract.{Extractor, Span}
import graft.html.Entities
import graft.pdf.PdfWriter
import graft.util.{Hash64, SplitMix64, Zipf}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

/** One row of the `pages` table (BASELINE.json input_hint shape). */
final case class PageRow(url: String, warc_ts: java.sql.Timestamp,
    html: Array[Byte], text: String, lang: String)

/** One row of the `golden` fixture table (FIXTURES.md §2) — the analog of
  * the reference's gt annotation entries (eval_GOT_ocr.py:168-186). */
final case class GoldenRow(url: String, mode: String, mode_args: String,
    expected_text: Array[Byte], expected_spans: Seq[Span], category: String)

/** Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md):
  * every byte derives from xxh64(doc-index, seed=42). The generator emits
  * the clean content blocks FIRST (the truth), then wraps them in
  * boilerplate — so `expected_text` is correct by construction, the same
  * way the reference's labels are authoritative.
  *
  * Scale-out: `pages(spark, n)` builds rows distributed via
  * `spark.range(n).flatMap`, so the 10^6-row bench corpus generates in
  * parallel with no driver bottleneck.
  */
object SynthCorpus {
  final val Seed = 42L

  // ---------------------------------------------------------------- text

  private val words: Array[String] = Array(
    "the", "of", "and", "to", "in", "is", "for", "that", "with", "as",
    "river", "mountain", "signal", "harvest", "lantern", "meadow", "copper",
    "engine", "quiet", "garden", "stone", "winter", "summer", "voyage",
    "letter", "market", "bridge", "forest", "silver", "morning", "evening",
    "castle", "window", "painter", "music", "valley", "harbor", "journey",
    "spark", "ember", "craft", "wheel", "press", "paper", "cloth", "grain",
    "north", "south", "road", "field", "light", "shadow", "glass", "steel",
    "water", "thunder", "orchard", "village", "island", "coast", "cliff",
    "study", "archive", "record", "measure", "pattern", "thread", "weave",
    "story", "margin", "chapter", "ledger", "compass", "anchor", "sail",
    "current", "stream", "canyon", "prairie", "timber", "mill", "forge",
    "oven", "cellar", "attic", "garden", "fence", "gate", "tower", "bell",
    "clock", "season", "harvest", "plough", "seed", "root", "branch",
    "leaf", "blossom", "fruit", "stonework", "mortar", "brick", "slate",
    "granite", "marble", "basalt", "quartz", "lens", "prism", "mirror")

  private val zhChars: String =
    "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得" +
    "就那要下以生会自着去之过家学对可她里后小么心多天而能好都然没日" +
    "于起还发成事只作当想看文无开手十用主行方又如前所本见经头面公同"

  private def sentence(r: SplitMix64): String = {
    val n = 5 + r.nextInt(10)
    val b = new StringBuilder
    var i = 0
    while (i < n) {
      val w = words(r.nextInt(words.length))
      if (i == 0) { b.append(Character.toUpperCase(w.charAt(0))).append(w.substring(1)) }
      else b.append(' ').append(w)
      i += 1
    }
    // occasional special chars exercise the entity-encoding path
    r.nextInt(10) match {
      case 0 => b.append(" — more & more")
      case 1 => b.append(" etc…")
      case 2 => b.append(" © 2024")
      case _ => ()
    }
    b.append('.')
    b.toString
  }

  private def paraText(r: SplitMix64): String =
    (0 until (2 + r.nextInt(4))).map(_ => sentence(r)).mkString(" ")

  private def zhSentence(r: SplitMix64): String = {
    val n = 8 + r.nextInt(13)
    val b = new StringBuilder
    var i = 0
    while (i < n) { b.append(zhChars.charAt(r.nextInt(zhChars.length))); i += 1 }
    b.append('。')
    b.toString
  }

  private def zhPara(r: SplitMix64): String =
    (0 until (2 + r.nextInt(3))).map(_ => zhSentence(r)).mkString("")

  private def phrase(r: SplitMix64, lo: Int, hi: Int): String =
    (0 until (lo + r.nextInt(hi - lo + 1))).map(_ => words(r.nextInt(words.length))).mkString(" ")

  // -------------------------------------------------------- content model

  private sealed trait Piece { def text: String }
  private final case class Txt(text: String) extends Piece
  private final case class Lnk(text: String) extends Piece

  private sealed trait BlockSpec {
    def kind: String
    def plain: String
    def cls: String = ""
  }
  private final case class Para(pieces: Seq[Piece], override val cls: String = "") extends BlockSpec {
    val kind = "p"
    val plain: String = pieces.map(_.text).mkString("")
  }
  private final case class Heading(level: Int, text: String) extends BlockSpec {
    val kind = s"h$level"
    val plain: String = text
  }
  private final case class ListItem(text: String, first: Boolean, last: Boolean) extends BlockSpec {
    val kind = "li"
    val plain: String = text
  }
  private final case class TableSpec(cells: Vector[Vector[String]]) extends BlockSpec {
    val kind = "table"
    val plain: String = cells.map(_.mkString(" ")).mkString("\n")
  }
  private final case class PreSpec(lines: Seq[String]) extends BlockSpec {
    val kind = "pre"
    val plain: String = lines.mkString("\n")
  }

  private def formatRender(b: BlockSpec): String = b match {
    case Heading(l, t)       => ("#" * l) + " " + t
    case li: ListItem        => "- " + li.plain
    case TableSpec(cells)    => Extractor.renderTabular(cells)
    case other               => other.plain
  }

  // ------------------------------------------------------------- builder

  /** UTF-8 byte-offset-tracking page writer. */
  private final class PageBuilder {
    private val out = new java.io.ByteArrayOutputStream(4096)
    def size: Int = out.size()
    def raw(s: String): this.type = { out.write(s.getBytes(UTF_8)); this }
    def toBytes: Array[Byte] = out.toByteArray

    /** Escape + entity-encode content text (em-dash, ellipsis, copyright
      * always written as named entities to exercise the decoder). */
    def content(s: String): this.type = {
      val esc = Entities.escapeText(s)
        .replace("—", "&mdash;").replace("…", "&hellip;").replace("©", "&copy;")
      raw(esc)
    }
  }

  /** Write the content blocks, recording each block's text span. */
  private def writeBlocks(b: PageBuilder, blocks: Seq[BlockSpec]): Vector[Span] = {
    val spans = Vector.newBuilder[Span]
    blocks.zipWithIndex.foreach { case (blk, _) =>
      blk match {
        case p: Para =>
          if (p.cls.nonEmpty) b.raw(s"""<p class="${p.cls}">""") else b.raw("<p>")
          val s0 = b.size
          p.pieces.foreach {
            case Txt(t) => b.content(t)
            case Lnk(t) => b.raw("<a href=\"/l\">"); b.content(t); b.raw("</a>")
          }
          spans += Span(s0, b.size, "p")
          b.raw("</p>\n")
        case Heading(l, t) =>
          b.raw(s"<h$l>")
          val s0 = b.size
          b.content(t)
          spans += Span(s0, b.size, s"h$l")
          b.raw(s"</h$l>\n")
        case li: ListItem =>
          if (li.first) b.raw("<ul>\n")
          b.raw("<li>")
          val s0 = b.size
          b.content(li.text)
          spans += Span(s0, b.size, "li")
          b.raw("</li>\n")
          if (li.last) b.raw("</ul>\n")
        case TableSpec(cells) =>
          b.raw("<table>")
          var s0 = -1L
          var e0 = -1L
          cells.foreach { row =>
            b.raw("<tr>")
            row.foreach { c =>
              b.raw("<td>")
              if (s0 < 0) s0 = b.size
              b.content(c)
              e0 = b.size
              b.raw("</td>")
            }
            b.raw("</tr>")
          }
          spans += Span(s0, e0, "table")
          b.raw("</table>\n")
        case PreSpec(lines) =>
          b.raw("<pre>")
          val s0 = b.size
          b.content(lines.mkString("\n"))
          spans += Span(s0, b.size, "pre")
          b.raw("</pre>\n")
      }
    }
    spans.result()
  }

  private def writeBoilerHead(b: PageBuilder, r: SplitMix64, host: String, title: String): Unit = {
    b.raw("<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">\n<title>")
    b.raw(Entities.escapeText(title))
    b.raw("</title>\n<style>body{margin:0;font:14px serif}.ad{color:#999}</style>\n")
    b.raw("<script>var t=0;function f(){if(t<1){t+=1;}}</script>\n")
    b.raw("</head>\n<body>\n<!-- header boilerplate -->\n")
    b.raw(s"""<header><div class="logo">${Entities.escapeText(host)}</div></header>\n""")
    b.raw("<nav><ul>\n")
    val nLinks = 4 + r.nextInt(5)
    (0 until nLinks).foreach { k =>
      b.raw(s"""<li><a href="/s$k">${Entities.escapeText(phrase(r, 1, 2))}</a></li>\n""")
    }
    b.raw("</ul></nav>\n")
  }

  private def writeAd(b: PageBuilder, r: SplitMix64): Unit = {
    r.nextInt(3) match {
      case 0 => b.raw(s"""<div class="ad">Sponsored: ${phrase(r, 2, 3)}</div>\n""")
      // external + protocol-relative hrefs: href VALUES never enter
      // extracted text (goldens unaffected) but give the outlink/host-graph
      // operator (x22) real cross-host edges to build
      case 1 => b.raw(s"""<div class="share">Share <a href="https://share.example.org/tw">${phrase(r, 1, 2)}</a> <a href="https://share.example.org/fb">${phrase(r, 1, 2)}</a></div>\n""")
      case _ => b.raw(s"""<!-- inline ad slot ${r.nextInt(100)} -->\n""")
    }
  }

  private def writeBoilerTail(b: PageBuilder, r: SplitMix64, host: String): Unit = {
    b.raw("<aside><ul>\n")
    (0 until (3 + r.nextInt(4))).foreach { k =>
      b.raw(s"""<li><a href="/rel$k">${Entities.escapeText(phrase(r, 2, 4))}</a></li>\n""")
    }
    b.raw("</ul></aside>\n")
    b.raw(s"""<footer><p>&copy; 2024 ${Entities.escapeText(host)} — <a href="//legal.example.net/p">Privacy</a> <a href="/t">Terms</a></p></footer>\n""")
    b.raw("</body></html>\n")
  }

  /** Assemble a full page: boilerplate + content with ads interspersed.
    * Returns (htmlBytes, spans aligned to `blocks` order). */
  private def buildPage(r: SplitMix64, host: String, title: String,
      blocks: Seq[BlockSpec]): (Array[Byte], Vector[Span]) = {
    val b = new PageBuilder
    writeBoilerHead(b, r, host, title)
    b.raw("<div class=\"content\">\n")
    val spans = Vector.newBuilder[Span]
    // interleave: write in groups, dropping ad divs between groups
    var i = 0
    blocks.foreach { blk =>
      spans ++= writeBlocks(b, Seq(blk))
      i += 1
      // never split a <ul> run with an ad
      val inList = blk match { case li: ListItem => !li.last; case _ => false }
      if (!inList && i % 3 == 0) writeAd(b, r)
    }
    b.raw("</div>\n")
    writeBoilerTail(b, r, host)
    (b.toBytes, spans.result())
  }

  // --------------------------------------------------------- doc synthesis

  private val hostZipfCache = new java.util.concurrent.ConcurrentHashMap[Int, Zipf]()
  private def zipfFor(nHosts: Int): Zipf =
    hostZipfCache.computeIfAbsent(nHosts, n => new Zipf(n, 1.1))

  private def hostFor(r: SplitMix64, nDocs: Long): String = {
    val nHosts = math.max(16L, math.min(100000L, nDocs / 50L)).toInt
    val rank = zipfFor(nHosts).rank(r.nextDouble())
    s"host$rank.example.com"
  }

  private def tsFor(r: SplitMix64): java.sql.Timestamp = {
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    new java.sql.Timestamp(base + (r.nextLong() >>> 1) % (365L * 86400000L))
  }

  private def contentBlocks(r: SplitMix64, zh: Boolean, nBlocks: Int,
      withMath: Boolean, colored: Boolean): Vector[BlockSpec] = {
    val out = Vector.newBuilder[BlockSpec]
    out += Heading(1, phrase(r, 2, 5).capitalize)
    var i = 1
    while (i < nBlocks) {
      val roll = r.nextInt(10)
      if (zh) {
        out += Para(Seq(Txt(zhPara(r))))
        i += 1
      } else if (roll < 5) {
        // plain para, sometimes with an inline link (low link density)
        val p =
          if (r.nextInt(3) == 0)
            Para(Seq(Txt(paraText(r) + " "), Lnk(phrase(r, 2, 3)), Txt(" " + sentence(r))))
          else Para(Seq(Txt(paraText(r))))
        val cls = if (colored && r.nextInt(4) == 0) (if (r.nextInt(2) == 0) "red" else "blue") else ""
        out += (if (cls.nonEmpty) p.copy(cls = cls) else p)
        i += 1
      } else if (roll == 5) {
        out += Heading(2 + r.nextInt(2), phrase(r, 2, 4).capitalize)
        i += 1
      } else if (roll == 6) {
        val k = 2 + r.nextInt(3)
        (0 until k).foreach { j =>
          out += ListItem(phrase(r, 2, 5), first = j == 0, last = j == k - 1)
        }
        i += 1
      } else if (roll == 7) {
        val rows = 2 + r.nextInt(3)
        val cols = 2 + r.nextInt(2)
        out += TableSpec(Vector.tabulate(rows, cols)((_, _) => phrase(r, 1, 2)))
        i += 1
      } else if (roll == 8) {
        out += PreSpec((0 until (2 + r.nextInt(3))).map(k => s"let v$k = ${r.nextInt(100)};"))
        i += 1
      } else if (withMath) {
        if (r.nextInt(2) == 0)
          out += Para(Seq(Txt(s"The identity \\(x^{${1 + r.nextInt(9)}} + y = ${r.nextInt(50)}\\) holds " + sentence(r).toLowerCase(Locale.ROOT))))
        else
          out += Para(Seq(Txt(s"\\[ \\sum_{i=0}^{${1 + r.nextInt(20)}} i^2 = ${r.nextInt(999)} \\]")))
        i += 1
      } else {
        out += Para(Seq(Txt(paraText(r))))
        i += 1
      }
    }
    out.result()
  }

  /** Doc-type mix (FIXTURES.md §3). */
  private def docType(r: SplitMix64): String =
    r.choose(Seq("plain" -> 38.0, "format" -> 13.0, "box" -> 8.0,
      "color" -> 7.0, "multicrop" -> 8.0, "multipage" -> 7.0,
      "pdf" -> 10.0, "zh" -> 5.0, "hostile" -> 2.0, "unbalanced" -> 2.0))

  /** Generate all page + golden rows for logical doc `i` of `nDocs`. */
  def docRows(i: Long, nDocs: Long): (Seq[PageRow], Seq[GoldenRow]) = {
    val r = new SplitMix64(Hash64.xxh64(s"page-$i", Seed))
    val host = hostFor(r, nDocs)
    val ts = tsFor(r)
    val typ = docType(r)
    val url = s"https://$host/a/$i"

    typ match {
      case "pdf" =>
        // PDF strings are latin-1 bytes; fold the entity-exercising
        // specials to ASCII so writer/parser round-trip byte-exactly
        def pdfLine(): String = sentence(r)
          .replace("…", "...").replace("—", "-").replace("©", "(c)")
        val twoCol = r.nextInt(3) == 0
        val (bytes, expected) =
          if (twoCol) {
            // two-column page EMITTED in interleaved row order (the
            // row-major generator order); the expectation is constructed
            // here independently of the parser — reading order is the
            // full left column then the full right column
            // column lines are clipped to realistic column width (the
            // parser's crossing-the-gutter veto rejects splits whose
            // "left column" lines would overrun the right column's x)
            def colLine(): String = pdfLine().split(' ').take(4).mkString(" ")
            val left = (0 until 3 + r.nextInt(8)).map(_ => colLine())
            val right = (0 until 3 + r.nextInt(8)).map(_ => colLine())
            (PdfWriter.makeTwoColumn(left, right), (left ++ right).mkString("\n"))
          } else {
            val lines = (0 until 5 + r.nextInt(26)).map(_ => pdfLine())
            (PdfWriter.make(lines), lines.mkString("\n"))
          }
        val page = PageRow(url, ts, bytes, noisy(expected, r), "en")
        val golden = GoldenRow(url, "plain", "{}", expected.getBytes(UTF_8),
          Seq(Span(0L, bytes.length.toLong, "pdf")), "text")
        (Seq(page), Seq(golden))

      case "hostile" =>
        val n = 64 + r.nextInt(512)
        val bytes = new Array[Byte](n)
        var k = 0
        while (k < n) { bytes(k) = (r.nextLong() & 0xff).toByte; k += 1 }
        bytes(r.nextInt(n)) = 0 // guarantee the binary sniff triggers
        (Seq(PageRow(url, ts, bytes, null, null)), Seq.empty)

      case "multipage" =>
        val nParts = 2 + r.nextInt(3)
        val pagesAndTexts = (1 to nParts).map { part =>
          val blocks = contentBlocks(r, zh = false, 2 + r.nextInt(3), withMath = false, colored = false)
          val (bytes, _) = buildPage(r, host, s"part $part", blocks)
          val plain = blocks.map(_.plain).mkString("\n")
          (PageRow(s"$url?part=$part", ts, bytes, noisy(plain, r), "en"), plain)
        }
        val expected = pagesAndTexts.map(_._2).mkString("\n")
        (pagesAndTexts.map(_._1),
          Seq(GoldenRow(url, "multipage", "{}", expected.getBytes(UTF_8), Seq.empty, "text")))

      case other =>
        val zh = other == "zh"
        val lang = if (zh) "zh" else "en"
        val withMath = other == "format" || other == "unbalanced"
        val nBlocks = if (other == "multicrop") 24 + r.nextInt(10) else 4 + r.nextInt(5)
        var blocks = contentBlocks(r, zh, nBlocks, withMath, colored = other == "color")
        if (other == "unbalanced") {
          // inject an unbalanced \left to trigger the repair path
          blocks = blocks :+ Para(Seq(Txt("Broken math \\left( a + b follows " + sentence(r).toLowerCase(Locale.ROOT))))
        }
        if (other == "color" && !blocks.exists(_.cls.nonEmpty)) {
          // guarantee at least one colored block for the color fixture
          blocks = blocks :+ Para(Seq(Txt(paraText(r))), cls = "red")
        }
        val (bytes, spans) = buildPage(r, host, phrase(r, 2, 4), blocks)
        val plain = blocks.map(_.plain).mkString("\n")
        val page = PageRow(url, ts, bytes, noisy(plain, r), lang)

        val golden = other match {
          case "format" | "unbalanced" =>
            val formatted = Extractor.repairLeftRight(blocks.map(formatRender).mkString("\n"))
            val cat =
              if (formatted.contains("\\begin{tabular}")) "table"
              else if (formatted.contains("\\(") || formatted.contains("\\[")) "math"
              else "text"
            GoldenRow(url, "format", "{}", formatted.getBytes(UTF_8), spans, cat)
          case "box" =>
            val len = bytes.length.toLong
            // window over the middle third of the blocks
            val lo = blocks.length / 3
            val hi = math.min(blocks.length - 1, lo + 1 + r.nextInt(2))
            val x1 = ((spans(lo).start * 1000L) / len).toInt
            val x2 = math.min(1000L, (spans(hi).end * 1000L) / len + 1L).toInt
            val (from, until) = graft.extract.ExtractMode.byteWindow(len, x1, x2)
            val sel = blocks.indices.filter(k => spans(k).start >= from && spans(k).end <= until)
            val expected = sel.map(k => blocks(k).plain).mkString("\n")
            GoldenRow(url, "box", s"""{"box":[$x1,$x2]}""", expected.getBytes(UTF_8),
              sel.map(k => spans(k)), "text")
          case "color" =>
            val color = blocks.collectFirst { case b if b.cls.nonEmpty => b.cls }.getOrElse("red")
            val sel = blocks.indices.filter(k => blocks(k).cls == color)
            val expected = sel.map(k => blocks(k).plain).mkString("\n")
            GoldenRow(url, "color", s"""{"color":"$color"}""", expected.getBytes(UTF_8),
              sel.map(k => spans(k)), "text")
          case "multicrop" =>
            GoldenRow(url, "multicrop", "{}", plain.getBytes(UTF_8), spans, "text")
          case _ =>
            GoldenRow(url, "plain", "{}", plain.getBytes(UTF_8), spans, "text")
        }
        (Seq(page), Seq(golden))
    }
  }

  /** The crawl's own `text` column is deliberately NOISY (a truncated
    * rendering) — golden truth lives in the golden table only. */
  private def noisy(plain: String, r: SplitMix64): String = {
    val keep = plain.length * (70 + r.nextInt(25)) / 100
    plain.substring(0, keep)
  }

  // ------------------------------------------------------------ spark api

  import org.apache.spark.sql.{Dataset, SparkSession}

  /** Output file count: real crawls have files >> cores (a 100 TB table
    * is ~800k 128MB files). One parquet file here = one row group = one
    * input split, so anything less than ~4x cores caps scan parallelism
    * and single fat row groups create straggler tasks (observed: 8 files
    * x 79MB/1 row group => 8 fat tasks, flat 8->32 core scaling). */
  private def nFiles(spark: SparkSession, nDocs: Long): Int =
    math.min(512, math.max(spark.sparkContext.defaultParallelism * 4,
      (nDocs / 4000L).toInt + 1))

  def pages(spark: SparkSession, nDocs: Long): Dataset[PageRow] = {
    import spark.implicits._
    val n = nDocs
    spark.range(nDocs).repartition(nFiles(spark, nDocs))
      .flatMap(i => docRows(i, n)._1)
  }

  def golden(spark: SparkSession, nDocs: Long): Dataset[GoldenRow] = {
    import spark.implicits._
    val n = nDocs
    spark.range(nDocs).repartition(nFiles(spark, nDocs))
      .flatMap(i => docRows(i, n)._2)
  }

  /** Materialize both tables as IceLite snapshots under `root` (no-op if
    * already committed). Returns (pagesDir, goldenDir). */
  /** Bump when the generator's output changes: the on-disk corpus cache
    * is keyed by this, so a stale cache can never serve fixtures from an
    * older generator (ensure() is existence-only otherwise). v2: external
    * + protocol-relative boilerplate hrefs for the outlink operator. */
  final val GenVersion = 2

  def ensure(spark: SparkSession, nDocs: Long, root0: String): (String, String) = {
    val root = s"${root0}_v$GenVersion"
    val pagesDir = s"$root/pages"
    val goldenDir = s"$root/golden"
    if (!graft.icelite.IceLite.exists(spark, pagesDir))
      graft.icelite.IceLite.commit(spark, pagesDir, pages(spark, nDocs).toDF())
    if (!graft.icelite.IceLite.exists(spark, goldenDir))
      graft.icelite.IceLite.commit(spark, goldenDir, golden(spark, nDocs).toDF())
    (pagesDir, goldenDir)
  }
}
