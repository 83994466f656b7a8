package graft

import graft.sources.{Ingest, Warc}
import graft.util.Sessions
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private def mkRecords = Seq(
    Warc.Record("https://a.example.com/x", "2024-01-02T03:04:05Z",
      "text/html", "<html><body><p>alpha beta gamma delta epsilon zeta eta theta</p></body></html>".getBytes(UTF_8)),
    Warc.Record("https://b.example.com/y", "2024-06-07T08:09:10Z",
      "text/html", "<p>second doc with enough words to keep around here</p>".getBytes(UTF_8)))

  test("warc roundtrip: write -> parse, byte-identical payloads") {
    val bytes = Warc.write(mkRecords)
    val parsed = Warc.records(bytes)
    assert(parsed.length == 2)
    assert(parsed(0).url == "https://a.example.com/x")
    assert(parsed(0).warcDate == "2024-01-02T03:04:05Z")
    assert(parsed(0).contentType == "text/html")
    assert(parsed(0).payload.sameElements(mkRecords(0).payload))
    assert(parsed(1).payload.sameElements(mkRecords(1).payload))
  }

  test("warc: gzipped input, non-response records skipped, hostile bytes never throw") {
    val plain = Warc.write(mkRecords)
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(plain); g.close()
      bos.toByteArray
    }
    assert(Warc.records(gz).length == 2)
    // warcinfo record is skipped, response still parsed
    val info = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n"
    val mixed = info.getBytes(UTF_8) ++ plain
    assert(Warc.records(mixed).length == 2)
    // hostile: arbitrary bytes, truncated header, bogus lengths
    assert(Warc.records(Array[Byte]()).isEmpty)
    assert(Warc.records("WARC/1.0\r\nContent-Length: 999999\r\n\r\nxx".getBytes(UTF_8)).isEmpty)
    val r = new graft.util.SplitMix64(7L)
    (0 until 100).foreach { _ =>
      val junk = Array.fill(r.nextInt(200))(r.nextInt(256).toByte)
      Warc.records(junk) // must not throw
    }
  }

  test("ingest warc files -> pages table -> extraction pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("warc_ingest").toFile
    try {
      java.nio.file.Files.write(
        new java.io.File(dir, "part0.warc").toPath, Warc.write(mkRecords))
      val pages = Ingest.warcFiles(spark, s"${dir.getAbsolutePath}/*.warc")
      val rows = pages.collect()
      assert(rows.length == 2)
      assert(rows.map(_.getAs[String]("url")).toSet ==
        Set("https://a.example.com/x", "https://b.example.com/y"))
      assert(rows.forall(_.getAs[java.sql.Timestamp]("warc_ts") != null))
      val extracted = graft.pipeline.Pipeline.extract(
        pages, graft.extract.ExtractMode.Plain).collect()
      assert(extracted.forall(_.status == "ok"))
      assert(extracted.exists(_.text.contains("alpha beta gamma")))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("WARC-Date parse: exact instant, null when malformed") {
    assert(Ingest.parseWarcTs("2024-01-02T03:04:05Z") ==
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704164645L)))
    assert(Ingest.parseWarcTs("2024-13-45 nonsense") == null)
    assert(Ingest.parseWarcTs("") == null)
    assert(Ingest.parseWarcTs(null) == null)
  }

  test("ingest binary files: one page per file, pages schema") {
    val dir = java.nio.file.Files.createTempDirectory("bin_ingest").toFile
    try {
      java.nio.file.Files.write(new java.io.File(dir, "a.html").toPath,
        "<p>just one file with some real words inside it</p>".getBytes(UTF_8))
      val pages = Ingest.binaryFiles(spark, s"${dir.getAbsolutePath}/*.html")
      assert(pages.columns.toSeq == Seq("url", "warc_ts", "html", "text", "lang"))
      val rows = pages.collect()
      assert(rows.length == 1 && rows.head.getAs[String]("url").endsWith("a.html"))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
