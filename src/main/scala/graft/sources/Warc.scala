package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.Locale
import java.util.zip.GZIPInputStream

/** Minimal WARC/1.0–1.1 reader for Common-Crawl-style captures — the
  * engine's native-ingest analog of the reference's image-file source
  * (GOT/demo/run_ocr_2.0.py:35-41). Scope: `response` (and `resource`)
  * records; member-gzip (.warc.gz, one gzip member per record) and plain
  * .warc; HTTP response payloads have their header block stripped.
  *
  * Parsing is byte-exact and allocation-lean: header keys are
  * ASCII-case-folded, the payload is the Content-Length-delimited block.
  * Never throws on malformed input — bad records are skipped (the
  * kernel's quarantine discipline starts at the source).
  */
object Warc {

  final case class Record(url: String, warcDate: String, contentType: String,
      payload: Array[Byte])

  /** Parse all response/resource records from WARC bytes (gzip or plain). */
  def records(bytes: Array[Byte]): Vector[Record] = {
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
      recordsPlain(gunzipAll(bytes))
    else recordsPlain(bytes)
  }

  /** Hard cap on decompressed size: a JVM byte array tops out just short
    * of 2 GiB, so a capture that inflates past this keeps its parsed
    * prefix and drops the tail (never-throw contract). Real >2 GiB
    * captures need record streaming straight off the GZIPInputStream —
    * deliberate future work; typical Common-Crawl captures (~1 GiB
    * compressed / 2-4 GiB inflated) should be split upstream. */
  final val MaxInflatedBytes: Int = Int.MaxValue - 16

  /** Decompress ALL gzip members (Common Crawl concatenates one member
    * per record; GZIPInputStream with a pushback handles multi-member).
    * The initial-capacity estimate is computed in Long space and clamped
    * (ADVICE r1: `bytes.length * 4` overflows Int for inputs >= 512 MiB),
    * and allocation happens inside the try so a failed oversized
    * allocation degrades to an empty result instead of throwing. */
  private def gunzipAll(bytes: Array[Byte]): Array[Byte] = {
    var out: ByteArrayOutputStream = null
    try {
      val cap = math.min(math.max(bytes.length.toLong * 4, 64L * 1024), MaxInflatedBytes.toLong).toInt
      out = new ByteArrayOutputStream(cap)
      val in = new GZIPInputStream(new ByteArrayInputStream(bytes), 64 * 1024)
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0 && out.size() <= MaxInflatedBytes - n) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
    } catch { case _: Throwable => () } // truncated trailing member: keep prefix
    if (out == null) Array.emptyByteArray else out.toByteArray
  }

  private def recordsPlain(b: Array[Byte]): Vector[Record] = {
    val out = Vector.newBuilder[Record]
    var i = 0
    while (i >= 0 && i < b.length) {
      i = indexOf(b, i, "WARC/")
      if (i >= 0) {
        parseRecord(b, i) match {
          case Some((rec, next)) =>
            rec.foreach(out += _)
            i = next
          case None =>
            // malformed record (bad/missing Content-Length, truncated
            // header): skip just THIS record and resume at the next
            // "WARC/" marker — aborting the whole file here would drop
            // every valid record after one bad one (ADVICE r1)
            i = indexOf(b, i + 5, "WARC/")
        }
      }
    }
    out.result()
  }

  /** Parse one record at `start` (positioned at "WARC/"). Returns the
    * record (None body for non-response types) and the next scan offset. */
  private def parseRecord(b: Array[Byte], start: Int): Option[(Option[Record], Int)] = {
    val headerEnd = indexOf(b, start, "\r\n\r\n")
    if (headerEnd < 0) return None
    val header = new String(b, start, headerEnd - start,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    var recType = ""; var url = ""; var date = ""; var ctype = ""; var clen = -1L
    header.split("\r\n").foreach { line =>
      val ci = line.indexOf(':')
      if (ci > 0) {
        val k = line.substring(0, ci).trim.toLowerCase(Locale.ROOT)
        val v = line.substring(ci + 1).trim
        k match {
          case "warc-type"      => recType = v
          case "warc-target-uri" => url = v.stripPrefix("<").stripSuffix(">")
          case "warc-date"      => date = v
          case "content-type"   => ctype = v
          case "content-length" => clen = try v.toLong catch { case _: Throwable => -1L }
          case _                => ()
        }
      }
    }
    val bodyStart = headerEnd + 4
    if (clen < 0 || bodyStart + clen > b.length) return None
    val next = bodyStart + clen.toInt
    val rec =
      if (recType == "response" || recType == "resource") {
        val (payload, payloadType) =
          if (ctype.startsWith("application/http"))
            stripHttpHeaders(b, bodyStart, clen.toInt)
          else (java.util.Arrays.copyOfRange(b, bodyStart, next), ctype)
        Some(Record(url, date, payloadType, payload))
      } else None
    Some((rec, next))
  }

  /** Drop the HTTP response header block; returns (payload, content-type
    * from the HTTP headers if present). */
  private def stripHttpHeaders(b: Array[Byte], start: Int, len: Int): (Array[Byte], String) = {
    val end = start + len
    val he = indexOf(b, start, "\r\n\r\n")
    if (he < 0 || he + 4 > end)
      return (java.util.Arrays.copyOfRange(b, start, end), "")
    val headers = new String(b, start, he - start,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val ctype = headers.split("\r\n").collectFirst {
      case l if l.toLowerCase(Locale.ROOT).startsWith("content-type:") => l.substring(13).trim
    }.getOrElse("")
    (java.util.Arrays.copyOfRange(b, he + 4, end), ctype)
  }

  private def indexOf(b: Array[Byte], from: Int, lit: String): Int = {
    val l = lit.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    var i = math.max(from, 0)
    val limit = b.length - l.length
    while (i <= limit) {
      var k = 0
      while (k < l.length && b(i + k) == l(k)) k += 1
      if (k == l.length) return i
      i += 1
    }
    -1
  }

  /** Serialize records to a plain WARC file (fixture writer — tests and
    * synthetic ingest corpora; deterministic bytes). */
  def write(records: Seq[Record]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { r =>
      val http = s"HTTP/1.1 200 OK\r\nContent-Type: ${r.contentType}\r\n" +
        s"Content-Length: ${r.payload.length}\r\n\r\n"
      val httpBytes = http.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val clen = httpBytes.length + r.payload.length
      val header = "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        s"WARC-Target-URI: ${r.url}\r\n" +
        s"WARC-Date: ${r.warcDate}\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: $clen\r\n\r\n"
      out.write(header.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      out.write(httpBytes)
      out.write(r.payload)
      out.write("\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    out.toByteArray
  }
}
