package graft

import graft.extract.{ExtractMode, Extractor, TableMd}
import graft.html.{Dom, KernelScratch}
import graft.pdf.PdfParser
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit
import org.scalatest.funsuite.AnyFunSuite

/** What the kernel's per-thread scratch keeps after large documents,
  * what it inflates from a PDF, and which errors escape the kernel. */
class KernelScratchSpec extends AnyFunSuite {
  import KernelScratchSpec.page

  /** Bytes the calling thread's scratch holds. */
  private def retained(): Long = {
    val ks = KernelScratch.get()
    2L * (ks.decChars.length + ks.tokBuf.length + ks.sinkBuf.length + ks.outText.length) +
      4L * ks.decOffs.length
  }

  /** Runs `f` on a fresh thread (a fresh scratch) and returns its result. */
  private def onFreshThread[A](f: => A): A = {
    var out: Either[Throwable, A] = null
    val t = new Thread(() => out = try Right(f) catch { case e: Throwable => Left(e) })
    t.start(); t.join()
    out.fold(e => throw e, identity)
  }

  test("a thread keeps at most 16 MiB of scratch after near-MaxDocBytes single-block pages") {
    val ascii = page(15 << 20, "alpha beta gamma ")
    val utf8 = page(11 << 20, "é中 ")
    val (lens, afterExtract, afterOthers) = onFreshThread {
      val lens = Seq(ascii, utf8).map(p =>
        Extractor.extract(p, ExtractMode.Plain).fold(e => fail(e), _.text.length))
      val afterExtract = retained()
      // the other two entries that fetch the scratch
      assert(Dom.blocksStreaming(ascii).length == 1)
      assert(TableMd.extract(utf8).isEmpty)
      (lens, afterExtract, retained())
    }
    assert(lens == Seq(Extractor.MaxOutChars, Extractor.MaxOutChars))
    assert(afterExtract <= (16L << 20), s"$afterExtract bytes retained after extract")
    assert(afterOthers <= (16L << 20), s"$afterOthers bytes retained after blocksStreaming/TableMd")
  }

  test("Plain output text stops at the cap on a near-MaxDocBytes single-block page") {
    val (len, capacity) = onFreshThread {
      val ks = KernelScratch.get() // the scratch the kernel call below uses
      val len = Extractor.extract(page(15 << 20, "alpha beta gamma "), ExtractMode.Plain)
        .fold(e => fail(e), _.text.length)
      (len, ks.outText.length)
    }
    assert(len == Extractor.MaxOutChars)
    // the grow rule: 1.5 × the need, here MaxOutChars + 1 chars
    assert(capacity <= (Extractor.MaxOutChars + 1) * 3 / 2, s"outText capacity $capacity")
  }

  /** Runs `KernelOomChild payload` in a child JVM with a `heap` max heap;
    * returns (exit value, combined output). */
  private def child(payload: String, heap: String): (Int, String) = {
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder(javaBin, s"-Xmx$heap", "-cp", System.getProperty("java.class.path"),
      "graft.KernelOomChild", payload)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), UTF_8)
    assert(p.waitFor(120, TimeUnit.SECONDS), "child did not exit")
    (p.exitValue, out)
  }

  test("an OutOfMemoryError inside the kernel escapes instead of being quarantined") {
    val (exit, out) = child("html", "48m")
    assert(exit != 0, out)
    assert(out.contains("java.lang.OutOfMemoryError"), out)
    assert(!out.contains("kernel_error"), out)
  }

  test("FlateDecode content past MaxInflatedBytes in one document is cut there") {
    val mib = 1 << 20
    val pdf = KernelScratchSpec.flatePdf(Seq(
      " " * (12 * mib) + "BT (first) Tj ET",
      " " * (3 * mib) + "BT (second) Tj ET" + " " * (2 * mib) + "BT (past) Tj ET", // cut in the spaces
      "BT (after) Tj ET")) // budget spent
    assert(PdfParser.MaxInflatedBytes == 16 * mib)
    assert(Extractor.extract(pdf, ExtractMode.Plain).map(_.text) == Right("first\nsecond"))
  }

  test("a PDF of deflate bombs inflates within the per-document budget under a small heap") {
    // 8 streams of 64 MiB each inflate to 16 MiB in all (MaxInflatedBytes):
    // the one stream and its parse copy, ~32 MiB, fit 128 MiB with room for
    // G1's humongous regions, where the 512 MiB of zeros could not.
    val (exit, out) = child("pdf", "128m")
    assert(exit == 0, out)
    assert(out.trim == "ok 0", out)
  }
}

object KernelScratchSpec {
  /** A PDF of one FlateDecode stream per element of `contents`. */
  def flatePdf(contents: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    out.write("%PDF-1.4\n".getBytes(UTF_8))
    contents.foreach { c =>
      val z = new java.io.ByteArrayOutputStream
      val d = new java.util.zip.DeflaterOutputStream(z)
      d.write(c.getBytes(UTF_8)); d.close()
      out.write(s"<< /Length ${z.size} /Filter /FlateDecode >>\nstream\n".getBytes(UTF_8))
      z.writeTo(out)
      out.write("\nendstream\n".getBytes(UTF_8))
    }
    out.toByteArray
  }

  /** One `<p>` block of `unit` repeated, `bytes` long in UTF-8. */
  def page(bytes: Int, unit: String): Array[Byte] = {
    val u = unit.getBytes(UTF_8)
    val head = "<p>".getBytes(UTF_8)
    val tail = "</p>".getBytes(UTF_8)
    val out = Array.fill[Byte](bytes)(' ')
    System.arraycopy(head, 0, out, 0, head.length)
    var i = head.length
    while (i + u.length <= bytes - tail.length) { System.arraycopy(u, 0, out, i, u.length); i += u.length }
    System.arraycopy(tail, 0, out, bytes - tail.length, tail.length)
    out
  }
}

/** Child JVM of the small-heap cases: extracts a 15 MiB single-block page
  * (`html`) or a PDF of eight FlateDecode streams of 64 MiB of zeros each
  * (`pdf`, ~0.5 MiB compressed) and prints the quarantine reason or
  * `ok <text length>`. */
object KernelOomChild {
  def main(args: Array[String]): Unit = {
    val bytes =
      if (args(0) == "pdf") pdfBombs(streams = 8, inflatedMiB = 64)
      else KernelScratchSpec.page(15 << 20, "alpha beta gamma ")
    val res = Extractor.extract(bytes, ExtractMode.Plain)
    println(res.fold(identity, r => s"ok ${r.text.length}"))
  }

  private def pdfBombs(streams: Int, inflatedMiB: Int): Array[Byte] = {
    val z = new java.io.ByteArrayOutputStream
    val zeros = new Array[Byte](1 << 20)
    val buf = new Array[Byte](64 * 1024)
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION)
    (0 until inflatedMiB).foreach { _ =>
      d.setInput(zeros)
      while (!d.needsInput()) z.write(buf, 0, d.deflate(buf))
    }
    d.finish()
    while (!d.finished()) z.write(buf, 0, d.deflate(buf))
    d.end()
    val out = new java.io.ByteArrayOutputStream
    out.write("%PDF-1.4\n".getBytes(UTF_8))
    (0 until streams).foreach { _ =>
      out.write(s"<< /Length ${z.size} /Filter /FlateDecode >>\nstream\n".getBytes(UTF_8))
      z.writeTo(out)
      out.write("\nendstream\n".getBytes(UTF_8))
    }
    out.toByteArray
  }
}
