package graft

import graft.extract.{ExtractMode, Extractor}
import graft.gen.SynthCorpus
import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The Spark-free `Probe kernel` subcommands, run in-process. The Spark
  * subcommands stop their session, which the suites share, so they are
  * not run here. */
class ProbeSpec extends AnyFunSuite {

  private def tempFile(bytes: Array[Byte] = Array.emptyByteArray): String = {
    val f = Files.createTempFile("probe", ".dump")
    f.toFile.deleteOnExit()
    Files.write(f, bytes).toString
  }

  /** One dump record as written by `kernel gen`: an int length, then bytes. */
  private def record(len: Int, body: Array[Byte]): Array[Byte] = {
    val b = new ByteArrayOutputStream
    val out = new DataOutputStream(b)
    out.writeInt(len); out.write(body); out.close()
    b.toByteArray
  }

  private val good = record(9, "<p>ok</p>".getBytes("UTF-8"))

  Seq(
    ("a negative length", good ++ record(-1, Array.emptyByteArray), 1, "length -1"),
    ("length 2^31-1", good ++ good ++ record(Int.MaxValue, Array.emptyByteArray), 2,
      s"length ${Int.MaxValue}"),
    ("a record cut short", good ++ record(100, new Array[Byte](10)), 1, "cut short")
  ).foreach { case (what, bytes, index, why) =>
    test(s"dump reader rejects $what, naming the file and the record") {
      val f = tempFile(bytes)
      var read = 0
      val e = intercept[IllegalArgumentException](Probe.readDump(f)(_ => read += 1))
      assert(e.getMessage.contains(f), e.getMessage)
      assert(e.getMessage.contains(s"record $index "), e.getMessage)
      assert(e.getMessage.contains(why), e.getMessage)
      assert(read == index, "the records before the bad one are delivered")
    }
  }

  private def stdout(body: => Unit): String = {
    val b = new ByteArrayOutputStream
    Console.withOut(b)(body)
    b.toString("UTF-8")
  }

  test("kernel gen / sum / run / phase: sum is the FNV fold over Extractor.extract") {
    val n = 200L
    val f = tempFile()
    Probe.main(Array("kernel", "gen", f, n.toString))
    var total = 0L
    var fnv = 0xcbf29ce484222325L
    var fnvAll = 0xcbf29ce484222325L
    def mix(x: Long): Unit = fnv = (fnv ^ x) * 0x100000001b3L
    def mixAll(x: Long): Unit = fnvAll = (fnvAll ^ x) * 0x100000001b3L
    val modes = Seq(ExtractMode.Plain, ExtractMode.Format, ExtractMode.Box(100, 900), ExtractMode.Color("red"))
    for (i <- 0L until n; p <- SynthCorpus.docRows(i, n)._1) {
      Extractor.extract(p.html, ExtractMode.Plain) match {
        case Right(r) =>
          total += r.text.length
          r.text.foreach(c => mix(c.toLong))
          r.spans.foreach { sp => mix(sp.start); mix(sp.end) }
        case Left(reason) => reason.foreach(c => mix(c.toLong))
      }
      modes.foreach { m =>
        val lens = new scala.collection.mutable.ArrayBuilder.ofInt
        Extractor.extract(p.html, m, lens) match {
          case Right(r) =>
            r.text.foreach(c => mixAll(c.toLong))
            r.spans.foreach { sp => mixAll(sp.start); mixAll(sp.end); sp.kind.foreach(c => mixAll(c.toLong)) }
            val dm = r.metrics
            Seq(dm.bytes_in, dm.is_pdf, dm.blocks_total, dm.blocks_kept, dm.blocks_dropped,
              dm.kept_chars, dm.out_chars).foreach(mixAll)
            lens.result().foreach(l => mixAll(l.toLong))
          case Left(reason) => reason.foreach(c => mixAll(c.toLong))
        }
      }
    }
    assert(total > 0)
    assert(stdout(Probe.main(Array("kernel", "sum", f))).trim ==
      s"SUM total_chars=$total fnv=$fnv fnv_all=$fnvAll")
    // the hardware anchor takes over a minute per call; a constant stands in
    val anchor = () => 1e9
    assert(stdout(Probe.kernelCost(f, 1, phases = false, anchor)).contains("TOTAL    docs_per_anchor_op="))
    assert(stdout(Probe.kernelCost(f, 1, phases = true, anchor)).contains("extract full"))
  }
}
