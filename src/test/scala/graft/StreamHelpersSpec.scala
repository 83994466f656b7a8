package graft

import graft.queries.Query
import graft.streaming.StreamingExtract
import graft.util.Sessions
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The two streaming helpers the streaming queries share: the
  * available-now drain and the staged stream source of an sf table. */
class StreamHelpersSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)
  private val sf = "/root/testdata/sf0.001"

  private def run(tag: String) =
    s"${SparkEntry.SynthRoot}/${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  test("drain of a stream with no input files: 0 rows with the stream's columns") {
    val empty = new java.io.File(run("drain_empty_src"))
    assert(empty.mkdirs())
    val pages = StreamingExtract.pagesReader(spark).parquet(empty.getPath)
    Seq(OutputMode.Append(), OutputMode.Update()).foreach { mode =>
      val out = StreamingExtract.drain(pages, mode, run("drain_empty"))
      assert(out.count() == 0, mode)
      assert(out.columns.toSeq == StreamingExtract.pagesSchema.fieldNames.toSeq, mode)
    }
  }

  test("the staged stream of an sf table has Query.t's schema and all its rows") {
    Seq("events", "documents").foreach { name =>
      val table = Query.t(spark, sf, name)
      val stream = Query.stream(spark, sf, name)
      assert(stream.isStreaming)
      assert(stream.schema == table.schema, name)
      assert(StreamingExtract.drain(stream, OutputMode.Append(), run(s"staged_$name")).count()
        == table.count(), name)
    }
  }
}
