package graft

import graft.streaming.StreamingExtract
import graft.util.Sessions
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream-stream interval join contract: the streaming result must
  * equal the BATCH join of the same rows under the same predicate —
  * including both boundary instants (fetch exactly at the change, and
  * exactly at change + horizon) and matches that span micro-batches
  * (the case that exercises buffered join state). */
class StreamJoinSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private val T0 = 1700000000000L
  private def ts(min: Long) = new Timestamp(T0 + min * 60000L)

  test("streaming interval join == batch join, matches across micro-batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val f = MemoryStream[(String, Timestamp)]
    val c = MemoryStream[(String, Timestamp)]
    val joined = StreamingExtract.fetchesNearChanges(
      f.toDF().toDF("host", "fetch_ts"),
      c.toDF().toDF("host", "change_ts"),
      horizonMinutes = 60, watermark = "30 minutes")
    val name = s"ssj_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // batch 1: changes for a@10 b@20; fetches hitting both boundary
      // instants, one inside, one before the change, one beyond horizon,
      // one on a host with no change
      c.addData(("a", ts(10)), ("b", ts(20)))
      f.addData(("a", ts(10)), ("a", ts(45)), ("a", ts(70)), ("a", ts(71)),
        ("a", ts(5)), ("b", ts(19)), ("x", ts(15)))
      q.processAllAvailable()
      // batch 2 (later event time): a fetch matching batch 1's change
      // ONLY via retained join state, plus a fresh change + fetch pair
      f.addData(("b", ts(75)), ("a", ts(69)))
      c.addData(("a", ts(80)))
      q.processAllAvailable()
      f.addData(("a", ts(95)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql(s"SELECT * FROM $name").collect()
      .map(_.toString).sorted.toSeq

    val fetches = Seq(("a", ts(10)), ("a", ts(45)), ("a", ts(70)),
      ("a", ts(71)), ("a", ts(5)), ("b", ts(19)), ("x", ts(15)),
      ("b", ts(75)), ("a", ts(69)), ("a", ts(95)))
      .toDF("host", "fetch_ts")
    val changes = Seq(("a", ts(10)), ("b", ts(20)), ("a", ts(80)))
      .toDF("host2", "change_ts")
    val wantRows = fetches.join(changes,
        col("host") === col("host2") &&
          col("fetch_ts") >= col("change_ts") &&
          col("fetch_ts") <= col("change_ts") + expr("interval 60 minutes"))
      .select(col("host"), col("fetch_ts"), col("change_ts"))
      .collect()
    val want = wantRows.map(_.toString).sorted.toSeq

    assert(got == want)
    // non-vacuous: both boundaries, a cross-batch match, and a
    // second-change match must all be present
    val wantT = wantRows.map(r =>
      (r.getString(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime)).toSet
    def m(h: String, fm: Long, cm: Long) =
      wantT.contains((h, ts(fm).getTime, ts(cm).getTime))
    assert(m("a", 10, 10), "fetch == change_ts boundary")
    assert(m("a", 70, 10), "fetch == change+horizon boundary")
    assert(m("a", 69, 10), "cross-micro-batch match")
    assert(m("a", 95, 80), "second change match")
    assert(!wantT.exists(_._1 == "x"), "host without change must not match")
  }
}
