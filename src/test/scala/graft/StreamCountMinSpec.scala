package graft

import graft.functions.CountMin
import graft.util.Sessions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming Count-Min contract: the continuously-maintained counter
  * grid over a stream must equal the batch buildCounters over the same
  * rows (shared hashing kernel, commutative sums), and estimates off
  * the streamed grid must equal batch estimates. */
class StreamCountMinSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  test("streamed counters == batch counters; estimates match") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Long]
    val counters = CountMin.buildCounters(in.toDF().toDF("item"))
    val name = s"cm_${System.nanoTime()}"
    val q = counters.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    val r = new graft.util.SplitMix64(5L)
    val batch1 = (0 until 400).map(_ => (r.nextInt(50) * r.nextInt(50) / 50).toLong)
    val batch2 = (0 until 300).map(_ => r.nextInt(200).toLong)
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql(s"SELECT * FROM $name")
    val all = (batch1 ++ batch2).toDF("item")
    val want = CountMin.buildCounters(all)
    assert(streamed.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq)
    // estimates off the streamed grid == batch estimates, and the grid
    // is genuinely bounded: at most d*w rows
    assert(streamed.count() <= 3 * 32)
    val got = CountMin.estimate(all.distinct(), streamed).collect()
      .map(r2 => (r2.getLong(0), r2.getLong(1))).toMap
    val wantE = CountMin.estimate(all.distinct(), want).collect()
      .map(r2 => (r2.getLong(0), r2.getLong(1))).toMap
    assert(got == wantE && got.nonEmpty)
  }
}
