package graft

import graft.streaming.StreamingExtract
import graft.util.Sessions
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming exact dedup must hold its seen-set ACROSS query restarts:
  * file A is drained by one availableNow run, file B (which re-serves 20
  * of A's payloads under new urls) by a SECOND run on the same
  * checkpoint — every duplicate verdict in run 2 can only come from the
  * restored state store. */
class StreamDedupSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private def writeBatch(dir: String, ids: Seq[Int], urlPrefix: String, hour: Int): Unit = {
    import spark.implicits._
    ids.map { i =>
      (s"https://$urlPrefix$i.example.com/p",
        java.sql.Timestamp.valueOf(f"2024-03-01 $hour%02d:${i % 60}%02d:00"),
        s"spec payload $i".getBytes("UTF-8"),
        null.asInstanceOf[String], null.asInstanceOf[String])
    }.toDF("url", "warc_ts", "html", "text", "lang")
      .coalesce(1).write.mode("append").parquet(dir)
  }

  private def drain(src: String, run: String, ttlMs: Option[Long] = None): Unit = {
    val sigs = StreamingExtract.docSigs(spark, s"$src/*.parquet")
    val decisions = ttlMs match {
      case Some(t) => StreamingExtract.dedupStreamTtl(sigs, t)
      case None => StreamingExtract.dedupStream(sigs)
    }
    val q = decisions
      .writeStream.format("parquet")
      .option("path", s"$run/out")
      .option("checkpointLocation", s"$run/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("dedup state survives query restart: run-2 duplicates are all flagged") {
    val root = s"${SparkEntry.SynthRoot}/streamdedup_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val src = s"$root/src"
    writeBatch(src, 0 until 30, "a", hour = 1)
    drain(src, root)
    val out1 = spark.read
      .schema("url STRING, hash STRING, first_seen BOOLEAN, prior_count LONG")
      .parquet(s"$root/out")
    assert(out1.count() == 30 && out1.filter("first_seen").count() == 30)

    // second query, same checkpoint: 15 re-served payloads + 10 new
    writeBatch(src, 0 until 15, "dup", hour = 5)
    writeBatch(src, 100 until 110, "b", hour = 6)
    drain(src, root)
    val out2 = spark.read
      .schema("url STRING, hash STRING, first_seen BOOLEAN, prior_count LONG")
      .parquet(s"$root/out")
    assert(out2.count() == 55)
    val dups = out2.filter("NOT first_seen").collect()
    assert(dups.length == 15)
    assert(dups.forall(_.getAs[String]("url").contains("dup")))
    assert(dups.forall(_.getAs[Long]("prior_count") == 1L))
    assert(out2.filter("first_seen").count() == 40)
  }

  test("ttl dedup: idle hashes expire, re-admit as first_seen, state shrinks") {
    // ProcessingTimeTimeout makes shouldRunAnotherBatch always true:
    // an AvailableNow drain never terminates AND processAllAvailable()
    // never signals (every trigger claims work). Drive ONE continuous
    // query with a bounded trigger cadence and poll the sink for the
    // expected row count; the idle batches in between fire the timers.
    val root = s"${SparkEntry.SynthRoot}/streamdedup_ttl_${java.util.UUID.randomUUID().toString.take(8)}"
    val src = s"$root/src"
    val ttl = 500L
    def outRows() =
      try spark.read
        .schema("url STRING, hash STRING, first_seen BOOLEAN, prior_count LONG")
        .parquet(s"$root/out")
      catch { case _: Exception => spark.emptyDataFrame }
    def awaitCount(n: Long, timeoutMs: Long = 120000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (outRows().count() < n && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      assert(outRows().count() == n, s"sink rows != $n within ${timeoutMs}ms")
    }
    writeBatch(src, 0 until 30, "a", hour = 1)
    val q = StreamingExtract.dedupStreamTtl(
        StreamingExtract.docSigs(spark, s"$src/*.parquet"), ttl)
      .writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      awaitCount(30)
      assert(outRows().filter("first_seen").count() == 30)

      // let every hash's TTL lapse (idle micro-batches keep running and
      // fire the timers), then re-serve 15: they must RE-ADMIT
      Thread.sleep(ttl * 6)
      writeBatch(src, 0 until 15, "dup", hour = 5)
      awaitCount(45)
      assert(outRows().filter("NOT first_seen").count() == 0,
        "expired hashes must re-admit as first_seen")

      // re-serve 5 more; within their re-admission TTL they are flagged,
      // after it they re-admit — either way all 50 observations account
      writeBatch(src, 0 until 5, "dup2", hour = 7)
      awaitCount(50)
      val dups = outRows().filter("NOT first_seen").collect()
      assert(dups.forall(_.getAs[String]("url").contains("dup2")))
    } finally q.stop()

    // state actually SHRANK: 30 distinct hashes were ever ingested, but
    // the 15 idle since the first batch were removed by timeout
    // callbacks (and later-phase ones may have expired before stop too)
    val stateRows = spark.read.format("statestore").load(s"$root/ckpt").count()
    assert(stateRows <= 15L, s"state store holds $stateRows rows, want <= 15")
  }
}
