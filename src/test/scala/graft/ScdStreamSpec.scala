package graft

import graft.streaming.{ScdEvent, StreamingExtract}
import graft.util.Sessions
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming SCD2 contract: scdStream's final per-url intervals
  * must equal an independent local intervalization of the SAME
  * observation set even when observations arrive out of snapshot order
  * across micro-batches (a late early-snapshot rewrites intervals), and
  * the corpus-level x37 entry must reproduce the oracle-verified q77
  * aggregate row-for-row. */
class ScdStreamSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  /** Independent reference: chronological fold, written differently
    * from StreamingExtract.scdIntervalize — and deliberately NOT
    * sharing its (snap, deleted, h) canonicalization or distinct-dedup
    * (review finding: a reference that copies the preprocessing cannot
    * catch a bug in it). The fixture guarantees at most one observation
    * per (url, snap) — scdIntervalize's documented input contract — so
    * plain snap order IS the semantics here, and exact replay
    * duplicates (exercised by the replayed chunk below) must be
    * absorbed by the operator without this reference modeling them. */
  private def localIntervals(obs: Seq[(Long, String, Boolean)]): Set[(String, Long, Option[Long])] = {
    var open: Option[(String, Long)] = None
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Option[Long])]
    for ((snap, h, del) <- obs.sortBy(_._1)) {
      (open, del) match {
        case (Some((ch, from)), true) =>
          out += ((ch, from, Some(snap))); open = None
        case (None, true) => ()
        case (Some((ch, from)), false) if ch != h =>
          out += ((ch, from, Some(snap))); open = Some((h, snap))
        case (Some(_), false) => ()
        case (None, false) => open = Some((h, snap))
      }
    }
    open.foreach { case (ch, from) => out += ((ch, from, None)) }
    out.toSet
  }

  test("stream == local walk under out-of-order CDC arrival (change/delete/re-add)") {
    import spark.implicits._
    val r = new graft.util.SplitMix64(31L)
    // 25 urls × up to 8 snapshots: random hash runs, deletes, re-adds
    val events = (0 until 25).flatMap { u =>
      (0L to 7L).flatMap { snap =>
        r.nextInt(4) match {
          case 0 => None // url unobserved at this snapshot
          case 1 => Some(ScdEvent(s"u$u", snap, "", deleted = true))
          case _ => Some(ScdEvent(s"u$u", snap, s"h${r.nextInt(3)}", deleted = false))
        }
      }
    }
    // 3 chunks round-robin over the generation order → later batches
    // carry earlier snapshots (true late arrival)
    val dir = Files.createTempDirectory("scd_stream").toString
    events.zipWithIndex.groupBy(_._2 % 3).foreach { case (c, evs) =>
      evs.map(_._1).toDS().coalesce(1).write.parquet(s"$dir/in/chunk$c")
    }
    // a REPLAYED chunk (exact duplicates of chunk 0's events, arriving
    // last): at-least-once sources re-deliver; the operator's set-dedup
    // must absorb the replay with no interval change
    events.zipWithIndex.filter(_._2 % 3 == 0).map(_._1).toDS()
      .coalesce(1).write.parquet(s"$dir/in/replay")
    val src = spark.readStream
      .schema("url STRING, snap LONG, h STRING, deleted BOOLEAN")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*/*.parquet")
      .as[ScdEvent]
    val q = StreamingExtract.scdStream(src)
      .writeStream.format("memory").queryName("scd_stream_spec")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val snaps = spark.sql("SELECT * FROM scd_stream_spec").collect()
    assert(snaps.map(_.getString(0)).groupBy(identity).exists(_._2.length > 1),
      "fixture must exercise multiple emissions per url")
    def ivSet(row: org.apache.spark.sql.Row): Set[(String, Long, Option[Long])] =
      row.getSeq[org.apache.spark.sql.Row](2).map { iv =>
        (iv.getString(0), iv.getLong(1),
          if (iv.isNullAt(2)) None else Some(iv.getLong(2)))
      }.toSet
    val latest = snaps.groupBy(_.getString(0)).map { case (u, rows) =>
      (u, ivSet(rows.maxBy(_.getLong(1))))
    }
    // a late observation must have REWRITTEN some url's intervals
    val changed = snaps.groupBy(_.getString(0)).values.exists { rows =>
      val ordered = rows.sortBy(_.getLong(1)).map(ivSet)
      ordered.zip(ordered.tail).exists { case (a, b) => !a.subsetOf(b) }
    }
    assert(changed, "no late event rewrote intervals — weak fixture")
    val byUrl = events.groupBy(_.url)
    latest.foreach { case (u, ivs) =>
      val want = localIntervals(byUrl(u).map(e => (e.snap, e.h, e.deleted)))
      assert(ivs == want, s"url $u: stream $ivs != local $want")
    }
    // non-vacuity: deletes closed intervals AND re-adds opened new ones
    val allIvs = latest.values.flatten
    assert(allIvs.exists(_._3.nonEmpty) && allIvs.exists(_._3.isEmpty))
    assert(latest.values.exists(_.size >= 3), "no url with a delete/re-add history")
  }

  test("state survives a query restart: resumed run re-intervalizes with run-1 observations") {
    import spark.implicits._
    val r = new graft.util.SplitMix64(47L)
    val events = (0 until 20).flatMap { u =>
      (0L to 7L).flatMap { snap =>
        r.nextInt(4) match {
          case 0 => None
          case 1 => Some(ScdEvent(s"u$u", snap, "", deleted = true))
          case _ => Some(ScdEvent(s"u$u", snap, s"h${r.nextInt(3)}", deleted = false))
        }
      }
    }
    // run 1 holds snapshots 0-4; run 2 delivers 5-7 to a NEW query on
    // the same checkpoint — correct intervals over the full history
    // require run 1's observation state to have been restored
    val (run1, run2) = events.partition(_.snap <= 4)
    val dir = Files.createTempDirectory("scd_restart").toString
    val ckpt = s"$dir/ckpt"
    def startQuery(tag: String) = {
      val src = spark.readStream
        .schema("url STRING, snap LONG, h STRING, deleted BOOLEAN")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in/*/*.parquet")
        .as[ScdEvent]
      StreamingExtract.scdStream(src).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$dir/out/$tag-$id")
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    run1.toDS().coalesce(1).write.parquet(s"$dir/in/r1chunk")
    startQuery("r1").awaitTermination()
    run2.toDS().coalesce(1).write.parquet(s"$dir/in/r2chunk")
    startQuery("r2").awaitTermination()
    val out2 = spark.read.parquet(s"$dir/out/r2-*").collect()
    assert(out2.nonEmpty)
    def ivSet(row: org.apache.spark.sql.Row): Set[(String, Long, Option[Long])] =
      row.getSeq[org.apache.spark.sql.Row](2).map { iv =>
        (iv.getString(0), iv.getLong(1),
          if (iv.isNullAt(2)) None else Some(iv.getLong(2)))
      }.toSet
    val byUrl = events.groupBy(_.url)
    val latest2 = out2.groupBy(_.getString(0)).map { case (u, rows) =>
      (u, rows.maxBy(_.getLong(1)))
    }
    latest2.foreach { case (u, row) =>
      val want = localIntervals(byUrl(u).map(e => (e.snap, e.h, e.deleted)))
      assert(ivSet(row) == want, s"url $u lost run-1 state")
    }
    // non-vacuous: a run-2-touched url must carry run-1 observations,
    // and some interval must SPAN the restart (opened <= 4, still
    // reshaped or closed by a run-2 snapshot)
    assert(latest2.keys.exists(u => run1.exists(_.url == u)))
    assert(latest2.exists { case (u, row) =>
      run1.exists(_.url == u) && ivSet(row).exists(iv =>
        iv._2 <= 4 && iv._3.exists(_ >= 5))
    }, "no interval spans the restart boundary — weak fixture")
  }

  test("x37 streaming aggregate == oracle-verified q77 batch rows (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
    val batch = rows("q77_scd2_history")
    val stream = rows("x37_stream_scd2")
    assert(stream == batch)
  }
}
