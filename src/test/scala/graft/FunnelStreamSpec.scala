package graft

import graft.functions.Funnel
import graft.functions.Funnel.Stage
import graft.streaming.{FunnelEvent, StreamingExtract}
import graft.util.Sessions
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming funnel contract: funnelStream's final per-key snapshot
  * must equal batch Funnel.matchStages over the SAME events even when a
  * key's events are split across micro-batches in arbitrary time order
  * (late arrivals CHANGE earlier stage matches — no watermark
  * assumption). This is also the cross-implementation check between
  * Funnel.cascade (local, used by the stream) and matchStages' Catalyst
  * expressions (used by batch). */
class FunnelStreamSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private val win = Some(300L)
  private val stages = Seq(Stage("view", "view"), Stage("click", "click", win),
    Stage("purchase", "purchase", win))

  test("stream == batch under out-of-order multi-batch arrival") {
    import spark.implicits._
    val r = new graft.util.SplitMix64(23L)
    val types = Array("view", "click", "add", "purchase")
    val events = (0 until 900).map { _ =>
      (r.nextInt(30).toLong, r.nextInt(500).toLong * 10L, types(r.nextInt(4)))
    }
    // 3 arrival chunks assigned round-robin over the RANDOM sequence —
    // timestamps interleave arbitrarily across chunks, so later
    // micro-batches carry earlier event times (true late arrival)
    val dir = Files.createTempDirectory("funnel_stream").toString
    events.zipWithIndex.groupBy(_._2 % 3).foreach { case (c, evs) =>
      evs.map(_._1).toDF("u", "tsm", "ty")
        .coalesce(1).write.parquet(s"$dir/in/chunk$c")
    }
    val src = spark.readStream
      .schema("u LONG, tsm LONG, ty STRING")
      .option("maxFilesPerTrigger", 1) // one chunk per micro-batch
      .parquet(s"$dir/in/*/*.parquet")
      .as[FunnelEvent]
    val name = "funnel_stream_spec"
    val q = StreamingExtract.funnelStream(src, stages)
      .writeStream.format("memory").queryName(name)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val snaps = spark.sql(s"SELECT * FROM $name").collect()
    // >1 batch actually ran and some key emitted more than once
    // (otherwise the cross-batch state path is vacuous)
    assert(snaps.map(_.getLong(0)).groupBy(identity).exists(_._2.length > 1),
      "fixture must exercise multiple emissions per key")
    def tsSeq(row: org.apache.spark.sql.Row, i: Int): Seq[Option[Long]] =
      row.getSeq[Any](i).map(v => Option(v).map(_.asInstanceOf[Long]))
    val latest = snaps.groupBy(_.getLong(0)).map { case (u, rows) =>
      (u, tsSeq(rows.maxBy(_.getLong(1)), 2))
    }
    // a late arrival must have CHANGED some key's earlier snapshot —
    // not merely extended it (the order-independence claim under test)
    val changed = snaps.groupBy(_.getLong(0)).values.exists { rows =>
      val ordered = rows.sortBy(_.getLong(1)).map(tsSeq(_, 2))
      ordered.zip(ordered.tail).exists { case (a, b) =>
        a.zip(b).exists { case (x, y) => x.isDefined && y.isDefined && x != y }
      }
    }
    assert(changed, "no late event rewrote an earlier stage match — weak fixture")

    val batch = Funnel.matchStages(
        events.toDF("user_id", "tsm", "event_type"), stages)
      .collect().map { row =>
      val ts = stages.indices.map { i =>
        val f = row.fieldIndex(s"t_${stages(i).name}")
        if (row.isNullAt(f)) None else Some(row.getLong(f))
      }
      (row.getLong(row.fieldIndex("user_id")), ts)
    }.toMap
    latest.foreach { case (u, ts) =>
      assert(batch(u) == ts, s"user $u: stream $ts != batch ${batch(u)}")
    }
    // keys absent from the stream are exactly those with no
    // stage-relevant event — all-null in batch
    val relevant = stages.map(_.eventType).toSet
    (batch.keySet -- latest.keySet).foreach { u =>
      assert(batch(u).forall(_.isEmpty))
      assert(!events.exists(e => e._1 == u && relevant(e._3)))
    }
  }

  test("state survives a query restart: resumed run continues from checkpointed state") {
    import spark.implicits._
    val r = new graft.util.SplitMix64(41L)
    val types = Array("view", "click", "add", "purchase")
    val events = (0 until 600).map { _ =>
      (r.nextInt(20).toLong, r.nextInt(400).toLong * 10L, types(r.nextInt(4)))
    }
    val (run1Events, run2Events) = events.splitAt(400)
    val dir = Files.createTempDirectory("funnel_restart").toString
    val ckpt = s"$dir/ckpt"
    // foreachBatch parquet sink: the memory sink rejects checkpoint
    // recovery ("does not support recovering from checkpoint
    // location"), and recovery is exactly what this test exercises
    def startQuery(tag: String) = {
      val src = spark.readStream
        .schema("u LONG, tsm LONG, ty STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in/*/*.parquet")
        .as[FunnelEvent]
      StreamingExtract.funnelStream(src, stages).toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$dir/out/$tag-$id")
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // run 1: two chunks, drain, STOP (query terminates; state persists
    // in the checkpoint's state store)
    run1Events.zipWithIndex.groupBy(_._2 % 2).foreach { case (c, evs) =>
      evs.map(_._1).toDF("u", "tsm", "ty").coalesce(1)
        .write.parquet(s"$dir/in/r1chunk$c")
    }
    val q1 = startQuery("r1")
    q1.awaitTermination()
    // run 2: a NEW query over the same checkpoint sees only the new
    // chunk — its emissions must reflect state accumulated in run 1
    run2Events.toDF("u", "tsm", "ty").coalesce(1)
      .write.parquet(s"$dir/in/r2chunk")
    val q2 = startQuery("r2")
    q2.awaitTermination()
    val out2 = spark.read.parquet(s"$dir/out/r2-*").collect()
    assert(out2.nonEmpty, "run 2 must process the new chunk")
    def tsSeq(row: org.apache.spark.sql.Row): Seq[Option[Long]] =
      row.getSeq[Any](2).map(v => Option(v).map(_.asInstanceOf[Long]))
    val latest2 = out2.groupBy(_.getLong(0)).map { case (u, rows) =>
      (u, rows.maxBy(_.getLong(1)))
    }
    val batch = Funnel.matchStages(
        events.toDF("user_id", "tsm", "event_type"), stages)
      .collect().map { row =>
      val ts = stages.indices.map { i =>
        val f = row.fieldIndex(s"t_${stages(i).name}")
        if (row.isNullAt(f)) None else Some(row.getLong(f))
      }
      (row.getLong(row.fieldIndex("user_id")), ts)
    }.toMap
    val relevant = stages.map(_.eventType).toSet
    latest2.foreach { case (u, row) =>
      // full-history equality — only possible if run 1's state was
      // restored, since run 2 read none of run 1's files
      assert(tsSeq(row) == batch(u), s"user $u lost run-1 state")
      // and n_events proves the state counts run-1 events too
      val total = events.count(e => e._1 == u && relevant(e._3))
      assert(row.getLong(1) == total,
        s"user $u: n_events ${row.getLong(1)} != $total")
    }
    // non-vacuous: some run-2-touched user must actually CARRY run-1
    // state (a user whose relevant events all arrived in run 2 would
    // pass the equalities without exercising the restore)
    assert(latest2.keys.exists(u =>
      run1Events.exists(e => e._1 == u && relevant(e._3))))
  }

  test("x36 streaming cohort funnel == q74 batch counts (sf0.001)") {
    // structural equality (incl. the n_users denominator over the FULL
    // user population — users with no stage-relevant event never reach
    // the stream and are restored by the dim left-join), not a
    // data-coincidence (review finding)
    val sf = "/root/testdata/sf0.001"
    val q74 = SparkEntry.queries("q74_event_funnel")(spark, sf)
      .select("cohort", "n_users", "n_viewed", "n_clicked", "n_purchased")
      .collect().map(_.toString).toSeq
    val x36 = SparkEntry.queries("x36_stream_funnel")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(x36 == q74)
  }
}
