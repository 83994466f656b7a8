package graft

import graft.functions.Funnel
import graft.functions.Funnel.Stage
import graft.util.Sessions
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Contract for the reusable funnel operator: matchStages must equal an
  * independent single-threaded first-match-cascade walk on seeded event
  * populations (mixed windows, unbounded stages, drop-offs, keys with
  * no stage-1 event), stay partitioning-invariant, and q74's 3-stage
  * instance must be exactly expressible on it (the DuckDB oracle pins
  * that instance cross-engine). */
class FunnelSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  // seeded fixture: 40 keys, dense event streams over 4 types with
  // heavy ts collisions so window boundaries and ties are exercised
  private def fixture(seed: Long, n: Int): Seq[(Long, Long, String)] = {
    val r = new graft.util.SplitMix64(seed)
    val types = Array("view", "click", "add", "purchase")
    (0 until n).map { _ =>
      (r.nextInt(40).toLong, r.nextInt(500).toLong * 10L,
        types(r.nextInt(types.length)))
    }
  }

  /** Independent reference: per-key sort by encounter-free (ts only is
    * NOT enough — array_min is order-free, so the walk uses min over
    * qualifying events, not positional order). */
  private def localWalk(events: Seq[(Long, Long, String)],
      stages: Seq[Stage]): Map[Long, Seq[Option[Long]]] = {
    val byKey = events.groupBy(_._1)
    byKey.map { case (k, es) =>
      val ts = scala.collection.mutable.ArrayBuffer.empty[Option[Long]]
      stages.zipWithIndex.foreach { case (st, i) =>
        val t =
          if (i == 0) {
            val c = es.filter(_._3 == st.eventType).map(_._2)
            if (c.isEmpty) None else Some(c.min)
          } else ts(i - 1) match {
            case None => None
            case Some(prev) =>
              val hi = st.windowMs.map(prev + _)
              val c = es.filter(e => e._3 == st.eventType && e._2 >= prev &&
                hi.forall(e._2 <= _)).map(_._2)
              if (c.isEmpty) None else Some(c.min)
          }
        ts += t
      }
      (k, ts.toSeq)
    }
  }

  private def run(events: Seq[(Long, Long, String)], stages: Seq[Stage],
      parts: Int): Map[Long, Seq[Option[Long]]] = {
    import spark.implicits._
    val df = events.toDF("user_id", "tsm", "event_type").repartition(parts)
    Funnel.matchStages(df, stages).collect().map { r =>
      val k = r.getLong(r.fieldIndex("user_id"))
      val ts = stages.map { st =>
        val i = r.fieldIndex(s"t_${st.name}")
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      }
      (k, ts)
    }.toMap
  }

  test("matchStages == local walk: mixed windows + an unbounded stage") {
    val es = fixture(5L, 1500)
    val stages = Seq(Stage("s1", "view"), Stage("s2", "click", Some(300L)),
      Stage("s3", "add"), Stage("s4", "purchase", Some(100L)))
    val got = run(es, stages, 5)
    val want = localWalk(es, stages)
    assert(got == want)
    // non-vacuous: the fixture must exercise full conversion AND at
    // least two distinct drop-off depths
    val depths = want.values.map(_.takeWhile(_.nonEmpty).length).toSet
    assert(depths.contains(stages.length) && (depths - stages.length).size >= 2,
      s"fixture must exercise conversions and drop-offs, got depths $depths")
  }

  test("keys with no stage-1 event still appear, all-null") {
    import spark.implicits._
    val df = Seq((1L, 10L, "click"), (2L, 10L, "view"))
      .toDF("user_id", "tsm", "event_type")
    val got = Funnel.matchStages(df,
      Seq(Stage("v", "view"), Stage("c", "click", Some(50L))))
      .collect().map(r => (r.getLong(0), (r.isNullAt(1), r.isNullAt(2)))).toMap
    assert(got(1L) == ((true, true))) // no view: c unreachable though a click exists
    assert(got(2L) == ((false, true)))
  }

  test("window boundary: exactly prev + W converts, prev + W + 1 does not") {
    import spark.implicits._
    val df = Seq((1L, 0L, "view"), (1L, 100L, "click"),
      (2L, 0L, "view"), (2L, 101L, "click"))
      .toDF("user_id", "tsm", "event_type")
    val got = Funnel.matchStages(df,
      Seq(Stage("v", "view"), Stage("c", "click", Some(100L))))
      .collect().map(r => (r.getLong(0), r.isNullAt(2))).toMap
    assert(!got(1L) && got(2L))
  }

  test("partitioning-invariant: 1 vs 7 partitions") {
    val es = fixture(11L, 800)
    val stages = Seq(Stage("a", "view"), Stage("b", "click", Some(400L)))
    assert(run(es, stages, 1) == run(es, stages, 7))
  }

  test("q74 equivalence: the inline 3-stage form is exactly this operator") {
    // the q74 oracle checks cross-engine; this pins that the REWRITE
    // onto Funnel preserved the original inline expr-string semantics
    import spark.implicits._
    val es = fixture(17L, 2000)
    val df = es.toDF("u", "tsm", "ty")
    val win = 300L
    val inline = df.groupBy($"u")
      .agg(org.apache.spark.sql.functions.collect_list(
        org.apache.spark.sql.functions.struct($"tsm", $"ty")).as("es"))
      .withColumn("t1", org.apache.spark.sql.functions.expr(
        "array_min(transform(filter(es, e -> e.ty = 'view'), e -> e.tsm))"))
      .withColumn("t2", org.apache.spark.sql.functions.expr(
        s"array_min(transform(filter(es, e -> e.ty = 'click' AND e.tsm >= t1 AND e.tsm <= t1 + $win), e -> e.tsm))"))
      .withColumn("t3", org.apache.spark.sql.functions.expr(
        s"array_min(transform(filter(es, e -> e.ty = 'purchase' AND e.tsm >= t2 AND e.tsm <= t2 + $win), e -> e.tsm))"))
      .select("u", "t1", "t2", "t3")
      .collect().map(_.toString).sorted.toSeq
    val viaOp = Funnel.matchStages(df,
      Seq(Stage("1", "view"), Stage("2", "click", Some(win)),
        Stage("3", "purchase", Some(win))),
      keyCol = "u", tsCol = "tsm", typeCol = "ty")
      .select("u", "t_1", "t_2", "t_3")
      .collect().map(_.toString).sorted.toSeq
    assert(viaOp == inline)
  }

  test("invalid stage lists fail fast") {
    import spark.implicits._
    val df = Seq((1L, 0L, "view")).toDF("user_id", "tsm", "event_type")
    intercept[IllegalArgumentException] {
      Funnel.matchStages(df, Nil)
    }
    intercept[IllegalArgumentException] {
      Funnel.matchStages(df, Seq(Stage("a", "view"), Stage("a", "click")))
    }
    intercept[IllegalArgumentException] {
      Funnel.matchStages(df, Seq(Stage("a", "view"), Stage("b", "click", Some(0L))))
    }
  }
}
