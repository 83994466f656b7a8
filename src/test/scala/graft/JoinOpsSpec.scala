package graft

import graft.functions.{AsofJoin, CountMin, RangeJoin}
import graft.util.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the three join/sketch operators behind q67-q69:
  * as-of join vs a per-row brute force (incl. the <= tie and
  * no-preceding-revision cases), range join vs the naive theta join
  * under overlapping intervals and several bucket widths, Count-Min
  * never-undercount + exactness-without-collisions. All three pinned
  * partitioning-invariant. */
class JoinOpsSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  // ---- AsofJoin ----

  private def asofFixture(parts: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val r = new graft.util.SplitMix64(99L)
    // 300 events across 7 keys; ts collisions guaranteed (mod 40)
    val left = (0 until 300).map { i =>
      (i.toLong, (i % 7).toLong, r.nextInt(40).toLong)
    }.toDF("event_id", "k", "ts").repartition(parts)
    // revisions: some keys none (key 6), some at colliding ts
    val right = (0 until 60).filter(_ % 7 != 6).map { i =>
      ((i % 7).toLong, (i * 3 % 40).toLong, 1000L + i)
    }.toDF("k", "ts", "rev")
      .groupBy("k", "ts").agg(max("rev").as("rev"))
      .repartition(parts)
    (left, right)
  }

  test("asofJoin == brute force (ties at equal ts, missing keys, pre-history rows)") {
    val (l, r) = asofFixture(5)
    val got = AsofJoin.asofJoin(l, r, "k", "ts").collect().map { row =>
      val rev = Option(row.getAs[org.apache.spark.sql.Row]("asof"))
        .map(_.getLong(0))
      (row.getAs[Long]("event_id"), rev)
    }.toMap
    val revs = r.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val want = l.collect().map { row =>
      val (id, k, ts) = (row.getLong(0), row.getLong(1), row.getLong(2))
      val best = revs.filter(x => x._1 == k && x._2 <= ts)
        .sortBy(x => (x._2, x._3)).lastOption.map(_._3)
      (id, best)
    }.toMap
    assert(got == want)
    // non-vacuous: fixture must exercise a tie, a miss, and a match
    assert(want.values.exists(_.isEmpty) && want.values.exists(_.nonEmpty))
  }

  test("asofJoin partitioning-invariant: 1 vs 7 partitions") {
    val (l1, r1) = asofFixture(1)
    val (l7, r7) = asofFixture(7)
    def run(l: DataFrame, r: DataFrame) =
      AsofJoin.asofJoin(l, r, "k", "ts")
        .select(col("event_id"), col("asof.rev"), col("asof_ts"))
        .collect().map(_.toString).sorted.toSeq
    assert(run(l1, r1) == run(l7, r7))
  }

  test("asofJoin: revision stamped exactly at event ts IS in force (<=)") {
    import spark.implicits._
    val l = Seq((1L, 5L, 10L)).toDF("event_id", "k", "ts")
    val r = Seq((5L, 10L, 77L)).toDF("k", "ts", "rev")
    val row = AsofJoin.asofJoin(l, r, "k", "ts").collect().head
    assert(row.getAs[org.apache.spark.sql.Row]("asof").getLong(0) == 77L)
  }

  test("asofJoin chains: two named lookups coexist; a true clash fails fast") {
    import spark.implicits._
    val ev = Seq((1L, 5L, 10L), (2L, 5L, 30L)).toDF("event_id", "k", "ts")
    val robots = Seq((5L, 8L, 100L)).toDF("k", "ts", "rev")
    val config = Seq((5L, 25L, 200L)).toDF("k", "ts", "cfg")
    val out = AsofJoin.asofJoin(
      AsofJoin.asofJoin(ev, robots, "k", "ts", "robots"),
      config, "k", "ts", "config")
      .orderBy("event_id").collect()
    // event 1: robots rev in force, no config yet; event 2: both
    assert(out(0).getAs[org.apache.spark.sql.Row]("robots").getLong(0) == 100L)
    assert(out(0).isNullAt(out(0).fieldIndex("config")))
    assert(out(1).getAs[org.apache.spark.sql.Row]("robots").getLong(0) == 100L)
    assert(out(1).getAs[org.apache.spark.sql.Row]("config").getLong(0) == 200L)
    // reusing the same asofCol IS a clash — fail fast, not clobber
    val chained = AsofJoin.asofJoin(ev, robots, "k", "ts", "a")
    intercept[IllegalArgumentException] {
      AsofJoin.asofJoin(chained, config, "k", "ts", "a")
    }
  }

  test("asofJoin: payload-less right side fails fast (ADVICE r4)") {
    import spark.implicits._
    val l = Seq((1L, 5L, 10L)).toDF("event_id", "k", "ts")
    val bare = Seq((5L, 8L)).toDF("k", "ts") // nothing to look up
    val ex = intercept[IllegalArgumentException] {
      AsofJoin.asofJoin(l, bare, "k", "ts")
    }
    assert(ex.getMessage.contains("payload"))
  }

  // ---- RangeJoin ----

  test("rangeJoin == naive theta join under overlapping ranges, any bucket width") {
    import spark.implicits._
    val r = new graft.util.SplitMix64(7L)
    val probe = (0 until 500).map(i => (i.toLong, r.nextInt(1000).toLong))
      .toDF("id", "x").repartition(6)
    // overlapping + adjacent + empty intervals
    val ranges = Seq(
      (0L, 0L, 100L), (1L, 50L, 150L), (2L, 150L, 150L), // empty
      (3L, 150L, 900L), (4L, 890L, 1000L), (5L, 0L, 1000L))
      .toDF("label", "lo", "hi")
    def naive = probe.crossJoin(ranges)
      .filter(col("x") >= col("lo") && col("x") < col("hi"))
      .select("id", "label").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (width <- Seq(1L, 7L, 64L, 5000L)) {
      val got = RangeJoin.rangeJoin(probe, "x", ranges, width)
        .select("id", "label").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == naive, s"width=$width")
    }
  }

  // ---- CountMin ----

  test("CountMin never undercounts; exact when the domain is collision-free") {
    import spark.implicits._
    val r = new graft.util.SplitMix64(3L)
    // zipf-ish skewed stream over 200 items -> collisions at w=32
    val items = (0 until 3000).map { _ =>
      Tuple1((r.nextInt(200) * r.nextInt(200) / 200).toLong)
    }.toDF("item").repartition(8)
    val counters = CountMin.buildCounters(items, 3, 32)
    val est = CountMin.estimate(items.distinct(), counters, 3, 32)
    val exact = items.groupBy("item").agg(count(lit(1)).as("exact"))
    val joined = est.join(exact, Seq("item"))
      .select(col("item"), col("est"), col("exact")).collect()
    assert(joined.nonEmpty)
    assert(joined.forall(r => r.getLong(1) >= r.getLong(2)), "undercount!")
    assert(joined.exists(r => r.getLong(1) > r.getLong(2)),
      "no collision at w=32 over 200 items — fixture vacuous")
    // tiny collision-free domain (3 items, w=32): est == exact
    val tiny = Seq(1L, 1L, 2L, 3L, 3L, 3L).map(Tuple1(_)).toDF("item")
    val tc = CountMin.buildCounters(tiny, 3, 32)
    val te = CountMin.estimate(tiny.distinct(), tc, 3, 32)
      .join(tiny.groupBy("item").agg(count(lit(1)).as("exact")), Seq("item"))
      .collect()
    assert(te.forall(r => r.getLong(1) == r.getLong(2)))
    // unseen item: an empty bucket counts as 0, so the estimate is the
    // true Count-Min min (0 here — item 999's buckets miss all three
    // seen items' buckets), not a min over only-populated buckets
    val unseen = CountMin.estimate(Seq(999L).map(Tuple1(_)).toDF("item"), tc, 3, 32)
      .collect()
    assert(unseen.length == 1 && unseen.head.getLong(1) == 0L)
  }

  test("CountMin counters partitioning-invariant: 1 vs 8 partitions") {
    import spark.implicits._
    val items = (0 until 1000).map(i => Tuple1((i % 61).toLong)).toDF("item")
    def counters(parts: Int) =
      CountMin.buildCounters(items.repartition(parts), 3, 32)
        .collect().map(_.toString).sorted.toSeq
    assert(counters(1) == counters(8))
  }
}
