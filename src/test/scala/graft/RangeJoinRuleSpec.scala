package graft

import graft.util.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The RangeJoinRewrite optimizer rule contract: a `x >= lo AND x < hi`
  * inner theta join — nested-loop in stock Spark — must come out as an
  * equi-join with IDENTICAL results (overlaps, boundaries, nulls, empty
  * intervals), fire in either join orientation, and NOT fire on shapes
  * it cannot prove (inclusive upper bound). The shared session carries
  * the rule (`Sessions.local` installs it); each case sets or unsets only
  * the width conf. */
class RangeJoinRuleSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private def withRule[T](f: => T): T = {
    spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "64")
    try f finally spark.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
  }

  test("rule is inert while the width conf is unset (opt-in contract)") {
    assert(spark.experimental.extraOptimizations.contains(graft.plans.RangeJoinRewrite))
    val q = probe.join(ranges,
      probe("x") >= ranges("lo") && probe("x") < ranges("hi"))
    assert(q.queryExecution.executedPlan.toString.contains("NestedLoop"),
      "without spark.graft.rangejoin.bucketWidth the rule must not fire")
  }

  test("an explicitly-set but invalid width ERRORS instead of silently disabling") {
    try {
      for (bad <- Seq("64x", "0", "-1")) {
        spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, bad)
        val ex = intercept[Exception] {
          probe.join(ranges,
            probe("x") >= ranges("lo") && probe("x") < ranges("hi"))
            .queryExecution.executedPlan
        }
        assert(ex.getMessage.contains("bucketWidth"), s"'$bad': ${ex.getMessage}")
      }
      // a padded-but-valid value works (trim)
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, " 64 ")
      val q = probe.join(ranges,
        probe("x") >= ranges("lo") && probe("x") < ranges("hi"))
      assert(!q.queryExecution.executedPlan.toString.contains("NestedLoop"))
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
  }

  private lazy val probe: DataFrame = {
    import spark.implicits._
    val r = new graft.util.SplitMix64(21L)
    // include negatives (truncating-div monotonicity) and a null x
    val rows: Seq[(Long, java.lang.Long)] =
      (0 until 400).map(i => (i.toLong, java.lang.Long.valueOf(r.nextInt(2000) - 500L))) :+
        ((400L, null: java.lang.Long))
    rows.toDF("id", "x").repartition(5)
  }

  private lazy val ranges: DataFrame = {
    import spark.implicits._
    val rows: Seq[(Long, java.lang.Long, java.lang.Long)] = Seq(
      (0L, -500L, 0L), (1L, -64L, 65L), (2L, 0L, 1L), (3L, 100L, 100L),
      (4L, 64L, 1500L), (5L, 1400L, 1500L), (6L, null, 10L), (7L, 5L, null))
    rows.toDF("label", "lo", "hi")
  }

  private def results(df: DataFrame): Set[(Long, Long)] =
    df.select("id", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rewrite preserves results and removes the nested-loop join") {
    val q = probe.join(ranges,
      probe("x") >= ranges("lo") && probe("x") < ranges("hi"))
    val stockPlan = q.queryExecution.executedPlan.toString
    assert(stockPlan.contains("NestedLoop"),
      s"fixture must be nested-loop without the rule:\n$stockPlan")
    val want = results(q)
    assert(want.nonEmpty)
    withRule {
      val q2 = probe.join(ranges,
        probe("x") >= ranges("lo") && probe("x") < ranges("hi"))
      val plan = q2.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop"), s"rule did not fire:\n$plan")
      assert(results(q2) == want)
    }
  }

  test("fires in the swapped orientation (ranges on the left)") {
    val want = results(ranges.join(probe,
      probe("x") >= ranges("lo") && probe("x") < ranges("hi")))
    withRule {
      val q2 = ranges.join(probe,
        probe("x") >= ranges("lo") && probe("x") < ranges("hi"))
      assert(!q2.queryExecution.executedPlan.toString.contains("NestedLoop"))
      assert(results(q2) == want)
    }
  }

  test("equivalent spellings canonicalize and fire (ADVICE r4)") {
    val want = results(probe.join(ranges,
      probe("x") >= ranges("lo") && probe("x") < ranges("hi")))
    withRule {
      // lo <= x / hi > x operand orders, and the conjuncts swapped —
      // all four must leave the nested-loop plan, with identical rows
      val spellings = Seq(
        ranges("lo") <= probe("x") && probe("x") < ranges("hi"),
        probe("x") >= ranges("lo") && ranges("hi") > probe("x"),
        probe("x") < ranges("hi") && probe("x") >= ranges("lo"),
        ranges("hi") > probe("x") && ranges("lo") <= probe("x"))
      spellings.zipWithIndex.foreach { case (cond, i) =>
        val q = probe.join(ranges, cond)
        val plan = q.queryExecution.executedPlan.toString
        assert(!plan.contains("NestedLoop"),
          s"spelling $i did not fire:\n$plan")
        assert(results(q) == want, s"spelling $i changed results")
      }
    }
  }

  test("does not fire on an inclusive upper bound") {
    withRule {
      val q = probe.join(ranges,
        probe("x") >= ranges("lo") && probe("x") <= ranges("hi"))
      assert(q.queryExecution.executedPlan.toString.contains("NestedLoop"),
        "rule must not rewrite a shape it cannot prove")
    }
  }

  test("boundary semantics survive: lo inclusive, hi exclusive") {
    withRule {
      val got = results(probe.join(ranges,
        probe("x") >= ranges("lo") && probe("x") < ranges("hi")))
      val xs = probe.collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      val rs = ranges.collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
      val want = (for {
        (id, Some(x)) <- xs
        (label, Some(lo), Some(hi)) <- rs
        if x >= lo && x < hi
      } yield (id, label)).toSet
      assert(got == want)
    }
  }
}
