package graft

import graft.functions.HistogramSketch
import graft.util.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The histogram-sketch operator contract beyond its cross-engine
  * oracles (q65 pins quantileSummary, q70 pins shardBounds): bin
  * arithmetic at power-of-two edges, lossless cnt-sum mergeability
  * across corpus slices, quantile semantics vs an exact local
  * computation at bin granularity, and fail-fast parameter checks. */
class HistogramSketchSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private def df(rows: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v").repartition(3)
  }

  test("binOf: exact power-of-two edges (the no-float-log2 contract)") {
    import spark.implicits._
    val vals = Seq(0L, 1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L, (1L << 40))
    val got = vals.toDF("v").select(HistogramSketch.binOf(col("v")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 10L, 11L, 41L))
  }

  test("negative values raise instead of misbinning as bin 64 (review finding)") {
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq(5L, -1L).toDF("v").select(HistogramSketch.binOf(col("v"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("negative value")), msgs(ex).mkString("; "))
  }

  test("histograms merge losslessly: build(a ∪ b) == per-(key,bin) cnt-sum of build(a), build(b)") {
    val r = new graft.util.SplitMix64(3L)
    val all = (0 until 500).map(_ => (s"h${r.nextInt(4)}", r.nextInt(5000).toLong))
    val (a, b) = all.splitAt(200)
    def rows(d: DataFrame) = d.collect()
      .map(x => ((x.getString(0), x.getLong(1)), x.getLong(2))).toMap
    val whole = rows(HistogramSketch.build(df(all), "v", Seq("k")))
    val merged = (rows(HistogramSketch.build(df(a), "v", Seq("k"))).toSeq ++
        rows(HistogramSketch.build(df(b), "v", Seq("k"))).toSeq)
      .groupBy(_._1).map { case (kb, xs) => (kb, xs.map(_._2).sum) }
    assert(whole == merged)
  }

  test("quantileSummary == exact local quantiles at bin granularity") {
    val r = new graft.util.SplitMix64(9L)
    val rows = (0 until 600).map(_ => (s"h${r.nextInt(3)}", r.nextInt(4000).toLong))
    val got = HistogramSketch.quantileSummary(
        HistogramSketch.build(df(rows), "v", Seq("k")), Seq("k"))
      .collect().map(x => (x.getString(0),
        (x.getLong(1), x.getLong(3), x.getLong(4), x.getLong(5)))).toMap
    def bin(v: Long) = java.lang.Long.toBinaryString(v).length.toLong
    val want = rows.groupBy(_._1).map { case (k, vs) =>
      val bins = vs.map(x => bin(x._2)).sorted
      val n = bins.length
      // p50_bin = first bin where cumulative count reaches half —
      // exactly ceil(n/2)-th smallest bin; p90 likewise at 9n/10
      val p50 = bins((n + 1) / 2 - 1)
      val p90 = bins(((9 * n + 9) / 10) - 1)
      (k, (n.toLong, p50, p90, bins.max))
    }
    assert(got == want)
  }

  test("shardBounds: boundaries are deterministic and split at s/n crossings") {
    val rows = (0L until 256L).map(v => ("x", v)) // bins 1..8, 2^b sized
    val hist = HistogramSketch.build(df(rows), "v", Nil)
    val got = HistogramSketch.shardBounds(hist, 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    // cumulative: bin8 alone holds 128/256 — s=1 (64) crosses at bin 7
    // (cum 128? no: bins 1..8 cnt 2,2,4,8,16,32,64,128; cum at bin7 =
    // 128, at bin 6 = 64) — s=1 needs cum*4 >= 256 → first bin with
    // cum >= 64 = bin 6; s=2 → cum >= 128 = bin 7; s=3 → cum >= 192 = bin 8
    assert(got == Map(1L -> 6L, 2L -> 7L, 3L -> 8L))
    intercept[IllegalArgumentException] {
      HistogramSketch.shardBounds(hist, 1)
    }
  }
}
