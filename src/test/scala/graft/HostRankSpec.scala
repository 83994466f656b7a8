package graft

import graft.functions.HostRank
import graft.obs.StageListener
import graft.util.{Checkpoints, Sessions}
import org.scalatest.funsuite.AnyFunSuite

class HostRankSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private def rankDf(edges: Seq[(String, String, Double)], parts: Int) = {
    import spark.implicits._
    val df = spark.createDataset(edges).toDF("src", "dst", "weight").repartition(parts)
    HostRank.pageRank(df).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  /** Spark jobs started by `body`. */
  private def jobsOf(body: => Unit): Int =
    StageListener.record(spark.sparkContext)(body)._2.jobs.size

  test("3-cycle converges to uniform ranks") {
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
    val r = rankDf(edges, 3)
    assert(r.size == 3)
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-6))
  }

  test("distributed ranks equal the driver-side reference bit-for-bit") {
    val edges = Seq(
      ("hub", "a", 3.0), ("a", "hub", 1.0), ("b", "hub", 1.0),
      ("c", "hub", 2.0), ("hub", "b", 1.0), ("d", "a", 1.0))
    // 'c' and 'd' never receive; 'a','b','hub' form a cycle-ish core
    val expected = HostRank.pageRankLocal(edges)
    val got = rankDf(edges, 4)
    assert(got.keySet == expected.keySet)
    expected.foreach { case (h, v) =>
      assert(got(h) == v, s"host $h: ${got(h)} != $v") // exact, not approx
    }
  }

  test("partitioning-invariant: 1 partition == 7 partitions, bit-identical") {
    val edges = (0 until 40).map(i => (s"h${i % 8}", s"h${(i * 3) % 8}", 1.0 + (i % 3))) ++
      Seq(("sink1", "h0", 1.0), ("h1", "sink2", 2.0)) // sink2 is dangling
    val r1 = rankDf(edges, 1)
    val r7 = rankDf(edges, 7)
    assert(r1 == r7)
  }

  test("non-integral weights: partition-invariant AND bit-equal to local") {
    // fractional weights are where raw double sums drift with task
    // order; the entry-point quantization must make them exact too
    val edges = (0 until 60).map { i =>
      (s"w${i % 9}", s"w${(i * 5 + 2) % 9}", 0.1 + (i % 7) * 0.3 + i * 1e-4)
    } ++ Seq(("w0", "frac-sink", 0.7)) // dangling under fractional mass
    val expected = HostRank.pageRankLocal(edges)
    val r1 = rankDf(edges, 1)
    val r5 = rankDf(edges, 5)
    assert(r1 == r5)
    assert(r1.keySet == expected.keySet)
    expected.foreach { case (h, v) => assert(r1(h) == v, s"host $h") }
  }

  test("sub-quantum weights drop out; all-zero weights fail loudly") {
    import spark.implicits._
    // 1e-12 quantizes to zero at Q=1e9 -> its source becomes dangling
    val edges = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("b", "ghost", 1e-12))
    val r = rankDf(edges, 2)
    assert(r.keySet == Set("a", "b")) // ghost edge (and node) dropped
    val allZero = spark.createDataset(Seq(("x", "y", 1e-12)))
      .toDF("src", "dst", "weight")
    intercept[IllegalArgumentException] { HostRank.pageRank(allZero).collect() }
  }

  test("empty edge list fails loudly instead of producing Infinity ranks") {
    import spark.implicits._
    val empty = spark.emptyDataset[(String, String, Double)].toDF("src", "dst", "weight")
    intercept[IllegalArgumentException] { HostRank.pageRank(empty).collect() }
  }

  test("repeated invocations pin no cached plans") {
    // the assertion is on GLOBAL cache state; forked tests run
    // sequentially (no testForkedParallel), so clearing the shared
    // cache here is race-free — earlier suites' cached frames simply
    // recompute (and re-cache) on next use. This replaces the old
    // `assume`-cancel with a real assertion in the full-suite run.
    spark.catalog.clearCache()
    // RDD persists are invisible to the cache manager. Compared by id:
    // the ContextCleaner may release earlier suites' RDDs meanwhile,
    // which must not mask (or fake) a leak of this operator's own.
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq(("a", "b", 1.0), ("b", "a", 1.0))
    (1 to 3).foreach(_ => rankDf(edges, 2))
    assert(spark.sharedState.cacheManager.isEmpty, "cached plans leaked")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"persisted RDDs leaked: $leaked")
  }

  test("all hops run in one job: the job count does not grow with iters") {
    import spark.implicits._
    val edges = spark.createDataset(Seq(
      ("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("c", "d", 0.5)))
      .toDF("src", "dst", "weight")
    val jobs5 = jobsOf(HostRank.pageRank(edges, iters = 5).collect())
    val jobs10 = jobsOf(HostRank.pageRank(edges, iters = 10).collect())
    assert(jobs5 == jobs10, s"a per-hop action is back: $jobs5 jobs at 5 hops, $jobs10 at 10")
    assert(jobs5 <= 4, s"$jobs5 jobs: setup count + loop + collect should be 3")
  }

  test("stage listener: a groupBy count over 3 partitions records its shuffle stages") {
    val df = spark.range(0, 300, 1, 3).selectExpr("id % 7 AS k")
    val (rows, rec) = StageListener.record(spark.sparkContext)(df.groupBy("k").count().collect())
    assert(rows.length == 7)
    assert(rec.stages.size >= 2, s"stages: ${rec.stages}")
    assert(rec.stages.map(_.shuffleWriteBytes).sum > 0, s"stages: ${rec.stages}")
    rec.jobs.foreach { j =>
      assert(rec.stages.filter(_.jobId == j.id).map(_.tasks).sum == j.tasks, s"$rec")
    }
  }

  test("bit-identical at 1 and 7 shuffle partitions and in fleet (reliable checkpoint) mode") {
    val edges = (0 until 50).map { i =>
      (s"p${i % 11}", s"p${(i * 7 + 3) % 11}", 0.2 + (i % 5) * 0.35 + i * 1e-5)
    } ++ Seq(("p0", "sink", 0.9)) // dangling
    val expected = HostRank.pageRankLocal(edges)
    val partsKey = "spark.sql.shuffle.partitions"
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val partsBefore = spark.conf.get(partsKey)
    def ranksAt(parts: Int) = {
      spark.conf.set(partsKey, parts.toString)
      import spark.implicits._
      val df = spark.createDataset(edges).toDF("src", "dst", "weight")
      assert(HostRank.pageRank(df, iters = 1).rdd.getNumPartitions == parts)
      rankDf(edges, 3)
    }
    // a 1-byte advisory size spreads even this tiny graph over every
    // shuffle partition, so the 7-partition run really runs 7
    spark.conf.set(advisoryKey, "1")
    val (r1, r7) = try (ranksAt(1), ranksAt(7))
      finally { spark.conf.set(partsKey, partsBefore); spark.conf.unset(advisoryKey) }
    assert(r1 == r7)
    // fleet mode: 10 hops take reliable checkpoints after hops 4 and 8
    spark.conf.set(Checkpoints.ConfKey,
      java.nio.file.Files.createTempDirectory("hostrank_ckpt").toString)
    val fleet = try rankDf(edges, 3) finally spark.conf.unset(Checkpoints.ConfKey)
    assert(spark.conf.getOption(Checkpoints.ConfKey).isEmpty)
    assert(fleet == r1)
    assert(r1.keySet == expected.keySet)
    expected.foreach { case (h, v) => assert(r1(h) == v, s"host $h: ${r1(h)} != $v") }
  }

  test("dangling mass is redistributed: ranks still sum to ~1") {
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0)) // c dangling
    val r = rankDf(edges, 2)
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
    // c receives from b, b from a: rank(c) > rank(b) is false (b gets a's
    // full mass too); just assert the dangling node is not starved
    assert(r("c") > (1 - 0.85) / 3)
  }
}
