package graft

import graft.functions.{DedupIndex, TextSketch}
import graft.util.Sessions
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DedupIndex delta-probe contract: probeDelta(new) must emit
  * EXACTLY the pairs of lshCandidatePairs(old ∪ new) touching at least
  * one new doc — including exact-dup stars spanning the ingest
  * boundary and the hub-star degrade of oversized buckets — while
  * never pairing old-vs-old. Plus the persisted-operator hygiene:
  * append == rebuild for the next probe, XOR-maintained staleness
  * manifest, kb partition pruning visible in the plan. */
class DedupIndexSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private def baseText(f: Int): Array[String] = {
    val r = new graft.util.SplitMix64(f * 77L + 5L)
    Array.fill(60)(s"w${r.nextInt(50)}")
  }

  /** family member: k=0 is the base; k>0 mutates 1-2 words. */
  private def variant(f: Int, k: Int): String = {
    val words = baseText(f)
    if (k > 0) {
      val r = new graft.util.SplitMix64(f * 991L + k)
      (0 to k % 2).foreach(m => words(r.nextInt(60)) = s"mut${f}_${k}_$m")
    }
    words.mkString(" ")
  }

  /** old ids < new1 ids < new2 ids (the monotone-ingest precondition).
    * Families 0..7 span all three ingests; exact dups planted across
    * the old/new boundary and within new1; family 9 is an oversized
    * near-identical cluster for the hub-star test; plus singletons. */
  private lazy val (oldDocs, new1Docs, new2Docs) = {
    val old = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val n1 = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val n2 = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    for (f <- 0 until 8; k <- 0 to 2) { old += ((id, variant(f, k))); id += 1 }
    for (f <- 9 to 9; k <- 0 until 8) { old += ((id, variant(f, k))); id += 1 }
    old += ((id, variant(0, 0))); id += 1 // exact dup inside old
    for (i <- 0 until 10) { old += ((id, s"unique old doc $i " + variant(20 + i, 0))); id += 1 }
    id = 1000L
    for (f <- 0 until 8; k <- 3 to 4) { n1 += ((id, variant(f, k))); id += 1 }
    for (k <- 8 until 11) { n1 += ((id, variant(9, k))); id += 1 }
    n1 += ((id, variant(0, 0))); id += 1 // exact dup vs OLD content
    n1 += ((id, "fresh delta text alpha beta")); id += 1
    n1 += ((id, "fresh delta text alpha beta")); id += 1 // exact dup WITHIN new1
    id = 2000L
    for (f <- 0 until 8) { n2 += ((id, variant(f, 5))); id += 1 }
    n2 += ((id, variant(0, 0))); id += 1 // exact dup vs old content again
    (old.toSeq, n1.toSeq, n2.toSeq)
  }

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text").repartition(5)
  }

  private def pairsOf(d: DataFrame): Set[(Long, Long, Long)] =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def fullTouching(all: Seq[(Long, String)], minId: Long, maxId: Long,
      maxBucket: Int = 1024): Set[(Long, Long, Long)] =
    pairsOf(TextSketch.lshCandidatePairs(df(all), 50, maxBucket)
      .filter((col("doc_a") >= minId && col("doc_a") < maxId) ||
        (col("doc_b") >= minId && col("doc_b") < maxId)))

  test("probeDelta == full-corpus pairs touching the delta") {
    val dir = Files.createTempDirectory("dedup_idx").toString
    DedupIndex.build(df(oldDocs), dir)
    assert(DedupIndex.isCurrent(dir, df(oldDocs)))
    val got = pairsOf(DedupIndex.probeDelta(spark, dir, df(new1Docs)))
    val want = fullTouching(oldDocs ++ new1Docs, 1000L, 2000L)
    assert(got == want)
    // non-vacuous: all four pair species must occur
    assert(want.exists { case (a, b, j) => j == 100 && a < 1000 && b >= 1000 },
      "no exact dup across the ingest boundary")
    assert(want.exists { case (a, b, j) => j == 100 && a >= 1000 && b >= 1000 },
      "no exact dup within the delta")
    assert(want.exists { case (a, b, j) => j < 100 && a < 1000 && b >= 1000 },
      "no near-dup across the ingest boundary")
    assert(want.exists { case (a, b, j) => j < 100 && a >= 1000 && b >= 1000 },
      "no near-dup within the delta")
    // and never old-vs-old
    assert(got.forall { case (a, b, _) => a >= 1000 || b >= 1000 })
  }

  test("append == rebuild: second delta probes against old ∪ new1") {
    val dir = Files.createTempDirectory("dedup_idx2").toString
    DedupIndex.build(df(oldDocs), dir)
    DedupIndex.append(spark, dir, df(new1Docs))
    assert(DedupIndex.isCurrent(dir, df(oldDocs ++ new1Docs)))
    assert(!DedupIndex.isCurrent(dir, df(oldDocs)))
    val got = pairsOf(DedupIndex.probeDelta(spark, dir, df(new2Docs)))
    val want = fullTouching(oldDocs ++ new1Docs ++ new2Docs, 2000L, 3000L)
    assert(got == want)
  }

  test("hub-star overflow parity at maxBucket=2") {
    val dir = Files.createTempDirectory("dedup_idx3").toString
    DedupIndex.build(df(oldDocs), dir)
    val got = pairsOf(DedupIndex.probeDelta(spark, dir, df(new1Docs),
      minJaccardX100 = 50, maxBucket = 2))
    val want = fullTouching(oldDocs ++ new1Docs, 1000L, 2000L, maxBucket = 2)
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("probe plan prunes bands partitions on kb") {
    val dir = Files.createTempDirectory("dedup_idx4").toString
    DedupIndex.build(df(oldDocs), dir)
    // materialize = false: the lazy plan is the inspectable artifact
    val plan = DedupIndex.probeDelta(spark, dir, df(new1Docs),
        materialize = false)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("kb"),
      s"no kb partition pruning in:\n$plan")
  }

  test("compact: probe results identical, one file per bucket, manifest intact") {
    val dir = Files.createTempDirectory("dedup_idx6").toString
    DedupIndex.build(df(oldDocs), dir)
    // several single-doc appends — the small-file accumulation pattern
    val singles = new1Docs.grouped(8).toSeq
    singles.foreach(s => DedupIndex.append(spark, dir, df(s)))
    val before = pairsOf(DedupIndex.probeDelta(spark, dir, df(new2Docs)))
    def bucketFiles(sub: String): Map[String, Int] = {
      val root = new java.io.File(s"$dir/$sub")
      root.listFiles().filter(_.isDirectory).map { d =>
        (d.getName, d.listFiles().count(_.getName.endsWith(".parquet")))
      }.toMap
    }
    assert(bucketFiles("bands").values.exists(_ > 1),
      "fixture must actually accumulate multiple files in a bucket")
    DedupIndex.compact(spark, dir)
    assert(bucketFiles("hashes").values.forall(_ == 1))
    assert(bucketFiles("bands").values.forall(_ == 1))
    // corpus unchanged: staleness manifest untouched, probe identical
    assert(DedupIndex.isCurrent(dir, df(oldDocs ++ new1Docs)))
    val after = pairsOf(DedupIndex.probeDelta(spark, dir, df(new2Docs)))
    assert(after == before)
    // and the compacted index still appends correctly
    DedupIndex.append(spark, dir, df(new2Docs))
    assert(DedupIndex.isCurrent(dir, df(oldDocs ++ new1Docs ++ new2Docs)))
  }

  test("truncated manifest makes the index stale instead of throwing") {
    val dir = Files.createTempDirectory("dedup_idx7").toString
    DedupIndex.build(df(oldDocs), dir)
    assert(DedupIndex.isCurrent(dir, df(oldDocs)))
    // what a reader can see of a manifest half-copied on a store
    // without atomic rename
    graft.util.FsText.write(spark.sparkContext.hadoopConfiguration,
      s"$dir/MANIFEST", """{"rows":1""")
    assert(!DedupIndex.isCurrent(dir, df(oldDocs)))
  }

  test("materialized probe releases its delta caches") {
    val dir = Files.createTempDirectory("dedup_idx5").toString
    DedupIndex.build(df(oldDocs), dir)
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = DedupIndex.probeDelta(spark, dir, df(new1Docs))
    assert(out.count() > 0)
    // the two delta persists are gone; only the localCheckpoint result
    // remains pinned (bounded by the pair set)
    val cached = spark.sparkContext.getPersistentRDDs.size - before
    assert(cached <= 1, s"leaked caches: $cached")
  }
}
