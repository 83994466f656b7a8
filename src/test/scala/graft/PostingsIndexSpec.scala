package graft

import graft.functions.PostingsIndex
import graft.util.Sessions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted-postings contract: index-served scores equal the direct
  * q44 scan path bit-for-bit, bucket partition pruning reaches the
  * scan, and the staleness manifest detects in-place corpus changes. */
class PostingsIndexSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private val sfDir = "/root/testdata/sf0.001"

  test("index path == direct q44 path, bit-for-bit (shared scoring tree)") {
    val direct = SparkEntry.queries("q44_bm25_topk")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("postings_idx").toString
    PostingsIndex.build(docs, dir)
    import spark.implicits._
    val queryTerms = Seq((1L, "spark", 1), (1L, "window", 2),
      (2L, "merge", 1), (2L, "key", 2), (3L, "vector", 1), (3L, "batch", 2))
      .toDF("query_id", "term", "tidx")
    val served = PostingsIndex.query(spark, dir, queryTerms)
      .select("query_id", "rank", "doc_id", "score_x1e6")
      .collect().map(_.toString).toSeq
    assert(served == direct)
  }

  test("query scans only the buckets its terms hash into (pruned scan)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("postings_prune").toString
    PostingsIndex.build(docs, dir)
    import spark.implicits._
    val qt = Seq((1L, "spark", 1), (1L, "window", 2)).toDF("query_id", "term", "tidx")
    val res = PostingsIndex.query(spark, dir, qt)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket#") ||
      plan.contains("bucket IN"), plan)
    // the audit columns publish the pruning that actually happened
    val audit = res.select("n_buckets", "n_buckets_scanned").distinct().collect()
    assert(audit.length == 1)
    assert(audit.head.getInt(0) == 32 && audit.head.getInt(1) <= 2)
  }

  test("staleness: in-place text change with same row count is detected") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "c d e"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("postings_stale").toString
    PostingsIndex.build(docs, dir)
    assert(PostingsIndex.isCurrent(spark, dir, docs))
    val mutated = Seq((1L, "a b c"), (2L, "b c CHANGED"), (3L, "c d e"))
      .toDF("doc_id", "text")
    assert(mutated.count() == docs.count())
    assert(!PostingsIndex.isCurrent(spark, dir, mutated))
    // params are part of the manifest too
    assert(!PostingsIndex.isCurrent(spark, dir, docs, nBuckets = 8))
  }

  test("upsert == full rebuild, bit-for-bit (segments, tombstones, live df)") {
    import spark.implicits._
    val snapA = Seq(
      (1L, "spark window merge"), (2L, "merge key join"),
      (3L, "vector batch spark"), (4L, "key window batch"),
      (5L, "spark spark merge")).toDF("doc_id", "text")
    // delta: doc 2 changes, doc 4 removed, doc 6 added (the q42 classes)
    val changedOld = snapA.filter(col("doc_id") === 2L)
    val removed = snapA.filter(col("doc_id") === 4L)
    val changedNew = Seq((2L, "merge key join updated spark")).toDF("doc_id", "text")
    val added = Seq((6L, "new window vector")).toDF("doc_id", "text")
    val snapB = snapA.filter(!col("doc_id").isin(2L, 4L))
      .unionByName(changedNew).unionByName(added)
    val qt = Seq((1L, "spark", 1), (1L, "window", 2),
      (2L, "merge", 1), (2L, "key", 2)).toDF("query_id", "term", "tidx")
    val incDir = java.nio.file.Files.createTempDirectory("postings_inc").toString
    PostingsIndex.build(snapA, incDir)
    PostingsIndex.upsert(incDir,
      changedOld.unionByName(removed), changedNew.unionByName(added))
    val fullDir = java.nio.file.Files.createTempDirectory("postings_full").toString
    PostingsIndex.build(snapB, fullDir)
    def res(d: String) = PostingsIndex.query(spark, d, qt)
      .select("query_id", "rank", "doc_id", "score_x1e6")
      .collect().map(_.toString).toSeq
    assert(res(incDir) == res(fullDir))
    // the incrementally-maintained manifest equals the FULL new corpus's
    // (rows ± counts, fingerprint XOR) — no drift
    assert(PostingsIndex.isCurrent(spark, incDir, snapB))
    assert(!PostingsIndex.isCurrent(spark, incDir, snapA))
    // audit: the upserted index reports its segment count
    val segs = PostingsIndex.query(spark, incDir, qt)
      .select("n_segs").distinct().collect()
    assert(segs.length == 1 && segs.head.getInt(0) == 2)
  }

  test("a doc changed twice: only the newest segment's postings survive") {
    import spark.implicits._
    val v1 = Seq((1L, "alpha beta"), (2L, "alpha zeta")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("postings_twice").toString
    PostingsIndex.build(v1, dir)
    val v2row = Seq((1L, "alpha gamma")).toDF("doc_id", "text")
    PostingsIndex.upsert(dir, v1.filter(col("doc_id") === 1L), v2row)
    val v3row = Seq((1L, "alpha delta")).toDF("doc_id", "text")
    PostingsIndex.upsert(dir, v2row, v3row)
    def hits(term: String) = PostingsIndex.query(spark, dir,
        Seq((1L, term, 1)).toDF("query_id", "term", "tidx"))
      .collect().map(_.getLong(2)).toSet
    assert(hits("delta") == Set(1L)) // newest text serves
    assert(hits("beta").isEmpty)     // seg-0 postings tombstoned
    assert(hits("gamma").isEmpty)    // seg-1 postings tombstoned by seg 2
    assert(hits("alpha") == Set(1L, 2L)) // untouched doc 2 still live
    val v3 = Seq((1L, "alpha delta"), (2L, "alpha zeta")).toDF("doc_id", "text")
    assert(PostingsIndex.isCurrent(spark, dir, v3))
  }

  test("compact merges segments; results and manifest are unchanged") {
    import spark.implicits._
    val v1 = Seq((1L, "alpha beta"), (2L, "alpha zeta"), (3L, "beta zeta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("postings_compact").toString
    PostingsIndex.build(v1, dir)
    val v2row = Seq((1L, "alpha gamma")).toDF("doc_id", "text")
    PostingsIndex.upsert(dir, v1.filter(col("doc_id") === 1L), v2row)
    val added = Seq((4L, "gamma beta")).toDF("doc_id", "text")
    // a pure-addition delta: the old side is empty
    PostingsIndex.upsert(dir, Seq.empty[(Long, String)].toDF("doc_id", "text"),
      added)
    val qt = Seq((1L, "alpha", 1), (1L, "beta", 2), (2L, "gamma", 1),
      (2L, "zeta", 2)).toDF("query_id", "term", "tidx")
    def res() = PostingsIndex.query(spark, dir, qt)
      .select("query_id", "rank", "doc_id", "score_x1e6")
      .collect().map(_.toString).toSeq
    val before = res()
    PostingsIndex.compact(spark, dir)
    assert(res() == before)
    // one segment remains; the corpus — hence the manifest — is unchanged
    val segs = PostingsIndex.query(spark, dir, qt)
      .select("n_segs").distinct().collect()
    assert(segs.length == 1 && segs.head.getInt(0) == 1)
    val v3 = Seq((1L, "alpha gamma"), (2L, "alpha zeta"), (3L, "beta zeta"),
      (4L, "gamma beta")).toDF("doc_id", "text")
    assert(PostingsIndex.isCurrent(spark, dir, v3))
    // the lifecycle continues: an upsert after compact still works
    PostingsIndex.upsert(dir, v3.filter(col("doc_id") === 3L),
      Seq((3L, "beta beta")).toDF("doc_id", "text"))
    val v4 = Seq((1L, "alpha gamma"), (2L, "alpha zeta"), (3L, "beta beta"),
      (4L, "gamma beta")).toDF("doc_id", "text")
    assert(PostingsIndex.isCurrent(spark, dir, v4))
  }

  test("build is partitioning-invariant: 1 vs 8 input partitions serve identically") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, s"alpha w$i beta ${if (i % 3 == 0) "gamma" else "delta"}"))
      .toDF("doc_id", "text")
    val qt = Seq((1L, "alpha", 1), (1L, "gamma", 2), (2L, "beta", 1),
      (2L, "delta", 2)).toDF("query_id", "term", "tidx")
    def serve(parts: Int): Seq[String] = {
      val dir = java.nio.file.Files.createTempDirectory(s"postings_p$parts").toString
      PostingsIndex.build(docs.repartition(parts), dir)
      PostingsIndex.query(spark, dir, qt)
        .select("query_id", "rank", "doc_id", "score_x1e6")
        .collect().map(_.toString).toSeq
    }
    assert(serve(1) == serve(8))
  }

  test("query terms absent from the corpus contribute nothing, never fail") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma alpha"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("postings_oov").toString
    PostingsIndex.build(docs, dir)
    val qt = Seq((1L, "alpha", 1), (1L, "zzz_not_in_corpus", 2))
      .toDF("query_id", "term", "tidx")
    val rows = PostingsIndex.query(spark, dir, qt, k = 3).collect()
    // alpha appears in docs 1 and 3; the OOV term adds no candidates
    assert(rows.map(_.getLong(2)).toSet == Set(1L, 3L))
  }
}
