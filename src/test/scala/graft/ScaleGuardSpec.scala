package graft

import graft.functions.{TextSketch, TopK}
import graft.sources.Warc
import graft.util.Sessions
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-hazard guards from the round-1 verdict: bounded top-k instead of
  * per-query full sorts, LSH degenerate-bucket containment, IVF centroid
  * determinism under arbitrary partitioning, WARC per-record resilience. */
class ScaleGuardSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  test("TopK.perQuery matches the sort-based reference incl. tie-break") {
    import spark.implicits._
    val r = new graft.util.SplitMix64(42L)
    // deliberate score ties (quantized scores) to exercise the id tie-break
    val rows = (0 until 2000).map { i =>
      (i % 7L, i.toLong, (r.nextInt(50).toDouble / 10.0))
    }
    val df = rows.toDF("query_id", "id", "score").repartition(8)
    val got = TopK.perQuery(df, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val want = rows.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
      rs.sortBy { case (_, id, s) => (-s, id) }.take(5).zipWithIndex
        .map { case ((_, id, s), i) => (q, (i + 1).toLong, id, s) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
  }

  test("TopK ranks NULL and NaN scores exactly like the row_number window") {
    import spark.implicits._
    // Spark desc order: NaN first, then finite desc, then -Inf, NULL last.
    // r2 dropped NULL rows — a query with < k non-null candidates returned
    // fewer rows than the window baseline.
    val rows: Seq[(Long, Long, java.lang.Double)] = Seq(
      (1L, 10L, 0.5), (1L, 11L, null), (1L, 12L, Double.NaN),
      (1L, 13L, Double.NegativeInfinity), (1L, 14L, null),
      (2L, 20L, null), (2L, 21L, null))
    val df = rows.toDF("query_id", "id", "score").repartition(5)
    val got = TopK.perQuery(df, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = df.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("id"))))
      .filter(col("rank") <= 3)
      .select("query_id", "rank", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got.map(t => (t._1, t._2, t._3, t._4.map(d => if (d.isNaN) "NaN" else d.toString)))
      == want.map(t => (t._1, t._2, t._3, t._4.map(d => if (d.isNaN) "NaN" else d.toString))))
  }

  test("TopK result is invariant to input partitioning (merge correctness)") {
    import spark.implicits._
    val r = new graft.util.SplitMix64(7L)
    val rows = (0 until 3000).map(i => (i % 3L, i.toLong, r.nextInt(1000).toDouble))
    val a = TopK.perQuery(rows.toDF("query_id", "id", "score").repartition(1), 7)
      .collect().map(_.toString).sorted.toSeq
    val b = TopK.perQuery(rows.toDF("query_id", "id", "score").repartition(17), 7)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("LSH: mass exact-duplicates collapse to linear star pairs, no O(n^2)") {
    import spark.implicits._
    val n = 5000
    val dupText = "the same boilerplate page body repeated across the whole crawl " * 4
    val docs = ((0 until n).map(i => (i.toLong, dupText)) ++
      Seq((9000L, "a completely different document about spark partitioning and shuffles")))
      .toDF("doc_id", "text")
    val pairs = TextSketch.lshCandidatePairs(docs).collect()
    // linear: every dup pairs once with the min-id representative (doc 0)
    assert(pairs.length == n - 1)
    assert(pairs.forall(p => p.getLong(0) == 0L && p.getLong(2) == 100L))
    assert(pairs.map(_.getLong(1)).toSet == (1L until n.toLong).toSet)
  }

  test("LSH: oversized near-dup bucket degrades to star, output linear") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    // near-identical but NOT exact duplicates: unique suffix per doc
    val docs = (0 until 500).map(i => (i.toLong, s"$base unique$i")).toDF("doc_id", "text")
    val pairs = TextSketch.lshCandidatePairs(docs, minJaccardX100 = 50, maxBucket = 16)
      .collect()
    // all-pairs would be 124750; the star through each bucket's
    // global-min hub is <= n-1 per band-bucket
    assert(pairs.nonEmpty)
    assert(pairs.length <= 8 * 499)
    // hub = GLOBAL min of each bucket -> with these docs every bucket
    // contains doc 0, so every pair hangs off it
    assert(pairs.forall(_.getLong(0) == 0L))
  }

  test("LSH oversized-bucket output is invariant to input partitioning") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val rows = (0 until 300).map(i => (i.toLong, s"$base tail$i"))
    val a = TextSketch.lshCandidatePairs(rows.toDF("doc_id", "text").repartition(1),
      minJaccardX100 = 50, maxBucket = 16).collect().map(_.toString).sorted.toSeq
    val b = TextSketch.lshCandidatePairs(rows.toDF("doc_id", "text").repartition(13),
      minJaccardX100 = 50, maxBucket = 16).collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("TopK tolerates NULL and NaN scores (no encoder crash, Spark NaN order)") {
    import spark.implicits._
    val df = Seq[(Long, Long, java.lang.Double)](
      (1L, 10L, 5.0), (1L, 11L, null), (1L, 12L, Double.NaN), (1L, 13L, 7.0))
      .toDF("query_id", "id", "score")
    val got = TopK.perQuery(df, 3).collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (rank, id)
    // null dropped; NaN ranks FIRST (Spark sorts NaN above all doubles)
    assert(got.toSeq == Seq((1L, 12L), (2L, 13L), (3L, 10L)), got.toSeq)
  }

  test("LSH guard leaves small-bucket results identical to the unguarded shape") {
    import spark.implicits._
    // distinct near-dup pair + unrelated docs: classic candidate case
    val docs = Seq(
      (1L, "spark shuffle partition join aggregate broadcast skew salt adaptive query"),
      (2L, "spark shuffle partition join aggregate broadcast skew salt adaptive engine"),
      (3L, "entirely unrelated text about cooking pasta with tomatoes and basil leaves"))
      .toDF("doc_id", "text")
    val pairs = TextSketch.lshCandidatePairs(docs).collect()
    assert(pairs.map(p => (p.getLong(0), p.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("IVF centroids/results identical under 1 vs 13 input partitions") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = TextSketch.ivfTopK(emb.repartition(1)).collect().map(_.toString).toSeq
    val b = TextSketch.ivfTopK(emb.repartition(13)).collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("connected components: chains, cliques, singletons-by-absence") {
    import spark.implicits._
    // components: chain 1-2-3-4 (diameter 3 forces >1 iteration),
    // clique 10-11-12, pair 20-21; ids 30+ never appear (no edges -> no rows)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val labels = TextSketch.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: invariant to input partitioning") {
    import spark.implicits._
    val r = new graft.util.SplitMix64(5L)
    // random graph over 300 vertices, ~200 edges
    val edges = (0 until 200).map(_ => (r.nextInt(300).toLong, r.nextInt(300).toLong))
      .filter { case (a, b) => a != b }.toDF("doc_a", "doc_b")
    val a = TextSketch.connectedComponents(edges.repartition(1)).collect()
      .map(_.toString).sorted.toSeq
    val b = TextSketch.connectedComponents(edges.repartition(11)).collect()
      .map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("simhash64 expression: codegen path equals the kernel, stays in WSCG") {
    import spark.implicits._
    val texts = Seq("the quick brown fox", "", "一 二 三 mixed script",
      "a " * 200 + "long tail", "single")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.selectExpr("id", "simhash64(text) AS h").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == TextSketch.simhash64(t), s"text #$i")
    }
    // null stays null
    val nulls = Seq((0L, null: String)).toDF("id", "text")
      .selectExpr("simhash64(text) AS h").collect()
    assert(nulls.head.isNullAt(0))
    // the projection must stay inside whole-stage codegen: no
    // object-serialization operators in the plan (checked over a real
    // parquet scan — a local Seq relation folds to LocalTableScan and
    // never reaches codegen at all)
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("simhash64(text) AS h")
      .queryExecution.executedPlan.toString
    // "*(n)" is the whole-stage-codegen marker in the compact plan form
    assert(plan.contains("*(1) Project [simhash64expr"), plan)
    assert(!plan.contains("MapElements") && !plan.contains("DeserializeToObject"), plan)
    // and column pruning reaches the scan through the expression
    assert(plan.contains("ReadSchema: struct<text:string>"), plan)
  }

  test("persisted IVF index: identical results to in-session IVF, pruned scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    graft.functions.IvfIndex.build(emb, dir)
    val res = graft.functions.IvfIndex.query(spark, dir,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5))
    val fromIndex = res.select("query_id", "rank", "neighbor_id", "cos_x10000")
      .collect().map(_.toString).toSeq
    // same centroid fit (deterministic quantized Lloyd), same probes,
    // same scoring -> byte-identical to the in-session operator
    val inSession = TextSketch.ivfTopK(emb).collect().map(_.toString).toSeq
    assert(fromIndex == inSession)
    // the recall settings travel WITH the result (audit columns)
    val audit = res.select("n_probe", "n_cells").distinct().collect()
    assert(audit.length == 1 && audit.head.getInt(0) == 4 && audit.head.getInt(1) == 16)
    // partition pruning reaches the scan: the cells read are bounded by
    // the probed set, visible as PartitionFilters on `cell`
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val plan = graft.functions.IvfIndex.query(spark, dir, q)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") || plan.contains("cell IN"), plan)
  }

  test("IVF index staleness: in-place content change with same row count is detected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_stale").toString
    graft.functions.IvfIndex.build(emb, dir)
    assert(graft.functions.IvfIndex.isCurrent(spark, dir, emb))
    // mutate ONE vector, keep the row count — the r2 manifest (rows +
    // nCells only) silently served stale neighbors for exactly this
    val mutated = emb.as[(Long, Array[Float])]
      .map { case (id, v) =>
        if (id == 7L) (id, v.map(x => -x)) else (id, v)
      }.toDF("vec_id", "embedding")
    assert(mutated.count() == emb.count())
    assert(!graft.functions.IvfIndex.isCurrent(spark, dir, mutated))
    // params are part of the manifest too
    assert(!graft.functions.IvfIndex.isCurrent(spark, dir, emb, nCells = 8))
  }

  test("IVF index staleness: an empty input is not current (no NPE on its fingerprint)") {
    import spark.implicits._
    val emb = (0L until 40L)
      .map(i => (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 11).toFloat - 5f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_empty").toString
    graft.functions.IvfIndex.build(emb, dir)
    assert(graft.functions.IvfIndex.isCurrent(spark, dir, emb))
    // bit_xor over zero rows is NULL: the empty input must mismatch, not throw
    assert(!graft.functions.IvfIndex.isCurrent(spark, dir, emb.limit(0)))
  }

  test("IVF seeding survives a sparse id space (no dense-from-0 assumption)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val shifted = emb.withColumn("vec_id", col("vec_id") + 1000000L)
    // r2 seeded via filter(id < nCells): an id space starting above
    // nCells produced an EMPTY seed set, a degenerate index, and empty
    // query results with no error
    val dir = java.nio.file.Files.createTempDirectory("ivf_sparse").toString
    graft.functions.IvfIndex.build(shifted, dir)
    val got = graft.functions.IvfIndex.query(spark, dir,
      shifted.filter(col("vec_id") < 1000005L)).collect()
    assert(got.nonEmpty)
    // and the fit is id-translation-invariant: same neighbors modulo shift
    val baseDir = java.nio.file.Files.createTempDirectory("ivf_base").toString
    graft.functions.IvfIndex.build(emb, baseDir)
    val base = graft.functions.IvfIndex.query(spark, baseDir,
      emb.filter(col("vec_id") < 5L)).collect()
    val unshift = got.map(r => (r.getLong(0) - 1000000L, r.getLong(1),
      r.getLong(2) - 1000000L, r.getLong(3))).toSeq
    assert(unshift == base.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
  }

  test("WARC: one malformed record mid-file loses only itself") {
    val good1 = Warc.write(Seq(Warc.Record("https://one.example.com/", "2024-01-01T00:00:00Z",
      "text/html", "<p>first valid record body</p>".getBytes(UTF_8))))
    val bad = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://bad.example.com/\r\nContent-Length: NOT_A_NUMBER\r\n\r\noops"
      .getBytes(UTF_8)
    val good2 = Warc.write(Seq(Warc.Record("https://two.example.com/", "2024-02-02T00:00:00Z",
      "text/html", "<p>second valid record body</p>".getBytes(UTF_8))))
    val recs = Warc.records(good1 ++ bad ++ good2)
    assert(recs.map(_.url) == Vector("https://one.example.com/", "https://two.example.com/"))
  }

  test("WARC: gzip capacity estimate cannot overflow (Long-space clamp)") {
    // behavioral proxy for the >=512MiB overflow: a high-ratio gzip member
    // (1 MiB of zeros compresses ~1000x) still inflates fully
    val raw = new Array[Byte](1 << 20)
    val rec = Warc.write(Seq(Warc.Record("https://z.example.com/", "2024-03-03T00:00:00Z",
      "application/octet-stream", raw)))
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(rec); gz.close()
    val parsed = Warc.records(bos.toByteArray)
    assert(parsed.length == 1 && parsed.head.payload.length == raw.length)
  }
}
