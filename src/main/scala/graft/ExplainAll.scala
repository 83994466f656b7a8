package graft

import graft.queries.Query
import graft.util.Sessions
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal

/** Dumps `explain("formatted")` for every declared query that has an
  * oracle or a plan note, then for the operators behind the scale claims,
  * to PLANS.md — the plan-review artifact (scan pruning, pushed filters,
  * broadcast joins, whole-stage codegen spans are checked per SURVEY.md §4). */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local(8)
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for oracle-checked and plan-noted queries\n\n")
    sb.append(s"Input: `$sfDir`. Generated by `graft.ExplainAll`; re-run after\n")
    sb.append("plan-affecting changes. Review points: ReadSchema column pruning,\n")
    sb.append("PushedFilters at the scan, BroadcastHashJoin for small dims,\n")
    sb.append("WholeStageCodegen span width, no unnecessary Exchange.\n")
    def section(name: String, note: String, artifact: => String): Unit =
      try {
        val text = artifact
        sb.append(s"\n## $name\n\n$note\n\n```\n$text```\n")
      } catch { case NonFatal(e) =>
        sb.append(s"\n## $name\n\nEXPLAIN FAILED: ${e.getMessage}\n")
      }
    def add(name: String, note: String, df: => org.apache.spark.sql.DataFrame): Unit =
      section(name, note, df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    Query.all.filter(q => q.oracle.isDefined || q.planNote.nonEmpty).sortBy(_.name)
      .foreach(q => add(q.name, q.planNote, q.build(spark, sfDir)))

    // ---- operator plans that are not a declared query's
    sb.append("\n# operator plans — the scale claims as reviewable artifacts\n")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    add("x08 lshCandidatePairs (operator form, unordered)",
      "Review point: NO global Sort anywhere — the candidate-pair set is " +
      "never totally ordered inside the operator (callers re-shuffle by " +
      "their own keys; sinks order at the edge). One Exchange on the " +
      "bucket key (band, key), buckets stream through a local " +
      "sortWithinPartitions.",
      graft.functions.TextSketch.lshCandidatePairs(docs))
    add("x19 connected components — one propagation hop",
      "Review point: ONE shuffle per hop (edge-label join + min " +
      "aggregate + left join back); labels are longs; the loop " +
      "checkpoint-truncates every 4th hop so this plan never grows.",
      {
        val pairs = graft.functions.TextSketch.lshCandidatePairs(docs)
          .limit(1000).select(col("doc_a"), col("doc_b"))
        val edges = pairs.unionByName(
            pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
          .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
          .distinct()
        val cur = edges.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("label"))
        graft.functions.TextSketch.ccOneHop(edges, cur)
      })
    add("x21 IvfIndex.query over the persisted index",
      "Review point: the index scan MUST carry PartitionFilters " +
      "[cell IN (...)] — a query reads nProbe/nCells of the data via " +
      "Catalyst partition pruning, no custom reader.",
      {
        val idx = s"${SparkEntry.SynthRoot}/ivf_index_plan"
        if (!graft.functions.IvfIndex.isCurrent(spark, idx, emb))
          graft.functions.IvfIndex.build(emb, idx)
        graft.functions.IvfIndex.query(spark, idx, emb.filter(col("vec_id") < 5))
      })
    add("x31 PostingsIndex.query over the persisted postings table",
      "Review point: the postings scan MUST carry PartitionFilters " +
      "[bucket IN (...)] — a query reads only the bucket partitions its " +
      "terms hash into, across all segments; tombstones anti-join " +
      "broadcast; df comes from the live rows (bounded by the query " +
      "terms' postings); query terms and corpus stats broadcast; the " +
      "only wide exchange is the bounded per-(query,doc) agg above the " +
      "ObjectHashAggregate top-k.",
      {
        val docsT = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val idx = s"${SparkEntry.SynthRoot}/postings_index_plan"
        if (!graft.functions.PostingsIndex.isCurrent(spark, idx, docsT))
          graft.functions.PostingsIndex.build(docsT, idx)
        val qt = Seq((1L, "spark", 1), (1L, "window", 2))
          .toDF("query_id", "term", "tidx")
        graft.functions.PostingsIndex.query(spark, idx, qt)
      })
    section("x23 HostRank — one PageRank power iteration (RDD lineage)",
      "Review point: this is RDD lineage, not a Catalyst plan — the loop " +
      "is planless. Each hop is ONE ShuffledRDD carrying the per-dst " +
      "contributions plus each map partition's dangling-mass partial " +
      "(addressed to every reducer), between two zipPartitions over the " +
      "co-partitioned node table; no per-hop action. All shuffled values " +
      "are LONGS (quantized), so the sums are exact under any partitioning. " +
      "The node-table subtree (the setup shuffles) prints once per " +
      "reference but runs once, in the node-count action.",
      {
        val edges = spark.createDataFrame(Seq(
          ("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0)))
          .toDF("src", "dst", "weight")
        graft.functions.HostRank.pageRank(edges, iters = 1).rdd.toDebugString + "\n"
      })
    add("x27 IVF+PQ queryCoded over the coded index",
      "Review point: the scan is the CODES table (16-byte binary codes, " +
      "never float vectors) with PartitionFilters [cell IN (...)] — a " +
      "query reads nProbe/nCells of a 16x-compressed table; scoring is " +
      "broadcast ADC tables inside a map, then the bounded per-query " +
      "aggregate.",
      {
        val idx = s"${SparkEntry.SynthRoot}/ivfpq_index_plan"
        if (!graft.functions.IvfIndex.isCurrentCoded(spark, idx, emb))
          graft.functions.IvfIndex.buildCoded(emb, idx)
        graft.functions.IvfIndex.queryCoded(spark, idx, emb.filter(col("vec_id") < 5))
      })
    add("x29 BPE — one merge-learning round (pair-count argmax)",
      "Review point: one flatMap to adjacent pairs (SerializeFromObject " +
      "map side), ONE Exchange on the pair key with a partial " +
      "HashAggregate below it (mega-pairs like (t,h) absorb map-side), " +
      "then TakeOrderedAndProject of 4 rows per accepted merge — the " +
      "vocabulary itself is never collected or globally sorted. This is " +
      "Bpe.rankedPairs, the plan learnMerges runs each round (x29 accepts " +
      "one merge a round).",
      graft.functions.Bpe.rankedPairs(
        graft.functions.Bpe.symbols(graft.functions.Bpe.vocabulary(docs)), 1).toDF())
    // the micro pages table, the streaming operators' source
    lazy val microPages = s"${SparkEntry.microTables(spark)._1}/data/*.parquet"
    add("x25 dedupStreamTtl — TTL-bounded stateful streaming plan",
      "Review point: FlatMapGroupsWithState keyed by the content hash " +
      "with ProcessingTimeTimeout (state O(hashes within the TTL " +
      "window)); only (hash, url, ts, bytes) rows reach the stateful " +
      "Exchange — payloads are hashed and DROPPED map-side in docSigs, " +
      "so the state store and shuffle never see page bytes. Streaming " +
      "relations appear as placeholders pre-execution.",
      {
        graft.streaming.StreamingExtract.dedupStreamTtl(
          graft.streaming.StreamingExtract.docSigs(spark, microPages),
          ttlMs = 3600000L).toDF()
      })
    add("x33 DedupIndex.probeDelta over the persisted band index",
      "Review point: the bands scan MUST carry PartitionFilters " +
      "[kb IN (...)] (partition pruning to the delta's key buckets), " +
      "then a broadcast LEFT-SEMI join on the delta's exact (band, key) " +
      "set — old rows in buckets the delta never touches are neither " +
      "read nor paired; the pairing Exchange is keyed (band, key) with " +
      "a LOCAL sortWithinPartitions, no global sort; old-vs-old pairs " +
      "are structurally impossible (the is-new filter inside the " +
      "streaming bucket iterator).",
      {
        val docsT = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val idx = s"${SparkEntry.SynthRoot}/dedup_index_plan"
        val old = docsT.filter(col("doc_id") % 5 =!= 0)
        if (!graft.functions.DedupIndex.isCurrent(idx, old))
          graft.functions.DedupIndex.build(old, idx)
        graft.functions.DedupIndex.probeDelta(spark, idx,
          docsT.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
          materialize = false) // lazy: the plan IS the artifact here
      })
    add("x34 stream-stream interval join (fetches x change signals)",
      "Review point: StreamingSymmetricHashJoin keyed by host with " +
      "event-time range bounds on BOTH sides — the watermark + interval " +
      "is what lets the join evict buffered rows (state bounded by the " +
      "horizon), the difference between this and an unbounded " +
      "stream-stream join. Streaming relations appear as placeholders " +
      "pre-execution.",
      {
        val (f, c) = graft.streaming.StreamingExtract.fetchAndChangeStreams(spark, microPages)
        graft.streaming.StreamingExtract.fetchesNearChanges(f, c)
      })
    add("Funnel.matchStages — reusable ordered-sequence matcher (q74's operator)",
      "Review point: ONE Exchange — events aggregate to per-key arrays " +
      "(ObjectHashAggregate collect_list, key cardinality grows with " +
      "data); every stage is a correlated higher-order projection over " +
      "the array in the SAME WholeStageCodegen span — no per-stage " +
      "re-scan or join of the event table (the oracle's k-pass join " +
      "cascade collapsed into one pass).",
      {
        val ev = spark.read.parquet(s"$sfDir/events.parquet")
          .select(col("user_id"),
            org.apache.spark.sql.functions.unix_millis(
              col("ts").cast("timestamp")).as("tsm"),
            col("event_type"))
        graft.functions.Funnel.matchStages(ev, Query.purchaseFunnel)
      })
    add("x36 funnelStream — continuous funnel state plan",
      "Review point: MapGroupsWithState keyed by the funnel key with " +
      "NoTimeout; only (u, tsm, ty) triples of STAGE-RELEVANT types " +
      "reach the stateful Exchange (irrelevant events filtered " +
      "map-side, before the shuffle), so state and shuffle are bounded " +
      "by each key's own matching activity. Streaming relations appear " +
      "as placeholders pre-execution.",
      {
        val ev = graft.streaming.StreamingExtract.pagesReader(spark).parquet(microPages)
          .select(org.apache.spark.sql.functions.xxhash64(col("url")).as("u"),
            org.apache.spark.sql.functions.unix_millis(col("warc_ts")).as("tsm"),
            org.apache.spark.sql.functions.lit("view").as("ty"))
          .as[graft.streaming.FunnelEvent]
        graft.streaming.StreamingExtract.funnelStream(ev,
          Seq(graft.functions.Funnel.Stage("view", "view"))).toDF()
      })
    add("x37 scdStream — continuous SCD2 maintenance state plan",
      "Review point: MapGroupsWithState keyed by url with NoTimeout; " +
      "only (url, snap, h, deleted) CDC rows reach the stateful " +
      "Exchange — state per url is its observation set (bounded by " +
      "snapshots observed, never corpus-sized), re-intervalized per " +
      "batch. Streaming relations appear as placeholders pre-execution.",
      {
        val ev = graft.streaming.StreamingExtract.pagesReader(spark).parquet(microPages)
          .select(col("url"),
            org.apache.spark.sql.functions.unix_millis(col("warc_ts")).as("snap"),
            org.apache.spark.sql.functions.md5(col("html")).as("h"),
            org.apache.spark.sql.functions.lit(false).as("deleted"))
          .as[graft.streaming.ScdEvent]
        graft.streaming.StreamingExtract.scdStream(ev).toDF()
      })
    add("RangeJoinRewrite — optimizer rule output (q69's plan, rule-driven)",
      "Review point: with the rule enabled, the natural theta predicate " +
      "x >= lo AND x < hi plans as an EQUI-join (SortMergeJoin/" +
      "ShuffledHashJoin on __rj_bucket with the range residual) instead " +
      "of BroadcastNestedLoopJoin — the rewrite happens inside Catalyst, " +
      "no operator call in user code.",
      {
        spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "64")
        val ranges = spark.range(0, 40).toDF("r")
          .withColumn("lo", org.apache.spark.sql.functions.expr("r * r * 25"))
          .withColumn("hi", org.apache.spark.sql.functions.expr("(r + 1) * (r + 1) * 25"))
        val probe = docs.select(col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
        val out = probe.join(ranges,
          probe("n_chars") >= ranges("lo") && probe("n_chars") < ranges("hi"))
        out
      })
    spark.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
    val out = java.nio.file.Paths.get("PLANS.md").toAbsolutePath
    java.nio.file.Files.writeString(out, mask(sb.toString, sfDir))
    println(s"wrote $out")
    spark.stop()
  }

  /** `plans` with what changes from run to run masked (expression, plan
    * and RDD ids, lambda classes, identity hash codes, run ids, the input
    * and working directories, the file count of a file index, which
    * differs between builds of the synth cache, lambda variable numbers,
    * which a JVM-wide counter hands out, and a broadcast stage's size,
    * which follows the heap through the Tungsten page size), so two
    * regenerations differ only where a plan changed. */
  private[graft] def mask(plans: String, sfDir: String): String = {
    def abs(p: String) = java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    val cwd = abs("")
    val paths = plans.replace("file:" + abs(sfDir), "file:<input>").replace("file:" + cwd, "file:<cwd>")
      .replace(cwd + "/", "<cwd>/")
    Seq("""#\d+""" -> "#N", """plan_id=\d+""" -> "plan_id=N", """(RDD\d?)\[\d+\]""" -> "$1[N]",
      """\$\$Lambda[$/0-9a-fx]*@[0-9a-f]+""" -> "\\$\\$Lambda", """([A-Z][\w$]*)@[0-9a-f]{1,8}\b""" -> "$1@H",
      """\b[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}\b""" -> "<uuid>",
      """, \.\.\. \d+ entries\]""" -> ", ... N entries]", """(lambda \w+?)_\d+#N""" -> "$1_N#N",
      """(BroadcastQueryStage \(\d+\), Statistics\(sizeInBytes=)[^,)]+""" -> "$1N")
      .foldLeft(paths) { case (t, (re, to)) => t.replaceAll(re, to) }
  }
}
