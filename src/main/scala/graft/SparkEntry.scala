package graft

import graft.extract.ExtractMode
import graft.gen.SynthCorpus
import graft.icelite.IceLite
import graft.pipeline.{Metrics, Pipeline, Render}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §5, §7): one `queries` entry per
  * implemented operator family; `oracleSql` holds the DuckDB-equivalent
  * SQL for every relationally-expressible query. Column names are
  * aliased identically on both sides (the driver hash-compares values
  * after sorting columns by name).
  *
  * Oracle-parity discipline for floats: aggregates are either integer
  * counts/sums or per-row `floor(x * scale)` before an integer sum —
  * never a float aggregate whose last-ulp could differ between engines.
  */
object SparkEntry {

  // ------------------------------------------------------- synth corpora

  /** Synth corpora and index caches: `target/synth` under the working
    * directory (the checkout, for sbt's forked `test` and `runMain`). */
  val SynthRoot: String = new java.io.File("target/synth").getAbsolutePath
  final val MicroDocs = 400L

  /** Micro pages+golden tables, IceLite-committed once per JVM/disk. */
  def microTables(spark: SparkSession): (String, String) =
    SynthCorpus.ensure(spark, MicroDocs, s"$SynthRoot/micro")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The deterministic 4-snapshot crawl history shared by q77 (batch
    * SCD2 intervalization) and x37 (streaming SCD2 maintenance — the
    * spec pins x37 == q77, so both MUST synthesize identical
    * snapshots): (url, lang, snap, h); a url's content bumps its
    * version at snapshot s iff (doc_id + s) % 3 == 0, %13 urls are
    * deleted from snapshot 2 on. */
  private def scd2Snapshots(s: SparkSession, dir: String): DataFrame = {
    val a0 = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("source"), col("text"))
    a0.select(col("doc_id"), col("lang"), col("source"), col("text"),
        explode(sequence(lit(0L), lit(3L))).as("snap"))
      .filter(!(col("doc_id") % 13 === 0 && col("snap") >= 2))
      // first snapshot whose change-trigger fires: m in 1..3 with
      // (doc_id + m) % 3 == 0; version at snap = #fires in 1..snap
      .withColumn("m", when((lit(3) - col("doc_id") % 3) % 3 === 0, lit(3L))
        .otherwise((lit(3) - col("doc_id") % 3) % 3))
      .withColumn("ver", when(col("snap") >= col("m"),
        expr("(snap - m) div 3") + 1L).otherwise(lit(0L)))
      .select(
        concat(lit("https://"), col("source"), lit(".example.com/p"),
          col("doc_id").cast("string")).as("url"),
        col("lang"), col("snap"),
        md5(concat(coalesce(col("text"), lit("")), lit("#v"),
          col("ver").cast("string")).cast("binary")).as("h"),
        col("doc_id"))
  }

  /** Flagship: full multi-mode extraction of the micro corpus joined
    * against golden with a byte-identity verdict per url. */
  def entry(spark: SparkSession): DataFrame = {
    val (pagesDir, goldenDir) = microTables(spark)
    val pages = IceLite.read(spark, pagesDir)
    val golden = IceLite.read(spark, goldenDir)
    goldenMatches(spark, pages, golden)
  }

  /** All-mode golden evaluation (J1): extract each fixture with its own
    * mode, reassemble multipage, inner-join golden (broadcast — fixture
    * side is small), compare bytes. */
  def goldenMatches(spark: SparkSession, pages: DataFrame, golden: DataFrame): DataFrame = {
    val single = golden.filter(col("mode") =!= "multipage")
      .join(pages, Seq("url"))
      .select(col("url"), col("warc_ts"), col("html"), col("mode"), col("mode_args"))
    val extractedSingle = Pipeline.extractWithModes(single).toDF()
      .select(col("url"), col("mode"), col("text"), col("status"))
    val parts = Pipeline.extract(
      pages.filter(col("url").contains("?part=")), ExtractMode.Plain).toDF()
    val multi = Pipeline.reassembleMultiPage(parts)
      .select(col("url"), lit("multipage").as("mode"), col("text"), lit("ok").as("status"))
    val extracted = extractedSingle.unionByName(multi)
    extracted.join(broadcast(golden.select(col("url"), col("mode"), col("expected_text"))),
        Seq("url", "mode"))
      .select(col("url"), col("mode"), col("status"),
        (encode(col("text"), "UTF-8") === col("expected_text")).as("matches"),
        length(col("text")).as("out_chars"))
      .orderBy("url", "mode")
  }

  // ---------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational / eval stages (oracle-checked) ----
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long")).as("revenue_cents"),
          sum(floor(col("l_discount") * 10000).cast("long")).as("disc_bp"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_nation_revenue" -> ((s, dir) => {
      // r6 note: a pre-aggregate of orders per custkey before the join
      // was tried and REVERTED — customer is broadcast-joined already
      // (no shuffle touches orders), so the pre-agg only added an
      // exchange; measured 0.53 s → 0.74 s. The broadcast-join + one
      // partial-agged exchange below is already the minimal shape.
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      orders.join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("total_cents"))
        .orderBy("n_name")
    }),
    "q03_anti_join_resume" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      cust.join(orders.filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_no_order"),
          sum(floor(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
        .orderBy("c_mktsegment")
    }),
    "q04_union_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val a = docs.filter(col("lang") === "en")
      val b = docs.filter(col("lang") =!= "en")
      a.unionByName(b)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    }),
    "q05_first_event" -> ((s, dir) => {
      // r6 note: a min(struct(ts,event_id,event_type)) aggregate was
      // tried and REVERTED — min over a struct plans as SortAggregate
      // (sorts on both sides of the exchange), while this window form
      // gets WindowGroupLimit pushdown (rank<=1 applied map-side
      // BEFORE the shuffle, Spark 3.5+), which is already the
      // aggregate-before-shuffle shape.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_first"))
        .orderBy("event_type")
    }),
    "q06_edit_distance" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d1 = docs.select(col("doc_id"), col("lang"), substring(col("text"), 1, 64).as("t1"))
      val d2 = docs.select((col("doc_id") - 1).as("doc_id"), substring(col("text"), 1, 64).as("t2"))
      d1.join(d2, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(levenshtein(col("t1"), col("t2"))).cast("long").as("sum_dist"),
          count(lit(1)).as("n_pairs"))
        .orderBy("lang")
    }),
    "q07_category_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.withColumn("category",
          when(col("text").contains("\\begin{tabular}"), "table")
            .when(col("text").contains("\\(") || col("text").contains("\\["), "math")
            .otherwise("text"))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("category")
    }),
    "q08_token_prf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("lang"),
          array_distinct(split(substring(col("text"), lit(1),
            floor(col("n_chars") / 2).cast("int")), " ")).as("hyp"),
          array_distinct(split(col("text"), " ")).as("ref"))
        .select(col("lang"),
          size(array_intersect(col("ref"), col("hyp"))).cast("long").as("inter"),
          size(col("ref")).cast("long").as("nref"),
          size(col("hyp")).cast("long").as("nhyp"))
        .groupBy(col("lang"))
        .agg(sum(col("inter")).as("sum_inter"), sum(col("nref")).as("sum_ref"),
          sum(col("nhyp")).as("sum_hyp"))
        .orderBy("lang")
    }),
    "q09_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique"))
        .orderBy("lang")
    }),
    "q10_minhash_band" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val shingled = docs
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(0), lit(1))).as("b"),
          col("text"))
        .select(col("doc_id"), col("lang"), col("b"),
          explode(sequence(lit(1), greatest(length(col("text")) - 7, lit(1)), lit(7))).as("i"),
          col("text"))
        .select(col("doc_id"), col("lang"), col("b"),
          md5(concat(col("b").cast("string"), substring(col("text"), col("i"), lit(8)))
            .cast("binary")).as("h"))
      val sigs = shingled.groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(min(col("h")).as("sig"))
      val buckets = sigs.groupBy(col("b"), col("sig"))
        .agg(count(lit(1)).as("cnt"))
      buckets.groupBy(col("b").cast("long").as("b"))
        .agg(count(lit(1)).as("n_buckets"),
          sum((col("cnt") * (col("cnt") - 1) / 2).cast("long")).as("cand_pairs"))
        .orderBy("b")
    }),
    "q11_filename_routing" -> ((s, dir) => {
      // P12: the reference's filename routing (append extension, zero-pad
      // numeric ids — eval_GOT_ocr.py:179-184 zfill) as concat/lpad/printf
      // built-ins; value-compared verbatim against the oracle.
      t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          concat(col("source"), lit("/"),
            lpad(col("doc_id").cast("string"), 9, "0"), lit(".jpg")).as("filename"),
          format_string("%s_%05d", col("lang"), col("doc_id")).as("tag"))
        .orderBy("doc_id")
    }),
    "q12_ngram_jaccard" -> ((s, dir) => {
      // r6: trigrams via the codegen word_ngrams expression (one fused
      // loop) instead of the interpreted transform/element_at lambda;
      // size<3 yields an empty gram array in both forms.
      graft.functions.WordNgrams.register(s)
      val docs = t(s, dir, "documents")
      val grams = docs.select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("lang"),
          array_distinct(expr("word_ngrams(w, 3)")).as("g"))
      val a = grams.select(col("doc_id"), col("lang"), col("g").as("ga"))
      val b = grams.select((col("doc_id") - 1).as("doc_id"), col("g").as("gb"))
      a.join(b, Seq("doc_id"))
        .select(col("lang"),
          floor(lit(1000.0) * size(array_intersect(col("ga"), col("gb"))) /
            greatest(size(array_distinct(concat(col("ga"), col("gb")))), lit(1)))
            .cast("long").as("jacc_x1000"))
        .groupBy(col("lang"))
        .agg(sum(col("jacc_x1000")).as("sum_jacc_x1000"), count(lit(1)).as("n_pairs"))
        .orderBy("lang")
    }),
    "q13_cosine_topk" -> ((s, dir) => {
      // r6: scored by the native codegen CosineSim expression (one
      // fused loop, no per-row intermediate arrays) instead of the
      // interpreted aggregate(zip_with(...)) composition. Bit-identical
      // to the old form: CosineSim accumulates dot/na/nb over the
      // float-widened doubles in the same ascending index order and
      // divides by sqrt(na)*sqrt(nb) through the same expression shape
      // — q21_cosine_native carries the IDENTICAL oracle SQL and has
      // been value+hash green against it since r2.
      graft.functions.CosineSim.register(s)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("id"),
          expr("cosine_sim(qv, embedding)").as("score"))
      // bounded top-k aggregate (map-side partial agg, no per-query full
      // sort) — value-identical to the oracle's row_number window because
      // the tie-break (score desc, id asc) matches
      graft.functions.TopK.perQuery(scored, 5)
        .select(col("query_id"), col("rank"), col("id").as("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    "q14_langid" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.withColumn("predicted",
          when(col("text").rlike("[一-龥]"), "zh")
            .when((length(col("text")) - length(replace(col("text"), lit(" the "), lit("")))) >= 10, "en")
            .otherwise("other"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),
    "q15_quality_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          (length(col("text")) - length(replace(col("text"), lit("."), lit("")))).cast("long").as("n_punct"),
          ((length(col("text")) - length(replace(col("text"), lit(" the "), lit(" ")))) / 4).cast("long").as("n_the"),
          col("n_chars"))
        .groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("sum_tokens"), sum(col("n_punct")).as("sum_punct"),
          sum(col("n_the")).as("sum_the"), sum(col("n_chars")).as("sum_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    }),
    "q16_token_count" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("lang"),
          size(split(col("text"), "\\s+")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
            .cast("long").as("bpeish_tokens"))
        .groupBy(col("lang"))
        .agg(sum(col("ws_tokens")).as("sum_ws"), sum(col("bpeish_tokens")).as("sum_bpeish"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),
    "q17_hourly_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("value_cents"))
        .orderBy("hour", "event_type")
    }),

    "q18_cube_docs" -> ((s, dir) => {
      t(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("sum_chars"))
        .orderBy("lang", "source")
    }),
    "q19_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .filter(col("user_id") < 10)
        .select(col("user_id"), col("event_id"),
          sum(floor(col("value") * 100).cast("long")).over(w).as("running_cents"))
        .orderBy("user_id", "event_id")
    }),
    "q20_segment_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long")).as("revenue_cents"))
        .orderBy("c_mktsegment")
    }),
    "q21_cosine_native" -> ((s, dir) => {
      // same semantics as q13 but scored by the native codegen
      // CosineSim expression instead of aggregate(zip_with(...))
      graft.functions.CosineSim.register(s)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("id"),
          expr("cosine_sim(qv, embedding)").as("score"))
      graft.functions.TopK.perQuery(scored, 5)
        .select(col("query_id"), col("rank"), col("id").as("neighbor_id"))
        .orderBy("query_id", "rank")
    }),

    "q22_embed_neardup" -> ((s, dir) => {
      // embedding-cosine near-duplicate pairs (dedup family, SURVEY
      // training-data ops). Brute-force pairwise here is the ORACLE
      // semantics; the 10^9-vector scale path is the LSH-bucketed
      // variant (x10_ann_lsh): hyperplane-bucket join, then this same
      // cosine test only within buckets.
      // The natural corpus has max pairwise cos ~0.6 (random 64-dim), so
      // a 0.92 gate over raw data is vacuous; we plant 50 exact-duplicate
      // vectors (id+100000) so the oracle comparison covers real matches.
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val emb = base.unionByName(base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000).as("vec_id"), col("v")))
      def dot(x: Column, y: Column): Column =
        aggregate(zip_with(x, y, (a, b) => a * b), lit(0.0), (acc, e) => acc + e)
      val a = emb.select(col("vec_id").as("vec_a"), col("v").as("va"))
      val b = emb.select(col("vec_id").as("vec_b"), col("v").as("vb"))
      a.join(b, col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          (dot(col("va"), col("vb")) /
            (sqrt(dot(col("va"), col("va"))) * sqrt(dot(col("vb"), col("vb"))))).as("cos"))
        .filter(col("cos") >= 0.92)
        .select(col("vec_a"), col("vec_b"))
        .orderBy("vec_a", "vec_b")
    }),

    "q24_quality_filter" -> ((s, dir) => {
      // Gopher-family document-quality gate (training-data pipeline op):
      // word count, mean word length, stopword-presence rules as pure
      // integer/floor arithmetic so the oracle comparison is exact.
      val d = t(s, dir, "documents")
      val nWords = size(split(col("text"), " ")).cast("long")
      val nNospace = length(replace(col("text"), lit(" "), lit(""))).cast("long")
      val mwl = floor(lit(100.0) * nNospace / greatest(nWords, lit(1L))).cast("long")
      val stopThe = ((length(col("text")) -
        length(replace(col("text"), lit(" the "), lit("")))) / 5).cast("long")
      d.select(col("lang"), nWords.as("n_words"), mwl.as("mwl_x100"), stopThe.as("stop_the"))
        .withColumn("pass",
          col("n_words") >= 20 && col("mwl_x100").between(250, 1200) && col("stop_the") >= 1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(col("n_words")).as("sum_words"),
          sum(col("mwl_x100")).as("sum_mwl_x100"))
        .orderBy("lang")
    }),
    "q23_category_eval" -> ((s, dir) => {
      // J2 + A2: per-category formatted eval — the reference's most-used
      // eval mode for formatted output (eval_ocr_format.py:106-180): split
      // pred and gt into (text, math, table) categories, zip-join the
      // splits per (doc, category), aggregate per-category metrics.
      // The documents table carries no math/table markers (q07: one
      // category), so both sides plant identical formatted segments; the
      // category regexes here are the RE2-safe equivalents of the
      // reference regexes (the byte-exact ported ones live in
      // Metrics.splitCategories and are exercised by x17 + golden tests,
      // where Java-regex lookbehind is available).
      val docs = t(s, dir, "documents")
      val gt = concat(col("text"),
        lit(" \\("), substring(col("text"), 1, 16), lit("\\) \\["),
        substring(col("text"), 17, 16), lit("\\] \\begin{tabular}{ll} "),
        substring(col("text"), 1, 12), lit(" \\end{tabular}"))
      val pred = concat(substring(col("text"), lit(1), floor(col("n_chars") / 2).cast("int")),
        lit(" \\("), substring(col("text"), 1, 16), lit("\\) \\begin{tabular}{ll} "),
        substring(col("text"), 3, 12), lit(" \\end{tabular}"))
      val pInline = """\\\((.*?)\\\)"""
      val pDisplay = """\\\[(.*?)\\\]"""
      val pTable = """(?s)\\begin\{tabular\}(.*?)\\end\{tabular\}"""
      def cats(src: Column): Column = array(
        struct(lit("a_text").as("category"), trim(src).as("content")),
        struct(lit("b_math").as("category"),
          concat(array_join(regexp_extract_all(src, lit(pInline), lit(1)), "\n"),
            array_join(regexp_extract_all(src, lit(pDisplay), lit(1)), "\n")).as("content")),
        struct(lit("c_table").as("category"),
          array_join(regexp_extract_all(src, lit(pTable), lit(1)), "\n").as("content")))
      val gtSide = docs.select(col("doc_id"), explode(cats(gt)).as("c"))
        .select(col("doc_id"), col("c.category").as("category"), col("c.content").as("gtc"))
      val predSide = docs.select(col("doc_id"), explode(cats(pred)).as("c"))
        .select(col("doc_id"), col("c.category").as("category"), col("c.content").as("predc"))
      gtSide.join(predSide, Seq("doc_id", "category"))
        .filter(length(col("gtc")) >= 1 && length(col("predc")) >= 1) // F3 guard
        .select(col("category"),
          size(array_intersect(array_distinct(split(col("gtc"), " ")),
            array_distinct(split(col("predc"), " ")))).cast("long").as("inter"),
          size(array_distinct(split(col("gtc"), " "))).cast("long").as("nref"),
          size(array_distinct(split(col("predc"), " "))).cast("long").as("nhyp"))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("inter")).as("sum_inter"),
          sum(col("nref")).as("sum_ref"),
          sum(col("nhyp")).as("sum_hyp"),
          sum(floor(lit(1000.0) * col("inter") / greatest(col("nhyp"), lit(1)))
            .cast("long")).as("sum_prec_x1000"))
        .orderBy("category")
    }),
    "q25_dedup_clusters" -> ((s, dir) => {
      // Oracle for the connected-components dedup-clustering operator
      // (x19's family, previously tests-only): a deterministic planted
      // edge list over documents — chains of five consecutive doc_ids
      // (multi-hop, so label propagation must actually iterate) plus
      // isolated singleton nodes — closed by
      // TextSketch.connectedComponents vs DuckDB's WITH RECURSIVE
      // min-label closure over the same edges.
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
      val nodes = d.filter(col("doc_id") % 10 <= 5)
      val edges = d.filter(col("doc_id") % 10 < 4).select(col("doc_id").as("doc_a"))
        .join(d.select(col("doc_id").as("doc_b")), col("doc_b") === col("doc_a") + 1)
      val labels = graft.functions.TextSketch.connectedComponents(edges)
      nodes.join(labels, nodes("doc_id") === labels("id"), "left")
        .select(nodes("doc_id"),
          coalesce(col("label"), nodes("doc_id")).as("cluster"))
        .orderBy("doc_id")
    }),
    "q26_session_gaps" -> ((s, dir) => {
      // Batch gap-sessionization — the SQL-expressible oracle for the
      // sessionization SEMANTICS x20 implements in streaming form: a new
      // session starts when the gap from the user's previous event
      // exceeds 30 minutes (lag + running sum, both engines); per-session
      // aggregates. Microsecond epoch arithmetic (not seconds) so
      // truncation-vs-rounding of fractional seconds can't diverge, and
      // per-event round(value*100) before the sum so float summation
      // order can't move a floor boundary.
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      // parquet ts is TIMESTAMP_NTZ; the cast (UTC session) makes it
      // unix_micros-able without shifting the wall-clock value
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      val gapped = e.select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("prev_us", lag(tsUs, 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            tsUs - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      gapped.groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_x100"))
        .orderBy("user_id", "sess_id")
    }),

    "q27_repetition_filter" -> ((s, dir) => {
      // Gopher-family within-document repetition filter (training-data
      // pipeline op): fraction of duplicate word-trigrams per doc.
      // Everything per-row via higher-order functions — transform over a
      // sequence builds the trigram list, array_distinct counts uniques —
      // so the operator is map-only until the final per-lang aggregate
      // (the shape that survives 100 TB: no explode, no shuffle of
      // n-gram rows).
      // planted repetitive docs (prefix repeated 12x) keep the >threshold
      // branch non-vacuous — the natural corpus is random words and never
      // crosses 20% duplicate trigrams
      val d0 = t(s, dir, "documents")
      val d = d0.select(col("lang"), col("text"))
        .unionByName(d0.filter(col("doc_id") < 20)
          .select(lit("planted").as("lang"),
            repeat(concat(substring(col("text"), 1, 40), lit(" ")), 12).as("text")))
      val toks = split(col("text"), " ")
      val nTri = size(toks) - 2
      val tris = transform(sequence(lit(0), nTri - 1),
        i => concat_ws(" ", element_at(toks, i + 1),
          element_at(toks, i + 2), element_at(toks, i + 3)))
      d.select(col("lang"),
          when(nTri >= 1,
            floor(lit(1000.0) * (nTri - size(array_distinct(tris))) / nTri)
              .cast("long"))
            .otherwise(0L).as("rep_x1000"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("rep_x1000")).as("sum_rep_x1000"),
          sum(when(col("rep_x1000") > 200, 1L).otherwise(0L)).as("n_repetitive"))
        .orderBy("lang")
    }),

    "q28_decontamination" -> ((s, dir) => {
      // Benchmark decontamination (training-data pipeline op): flag
      // corpus documents sharing >= 3 distinct word 5-grams with a held
      // "benchmark" set (the GPT-3/PaLM-style n-gram overlap rule).
      // Scale shape: the benchmark gram set is SMALL (eval suites are
      // thousands of docs) -> distinct once and BROADCAST; the corpus
      // side explodes its per-doc distinct grams map-side and the hash
      // join is shuffle-free, so the only shuffle is the per-doc overlap
      // count — never a corpus x corpus comparison.
      // benchmark = doc_id % 101 == 0; planted contaminated docs (the
      // first 120 chars of each benchmark doc) keep the >= 3 branch
      // non-vacuous — natural random-word docs share no 5-grams. The
      // planted ids offset past max(doc_id)+1 so they can NEVER collide
      // with natural ids at any corpus size (a fixed +500000 collided
      // once the corpus passed 500k docs; ADVICE r3) — a one-row agg,
      // not a scan-side action.
      val d = t(s, dir, "documents")
      val plantOff = d.agg(max(col("doc_id")).cast("long")).first().getLong(0) + 1L
      val corpus = d.filter(col("doc_id") % 101 =!= 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
        .unionByName(d.filter(col("doc_id") % 101 === 0)
          .select((col("doc_id") + plantOff).cast("long").as("doc_id"),
            lit("planted").as("lang"),
            substring(col("text"), 1, 120).as("text")))
      // r6: 5-grams via the codegen word_ngrams expression (one fused
      // loop) instead of the interpreted transform/slice lambda; both
      // branches only evaluate grams under a size >= 5 filter, where
      // the forms are identical.
      graft.functions.WordNgrams.register(s)
      val toks = split(col("text"), " ")
      val nW = size(toks)
      val grams = expr("word_ngrams(split(text, ' '), 5)")
      val benchGrams = d.filter(col("doc_id") % 101 === 0 && size(split(col("text"), " ")) >= 5)
        .select(explode(array_distinct(grams)).as("g")).distinct()
      val overlaps = corpus.filter(nW >= 5)
        .select(col("doc_id"), explode(array_distinct(grams)).as("g"))
        .join(broadcast(benchGrams), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
      corpus.join(overlaps, Seq("doc_id"), "left")
        .select(col("lang"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_overlap") >= 3, 1L).otherwise(0L)).as("n_contaminated"),
          sum(col("n_overlap")).as("sum_overlap"))
        .orderBy("lang")
    }),

    "q29_pii_scrub" -> ((s, dir) => {
      // PII scrubbing (C4/Dolma-style redaction): detect + redact email /
      // phone / IPv4 via regexes written in the RE2-compatible subset so
      // Java (Spark) and RE2 (DuckDB) agree byte-for-byte. Map-only until
      // the per-lang aggregate — the 100 TB shape. Planted PII rows keep
      // every branch non-vacuous (the natural corpus has none).
      val pEmail = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val pPhone = """\b\d{3}[-.]\d{3}[-.]\d{4}\b"""
      val pIp = """\b\d{1,3}(\.\d{1,3}){3}\b"""
      val d0 = t(s, dir, "documents")
      val d = d0.select(col("lang"), col("text"))
        .unionByName(d0.filter(col("doc_id") < 30)
          .select(lit("planted").as("lang"),
            concat(substring(col("text"), 1, 40),
              lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or call 555-123-4567 from 10.0.0."),
              (col("doc_id") % 250).cast("string")).as("text")))
      val scrubbed = regexp_replace(regexp_replace(regexp_replace(col("text"),
        pEmail, "<EMAIL>"), pPhone, "<PHONE>"), pIp, "<IP>")
      d.select(col("lang"),
          size(regexp_extract_all(col("text"), lit(pEmail), lit(0))).cast("long").as("n_email"),
          size(regexp_extract_all(col("text"), lit(pPhone), lit(0))).cast("long").as("n_phone"),
          size(regexp_extract_all(col("text"), lit(pIp), lit(0))).cast("long").as("n_ip"),
          length(scrubbed).cast("long").as("scrub_len"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_email") >= 1, 1L).otherwise(0L)).as("n_email_docs"),
          sum(when(col("n_phone") >= 1, 1L).otherwise(0L)).as("n_phone_docs"),
          sum(when(col("n_ip") >= 1, 1L).otherwise(0L)).as("n_ip_docs"),
          sum(col("n_email") + col("n_phone") + col("n_ip")).as("n_matches"),
          sum(col("scrub_len")).as("sum_scrub_len"))
        .orderBy("lang")
    }),

    "q30_stratified_sample" -> ((s, dir) => {
      // Deterministic hash-stratified sampling (training-data mixing):
      // keep a doc iff the first hex byte of md5(text) clears a per-lang
      // threshold — reproducible across engines, machines and
      // parallelism (rand()-sampling is none of those). Map-only filter;
      // the only shuffle is the per-lang audit aggregate. Spark
      // md5(cast binary) and DuckDB md5 both hash UTF-8 bytes to
      // lowercase hex, so the keep decision is bit-identical.
      val keyHex = substring(md5(col("text").cast("binary")), 1, 2)
      val threshold = when(col("lang") === "en", "40")
        .when(col("lang") === "zh", "80").otherwise("20")
      t(s, dir, "documents")
        .select(col("lang"), col("n_chars"), (keyHex < threshold).as("keep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
        .orderBy("lang")
    }),

    "q31_url_canonical" -> ((s, dir) => {
      // URL canonicalization (crawl-dedup key, functions/UrlCanon.scala):
      // three cosmetic variants of every doc's URL (tracking params +
      // fragment; uppercase scheme/host + default port; extra utm params,
      // different order) must collapse 3:1 per doc. Pure map-side Catalyst
      // expressions — no UDF, stays in whole-stage codegen; the only
      // shuffle is the audit aggregate.
      val d = t(s, dir, "documents").select(col("doc_id"), (col("doc_id") % 20).as("site"))
      val id = col("doc_id").cast("string")
      val site = col("site").cast("string")
      def u(parts: Column*): Column = concat(parts: _*)
      val v1 = u(lit("https://www.site"), site, lit(".example.com/p/"), id,
        lit("?b=2&utm_source=feed&a=1#frag"))
      val v2 = u(lit("HTTPS://Site"), site, lit(".EXAMPLE.com:443/p/"), id,
        lit("?a=1&b=2"))
      val v3 = u(lit("https://site"), site, lit(".example.com/p/"), id,
        lit("?utm_campaign=x&a=1&b=2&utm_medium=y"))
      val raw = d.select(col("site"), v1.as("url"))
        .unionByName(d.select(col("site"), v2.as("url")))
        .unionByName(d.select(col("site"), v3.as("url")))
      raw.select(col("site"), graft.functions.UrlCanon.canonical(col("url")).as("canon"))
        .groupBy(col("site"))
        .agg(count(lit(1)).as("n_raw"),
          countDistinct(col("canon")).as("n_canonical"),
          min(col("canon")).as("sample_canonical"))
        .orderBy("site")
    }),

    "q32_token_packing" -> ((s, dir) => {
      // Token-budget sharding, CUMULATIVE-BUCKETING form (NOT greedy
      // packing — a doc straddling a 2000-token boundary spills across
      // shards here; the reset-form greedy packing trainers use is q34):
      // docs stream per-lang in doc_id order and shard =
      // floor((cumsum - 1) / 2000) over integer token counts, exact in
      // both engines. SCALE CAVEAT: the window partitions by lang
      // (bounded cardinality — one task per language at 100 TB); q34 is
      // the scale-safe (lang, input_shard)-keyed operator, this form is
      // kept as the small-corpus windowed-bucketing oracle.
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nTok = size(split(col("text"), " ")).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), nTok.as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("shard", floor((col("cum") - 1) / 2000L).cast("long"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "shard")
    }),

    "q33_outlink_hosts" -> ((s, dir) => {
      // Href-resolution semantics oracle for the outlink family
      // (Outlinks.host / resolveHost — x22 rested on unit tests alone):
      // per doc, a battery of href shapes (absolute http/https, explicit
      // port, uppercase scheme+host, userinfo@, userinfo+port,
      // protocol-relative, relative, root-relative, fragment, mailto,
      // javascript, ftp, colon-in-path, empty) resolves against a clean
      // base URL through the REAL kernel parser; DuckDB states each
      // shape's expected host in closed form. Map-side fan-out, one
      // audit-agg shuffle — the x22 scale shape.
      import s.implicits._
      val resolved = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val baseUrl = s"https://host$id.example.com/dir/page"
            val base = graft.extract.Outlinks.host(baseUrl)
            Seq(
              "abs_https" -> s"https://abs$id.target.com/p",
              "abs_http_port" -> s"http://port$id.target.com:8080/p",
              "abs_upper" -> s"HTTPS://Upper$id.Target.COM/x",
              "userinfo" -> s"https://user:pw@sec$id.target.com/z",
              "userinfo_port" -> s"https://u@up$id.target.com:444/q",
              "proto_rel" -> s"//proto$id.target.com/y",
              "rel_path" -> s"sub/page$id.html",
              "root_rel" -> s"/top$id",
              "fragment" -> s"#sec$id",
              "mailto" -> s"mailto:user$id@x.com",
              "javascript" -> "javascript:void(0)",
              "ftp" -> s"ftp://files$id.target.com/a",
              "colon_in_path" -> s"a/b:c$id",
              "empty" -> "")
              .map { case (kind, href) =>
                (kind, graft.extract.Outlinks.resolveHost(href, base), base)
              }
          }
        }
        .toDF("kind", "resolved", "base")
      resolved.groupBy(col("kind"))
        .agg(count(lit(1)).as("n_hrefs"),
          sum(when(col("resolved") === "", 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("resolved") =!= "" && col("resolved") === col("base"), 1L)
            .otherwise(0L)).as("n_internal"),
          sum(when(col("resolved") =!= "" && col("resolved") =!= col("base"), 1L)
            .otherwise(0L)).as("n_external"),
          countDistinct(when(col("resolved") =!= "", col("resolved"))).as("n_hosts"),
          coalesce(min(when(col("resolved") =!= "", col("resolved"))), lit(""))
            .as("min_host"))
        .orderBy("kind")
    }),

    "q34_packing_sharded" -> ((s, dir) => {
      // Scale-safe sequence packing — the q32 replacement shape (VERDICT
      // r3 weak #2): docs bucket into BOUNDED input shards
      // (floor(doc_id / 100) here; at 100 TB the shard is the input file
      // split id — key cardinality grows WITH the data, never
      // one-task-per-language), then pack GREEDILY per
      // (lang, input_shard) in doc_id order: a doc goes WHOLE into the
      // current pack, and one that would overflow the 300-token budget
      // starts the next pack (reset form — real trainers never split a
      // doc across sequences; the q32 cumulative form is kept as the
      // windowed-bucketing variant). flatMapGroups holds ONE bounded
      // shard in memory — task memory is O(shard), independent of
      // corpus size. Oracle: DuckDB recursive CTE stepping the same
      // greedy recurrence.
      import s.implicits._
      val budget = 300L
      t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          floor(col("doc_id") / 100L).cast("long").as("input_shard"))
        .as[(Long, String, Long, Long)]
        .groupByKey(r => (r._2, r._4))
        .flatMapGroups { (key: (String, Long), it: Iterator[(Long, String, Long, Long)]) =>
          val (lang, shard) = key
          val docs = it.toArray.sortBy(_._1)
          var pack = 0L
          var cur = 0L
          docs.iterator.map { case (id, _, nTok, _) =>
            if (cur > 0L && cur + nTok > budget) { pack += 1; cur = 0L }
            cur += nTok
            (lang, shard, pack, id, nTok)
          }
        }
        .toDF("lang", "input_shard", "pack", "doc_id", "n_tok")
        .groupBy(col("lang"), col("input_shard"), col("pack"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "input_shard", "pack")
    }),

    "q35_rare_term_idf" -> ((s, dir) => {
      // IDF-weighted rare-term document scoring (the BM25-shaped
      // retrieval/quality signal a training pipeline uses to find
      // information-dense docs) with a RATIONAL idf surrogate:
      // (N - df + 0.5) / (df + 0.5) — the BM25 idf argument WITHOUT the
      // log, scaled to 1e6 integer units per term. ln() is the one
      // operation whose last ulp can differ between engines; +, *, /
      // are IEEE-identical, so this stays bit-exact in DuckDB while
      // preserving the rare-term ordering (log is monotone). tf
      // saturation is the standard k1=1.2 form.
      // Scale shape: tf = one (doc, term) shuffle; df = one term-keyed
      // agg; df joins BACK by term (shuffle join — the vocab is never
      // collected or broadcast, so 10^9-term vocabularies are fine);
      // per-doc and per-lang aggs are map-side partial. Every floor is
      // per-term BEFORE the integer sums, so aggregation order never
      // matters.
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
      val terms = d.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // df as agg + join-back, DELIBERATELY not a count-over-window on
      // term: a window buffers each key's rows in one task, and
      // stopword terms ("the") appear in every doc — the mega-key that
      // makes per-key windows the q32-style scale-killer. Partial
      // aggregation absorbs that skew map-side; the join is term-keyed.
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nTotal = d.agg(count(lit(1)).as("n_docs_total"))
      val scores = tf.join(df, Seq("term"))
        .crossJoin(broadcast(nTotal))
        .select(col("doc_id"), col("lang"),
          floor((lit(1000000.0) * (col("n_docs_total") - col("df") + lit(0.5))
              / (col("df") + lit(0.5)))
            * (col("tf") * lit(2.2) / (col("tf") + lit(1.2))))
            .cast("long").as("w"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("w")).as("score"))
      scores.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("score")).as("sum_score"),
          max(col("score")).as("max_score"),
          min(col("score")).as("min_score"))
        .orderBy("lang")
    }),

    "q36_robots_rules" -> ((s, dir) => {
      // robots.txt fetchability (crawl politeness, RFC 9309 — the
      // decision a crawl scheduler runs per URL before fetch): per doc,
      // two synthesized robots payloads and eight path cases run
      // through the REAL parser/evaluator (extract/Robots.scala);
      // DuckDB states each case's expected verdict in closed form (the
      // q33 oracle pattern). Map-side evaluation, one audit-agg
      // shuffle; at crawl scale rules parse once per host and URLs
      // join host-partitioned — payloads never shuffle.
      import s.implicits._
      import graft.extract.Robots
      val verdicts = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val generic =
              s"""User-agent: *
                 |Disallow: /private$id/
                 |Allow: /private$id/ok/
                 |Disallow: /*.pdf$$
                 |Disallow: /tmp$id*
                 |""".stripMargin
            val withBot = generic +
              s"""
                 |User-agent: graftbot
                 |Disallow: /bot-only$id/
                 |Allow: /
                 |""".stripMargin
            val g = Robots.parse(generic, "graftbot") // no specific group -> *
            val b = Robots.parse(withBot, "graftbot") // specific group only
            Seq(
              ("prefix_disallow", Robots.isAllowed(g, s"/private$id/x")),
              ("allow_override", Robots.isAllowed(g, s"/private$id/ok/y")),
              ("wildcard_pdf_anchored", Robots.isAllowed(g, s"/docs/file$id.pdf")),
              ("anchored_no_match", Robots.isAllowed(g, s"/docs/file$id.pdfx")),
              ("star_prefix", Robots.isAllowed(g, s"/tmp$id/junk")),
              ("unmatched_default_allow", Robots.isAllowed(g, s"/index$id.html")),
              ("agent_group_disallow", Robots.isAllowed(b, s"/bot-only$id/z")),
              ("agent_group_overrides_generic", Robots.isAllowed(b, s"/private$id/x")))
          }
        }.toDF("kind", "allowed")
      verdicts.groupBy(col("kind"))
        .agg(count(lit(1)).as("n_paths"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"))
        .orderBy("kind")
    }),

    "q37_window_dedup" -> ((s, dir) => {
      // Cross-doc exact-substring dedup marking (the Lee et al.
      // "deduplicate training data" exact-substring pass in windowed
      // form): every distinct 8-token window; a window occurring in >1
      // distinct doc marks duplicated text, and per doc dup_x1000 =
      // floor(1000 * shared/total windows). Planted partial copies
      // (first 120 chars of every doc_id%97==0 donor, ids offset past
      // max(doc_id)) keep the cross-doc branch non-vacuous — natural
      // random-word docs share no 8-gram. Scale: one explode, one
      // window-keyed distinct-doc agg, one window-keyed join back —
      // never corpus x corpus; same family as the q28 decontamination
      // plan.
      val d0 = t(s, dir, "documents")
      val plantOff = d0.agg(max(col("doc_id")).cast("long")).first().getLong(0) + 1L
      val d = d0.select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
        .unionByName(d0.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + plantOff).cast("long").as("doc_id"),
            lit("planted").as("lang"), substring(col("text"), 1, 120).as("text")))
      // split ONCE into a projected array column (r6): previously the
      // split ran in the length Filter and again (twice) inside the
      // Generate expression — ~4 regex splits of every doc per pass.
      val dT = d.select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("toks"))
      // The window KEY is xxhash64 of the 8-token slice, not the
      // concatenated string (VERDICT r4 #3): the key is shuffled twice
      // (shared-count agg + join-back), and 8 bytes vs the ~50-80-byte
      // window text is most of this query's cost — Lee et al. hash at
      // exactly this point. Collision bound: 64-bit keys over W distinct
      // windows collide with p ≈ W²/2⁶⁵ (~3·10⁻⁸ at W=10⁹ windows per
      // shard), and a collision only perturbs one window's shared-count
      // — acceptable for a dedup MARKING pass. Hashing the token array
      // directly also skips materializing the window string entirely
      // (tokens are split on the space byte, so no two distinct windows
      // alias under re-joining).
      val wins = transform(sequence(lit(1), size(col("toks")) - 7),
        i => xxhash64(slice(col("toks"), i, lit(8))))
      val docWins = dT.filter(size(col("toks")) >= 8)
        .select(col("doc_id"), col("lang"), explode(array_distinct(wins)).as("w"))
      // agg + join-back rather than count-over-window on w: boilerplate
      // windows (a navbar 8-gram) occur in millions of crawl docs — a
      // per-w window would buffer that mega-key in one task, while the
      // partial aggregate absorbs it map-side (same reasoning as q35's
      // df computation).
      //
      // r6 optimization (guide §2.3/§3.1): (doc_id, w) pairs are
      // DISTINCT by construction (array_distinct per doc), so count(1)
      // == countDistinct(doc_id) — dropping the distinct-agg's extra
      // (w, doc_id) exchange of the full window set. And only windows
      // with n_docs_with > 1 can affect n_shared, so the join build
      // side shrinks from EVERY distinct window (~1 row per corpus
      // window — the old plan broadcast all of them) to just the
      // shared ones; the join flips to left-outer to keep n_windows.
      val shared = docWins.groupBy(col("w"))
        .agg(count(lit(1)).as("n_docs_with"))
        .filter(col("n_docs_with") > 1)
      val per = docWins.join(shared, Seq("w"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_shared"))
        .select(col("lang"),
          floor(lit(1000) * col("n_shared") / col("n_windows")).cast("long").as("dup_x1000"))
      per.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("dup_x1000")).as("sum_dup_x1000"),
          sum(when(col("dup_x1000") >= 500, 1L).otherwise(0L)).as("n_mostly_dup"))
        .orderBy("lang")
    }),

    "q38_nfc_normalize" -> ((s, dir) => {
      // Unicode NFC normalization as a NATIVE codegen Expression
      // (functions/NfcNormalize — Spark has no built-in; the UDF
      // alternative would break whole-stage codegen): crawled text
      // mixes composed and decomposed forms of the same characters,
      // which breaks exact dedup and string-keyed joins — NFC-first is
      // the standard corpus pass. Planted pairs (composed vs combining-
      // mark forms of the same string) prove the collapse: distinct
      // raw hashes = 2x planted docs, distinct NFC hashes = 1x.
      // Canonical mappings are frozen by Unicode stability policy, so
      // the JVM and DuckDB's utf8proc agree — that is what makes this
      // oracle-able. Map-only until the audit agg.
      graft.functions.NfcNormalize.register(s)
      val d0 = t(s, dir, "documents")
      val planted = d0.filter(col("doc_id") < 40)
      val d = d0.select(col("lang"), col("text"))
        .unionByName(planted.select(lit("planted").as("lang"),
          concat(lit("café résumé naïve "),
            substring(col("text"), 1, 60)).as("text")))
        // the DECOMPOSED twin: same string via combining acute/diaeresis
        .unionByName(planted.select(lit("planted").as("lang"),
          concat(lit("café résumé naïve "),
            substring(col("text"), 1, 60)).as("text")))
      d.select(col("lang"), col("text"), expr("nfc_normalize(text)").as("nfc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nfc") =!= col("text"), 1L).otherwise(0L)).as("n_denormalized"),
          sum(length(col("text"))).as("sum_len_raw"),
          sum(length(col("nfc"))).as("sum_len_nfc"),
          countDistinct(md5(col("text").cast("binary"))).as("n_raw_distinct"),
          countDistinct(md5(col("nfc").cast("binary"))).as("n_nfc_distinct"))
        .orderBy("lang")
    }),

    "q39_crawl_politeness" -> ((s, dir) => {
      // Per-host crawl politeness audit — the fetch-scheduler feedback
      // signal (is any host hit faster than the politeness floor?):
      // ordered inter-arrival gaps via lag() per host, gap stats in
      // integer millis (unix_millis and DuckDB epoch_ms both truncate
      // micros identically), violations = gaps under the 60s floor.
      // The window partitions by HOST — key cardinality grows WITH the
      // data (10^8 hosts at crawl scale), the scale-safe window shape
      // (q26's sessionization key, NOT q32's bounded-lang key); ties
      // broken by event_id so the lag order is total.
      val w = Window.partitionBy("host_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id").cast("long").as("host_id"), col("ts"),
          col("event_id").cast("long").as("event_id"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .select(col("host_id"),
          // ts is TIMESTAMP_NTZ; the UTC session cast matches DuckDB's
          // epoch_ms-on-naive-timestamp semantics exactly
          (unix_millis(col("ts").cast("timestamp"))
            - unix_millis(col("prev_ts").cast("timestamp"))).as("gap_ms"))
        .groupBy(col("host_id"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_ms")).as("min_gap_ms"),
          max(col("gap_ms")).as("max_gap_ms"),
          sum(col("gap_ms")).as("sum_gap_ms"),
          sum(when(col("gap_ms") < 60000L, 1L).otherwise(0L)).as("n_violations"))
        .orderBy("host_id")
    }),

    "q40_sitemap_parse" -> ((s, dir) => {
      // Sitemap parsing (crawl seeding, sitemaps.org — the companion of
      // q36's robots rules): per doc a synthesized urlset with lastmod,
      // an entity-encoded query loc, a CDATA loc, comment noise and a
      // locless entry runs through the REAL tokenizer-based parser
      // (extract/Sitemaps); DuckDB states the expected frontier entries
      // in closed form. Map-side parse, one audit-agg shuffle.
      import s.implicits._
      val entries = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val xml =
              s"""<?xml version="1.0" encoding="UTF-8"?>
                 |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
                 |  <!-- generated fixture $id -->
                 |  <url><loc>https://s$id.example.com/a</loc><lastmod>2024-01-0${1 + id % 9}</lastmod></url>
                 |  <url><loc>https://s$id.example.com/b?x=1&amp;y=2</loc></url>
                 |  <url><loc><![CDATA[https://s$id.example.com/c]]></loc><lastmod>2024-02-11</lastmod></url>
                 |  <url><priority>0.5</priority></url>
                 |</urlset>""".stripMargin
            graft.extract.Sitemaps.parse(xml.getBytes("UTF-8"))
              .map(e => (id % 10, e.loc, e.lastmod))
          }
        }.toDF("grp", "loc", "lastmod")
      entries.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_entries"),
          sum(when(col("lastmod") =!= "", 1L).otherwise(0L)).as("n_with_lastmod"),
          countDistinct(col("lastmod")).as("n_distinct_lastmod"),
          min(col("loc")).as("min_loc"),
          max(col("loc")).as("max_loc"))
        .orderBy("grp")
    }),

    "q41_boilerplate_lines" -> ((s, dir) => {
      // Per-host template (boilerplate) line removal — the CROSS-page
      // companion of the in-page DOM block classifier: a rendered page
      // is navbar + content + footer, and a line repeated across >=60%
      // of a host's pages is template, not content (the cross-document
      // pass CCNet/trafilatura run after per-page extraction). Pages
      // are synthesized from documents as host-templated line stacks:
      // shared header/nav/footer per host (must strip), a ~1/3-
      // frequency promo line (below threshold — must SURVIVE), and the
      // doc body (unique — survives). Scale shape: line frequency aggs
      // by (host, line) — cardinality grows with the corpus, and the
      // map-side partial agg absorbs the shared-template mega-lines;
      // the join-back ships only each host's qualifying template set
      // (small by the >=60% threshold) on the host key, whose
      // cardinality also grows with data. No bounded-key window, no
      // corpus x corpus.
      val pages = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("source").as("host"), col("lang"),
          concat_ws("\n",
            concat(lit("=== "), col("source"), lit(" home news about ===")),
            concat(lit("nav: "), col("source"), lit("/index")),
            when(col("doc_id") % 3 === 0,
              concat(lit("promo: visit "), col("source")))
              .otherwise(concat(lit("doc "), col("doc_id").cast("string"))),
            col("text"),
            concat(lit("(c) 2024 "), col("source"))).as("page_text"))
      val wl = pages.withColumn("lines", split(col("page_text"), "\n"))
      val ex = wl.select(col("doc_id"), col("host"),
        explode(array_distinct(col("lines"))).as("line"))
      val hostDocs = pages.groupBy(col("host"))
        .agg(countDistinct(col("doc_id")).as("host_docs"))
      val freq = ex.groupBy(col("host"), col("line"))
        .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      val boiler = freq.join(hostDocs, Seq("host"))
        .filter(col("n_docs_with") * 10 >= col("host_docs") * 6 &&
          col("host_docs") >= 3)
        .groupBy(col("host"))
        .agg(sort_array(collect_list(col("line"))).as("bset"),
          count(lit(1)).as("nb"))
      val emptySet = array().cast("array<string>")
      val cleaned = wl.join(boiler, Seq("host"), "left")
        .select(col("host"), col("lines"),
          coalesce(col("nb"), lit(0L)).as("n_boiler_lines"),
          filter(col("lines"),
            l => !array_contains(coalesce(col("bset"), emptySet), l)).as("kept"))
      cleaned.groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_boiler_lines")).as("n_boiler_lines"),
          sum(size(col("lines"))).cast("long").as("sum_lines_raw"),
          sum(size(col("kept"))).cast("long").as("sum_lines_kept"),
          sum(length(concat_ws("\n", col("kept")))).cast("long").as("sum_chars_kept"),
          countDistinct(md5(concat_ws("\n", col("kept")).cast("binary")))
            .as("n_distinct_clean"))
        .orderBy("host")
    }),

    "q42_snapshot_delta" -> ((s, dir) => {
      // Crawl snapshot delta — the Iceberg-snapshot-diff analog that
      // drives INCREMENTAL extraction (the resume story's batch half):
      // two crawl snapshots full-outer-join on url, rows classify as
      // added / removed / changed / unchanged by content hash, and the
      // re-extract set is added+changed — at 10^12 urls you re-run the
      // extractor over that delta, not the crawl. Snapshot B is
      // synthesized deterministically from A: %7 docs changed text,
      // %13 docs dropped, %11 docs spawn a new url. Scale: one
      // url-hash-keyed full outer join (url cardinality grows with the
      // data), md5 compare map-side, then a lang-keyed audit agg.
      val a0 = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("source"), col("text"))
      def url(c: Column): Column =
        concat(lit("https://"), col("source"), lit(".example.com/p"), c.cast("string"))
      val snapA = a0.select(url(col("doc_id")).as("url"), col("lang"),
        md5(col("text").cast("binary")).as("h_a"))
      val snapB = a0.filter(col("doc_id") % 13 =!= 0)
        .select(url(col("doc_id")).as("url"), col("lang"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" updated v2")))
            .otherwise(col("text")).cast("binary")).as("h_b"))
        .unionByName(a0.filter(col("doc_id") % 11 === 0)
          .select(concat(lit("https://"), col("source"), lit(".example.com/new"),
            col("doc_id").cast("string")).as("url"), col("lang"),
            md5(concat(lit("new "), col("text")).cast("binary")).as("h_b")))
      snapA.withColumnRenamed("lang", "lang_a")
        .join(snapB.withColumnRenamed("lang", "lang_b"), Seq("url"), "full_outer")
        .select(coalesce(col("lang_a"), col("lang_b")).as("lang"),
          when(col("h_a").isNull, "added")
            .when(col("h_b").isNull, "removed")
            .when(col("h_a") =!= col("h_b"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("lang"))
        .agg(sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
          sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
          sum(when(col("status") === "added" || col("status") === "changed", 1L)
            .otherwise(0L)).as("n_reextract"))
        .orderBy("lang")
    }),

    "q43_cluster_retention" -> ((s, dir) => {
      // Dedup-cluster canonical retention — the pipeline stage AFTER
      // q25's clustering: each near-dup cluster keeps exactly its
      // min-doc_id member (the deterministic canonical choice) and
      // drops the rest; the audit reports per-lang retention and the
      // chars saved. Same planted chain edges as q25 (multi-hop, so
      // label propagation must iterate); connectedComponents labels ARE
      // the min id per component, so retained == (doc_id == cluster) —
      // no second argmin shuffle needed. Scale: CC is one shuffle per
      // hop with reliable-checkpoint conf; the label join-back is
      // doc_id-keyed.
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
      val nodes = docs.filter(col("doc_id") % 10 <= 5)
      val edges = nodes.select(col("doc_id").as("doc_a"))
        .filter(col("doc_a") % 10 < 4)
        .join(nodes.select(col("doc_id").as("doc_b")),
          col("doc_b") === col("doc_a") + 1)
      val labels = graft.functions.TextSketch.connectedComponents(edges)
      nodes.join(labels, nodes("doc_id") === labels("id"), "left")
        .select(col("lang"), col("n_chars"), nodes("doc_id"),
          coalesce(col("label"), nodes("doc_id")).as("cluster"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters_touched"),
          sum(when(col("doc_id") === col("cluster"), 1L).otherwise(0L)).as("n_retained"),
          sum(when(col("doc_id") =!= col("cluster"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("doc_id") === col("cluster"), col("n_chars"))
            .otherwise(0L)).as("chars_retained"),
          sum(when(col("doc_id") =!= col("cluster"), col("n_chars"))
            .otherwise(0L)).as("chars_dropped"))
        .orderBy("lang")
    }),

    "q44_bm25_topk" -> ((s, dir) => {
      // BM25 top-k retrieval — the quality-filter counterpart of q35's
      // IDF scoring, in full BM25 form (k1=1.2, b=0.75) with the same
      // rational idf surrogate (N-df+0.5)/(df+0.5) so no ln() enters
      // the arithmetic (q35's bit-exactness argument: + * / are IEEE-
      // identical cross-engine, log's last ulp is not). Floats stay
      // bit-exact because every double derives from integer tf/df/dl/N
      // through ONE fixed expression tree, and the per-query score sums
      // exactly two term contributions in written order — never a
      // float aggregate. Scale shape: the inverted-index build
      // (explode tokens, keep query vocabulary only — the IN filter
      // applies before the shuffle) keys by (doc, term); df's agg
      // absorbs mega-terms map-side; ranking is the bounded TopKAgg,
      // not a per-query window sort.
      import s.implicits._
      // r6b: dl == size(split(text, " ")) == spaces + 1 EXACTLY (Spark
      // split keeps trailing empty segments, so every single-space
      // match adds one segment) — computed by char counting
      // (length - length(translate)) instead of materializing the
      // regex-split array. The corpus-stats branch previously re-ran
      // the full split of every document just to take the array's
      // size (guide §1.2: don't compute things you throw away); now
      // only the tf branch splits, once.
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
            .cast("long").as("dl"))
      val queryTerms = Seq((1L, "spark", 1), (1L, "window", 2),
        (2L, "merge", 1), (2L, "key", 2), (3L, "vector", 1), (3L, "batch", 2))
        .toDF("query_id", "term", "tidx")
      val corpus = docs.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).cast("long").as("sum_dl"))
      // r6: the vocabulary restriction is a codegen In-filter on the
      // exploded token (still applied map-side BEFORE any exchange,
      // guide §2.3) instead of a broadcast join against the 6-row
      // vocab table — one less broadcast build/probe, same kept rows
      // (the inner join against the distinct vocab kept exactly the
      // tokens in the set). A higher-order filter(toks, isin) BEFORE
      // the explode was tried and reverted: higher-order lambdas are
      // CodegenFallback, and the interpreted per-element path measured
      // slower than explode + codegen filter.
      val vocabTerms: Seq[Any] = Seq("spark", "window", "merge", "key", "vector", "batch")
      val tf = docs.select(col("doc_id"), col("dl"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term").isin(vocabTerms: _*))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).cast("long").as("tf"), first(col("dl")).as("dl"))
      // (doc_id, term) is unique after the groupBy above, so count(1)
      // == countDistinct(doc_id) — drops the distinct-agg's extra
      // exchange (r6).
      val df_ = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val contrib = tf.join(broadcast(df_), Seq("term"))
        .crossJoin(broadcast(corpus))
        .select(col("doc_id"), col("term"),
          // idf surrogate and tf saturation: one fixed expression tree
          // over integer inputs -> bit-identical in DuckDB; SHARED with
          // the persisted-index path (x31) so they cannot drift
          graft.functions.PostingsIndex.bm25Contrib(col("n_docs"),
            col("df"), col("tf"), col("dl"), col("sum_dl")).as("c"))
      val scored = contrib.join(broadcast(queryTerms), Seq("term"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(max(when(col("tidx") === 1, col("c"))).as("c1"),
          max(when(col("tidx") === 2, col("c"))).as("c2"))
        .select(col("query_id"), col("doc_id").as("id"),
          (coalesce(col("c1"), lit(0.0)) + coalesce(col("c2"), lit(0.0))).as("score"))
      graft.functions.TopK.perQuery(scored, 5)
        .select(col("query_id"), col("rank"), col("id").as("doc_id"),
          floor(col("score") * 1e6).cast("long").as("score_x1e6"))
        .orderBy("query_id", "rank")
    }),

    "q45_script_mix" -> ((s, dir) => {
      // Unicode script histogram + mixed-script detection — the
      // homoglyph-spoof / wrong-script-spam signal every crawl filter
      // stack carries: per-doc char counts by script (Latin, Cyrillic,
      // Han, Greek) via script-property character classes, docs mixing
      // >= 2 non-trivial scripts flagged. Java's \p{IsXxx} and RE2's
      // \p{Xxx} agree on these scripts (stable BMP assignments).
      // Planted spoof docs (%17: Cyrillic+Han+Greek suffix) keep the
      // mixed branch non-vacuous on an otherwise-Latin corpus.
      // Map-only until the lang-keyed audit agg.
      val d = t(s, dir, "documents")
      def nScript(c: Column, javaClass: String): Column =
        length(c) - length(regexp_replace(c, s"[\\p{$javaClass}]", ""))
      val withPlant = d.select(col("lang"),
        when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" пример 漢字測試 παράδειγμα")))
          .otherwise(col("text")).as("text"))
      val counted = withPlant.select(col("lang"),
        nScript(col("text"), "IsLatin").as("n_latin"),
        nScript(col("text"), "IsCyrillic").as("n_cyr"),
        nScript(col("text"), "IsHan").as("n_han"),
        nScript(col("text"), "IsGreek").as("n_greek"))
      def pos(c: Column): Column = when(c > 0, 1).otherwise(0)
      counted.select(col("lang"), col("n_latin"), col("n_cyr"), col("n_han"),
          col("n_greek"),
          (pos(col("n_latin")) + pos(col("n_cyr")) + pos(col("n_han")) +
            pos(col("n_greek"))).as("n_scripts"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_latin")).cast("long").as("sum_latin"),
          sum(col("n_cyr")).cast("long").as("sum_cyr"),
          sum(col("n_han")).cast("long").as("sum_han"),
          sum(col("n_greek")).cast("long").as("sum_greek"),
          sum(when(col("n_scripts") >= 2, 1L).otherwise(0L)).as("n_mixed"))
        .orderBy("lang")
    }),

    "q46_host_len_percentiles" -> ((s, dir) => {
      // Per-host document-length percentiles (discrete, ceil-rank
      // semantics) — the crawl-health dashboard statistic behind "is
      // this host serving truncated pages". Integer-exact by
      // construction: rank k_p = ceil(p*n) computed as (a*n + b) DIV c
      // in integer arithmetic, the selected value is an actual n_chars
      // — no float interpolation to diverge cross-engine. Scale shape:
      // the window partitions by HOST (cardinality grows with the
      // data, per-host rows bounded by politeness) — the q39/q26 key
      // shape, not q32's bounded-lang key.
      val w = Window.partitionBy("host").orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source").as("host"), col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("host")))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          max(when(col("rn") === expr("(n + 3) div 4"), col("n_chars"))).as("p25"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("n_chars"))).as("p50"),
          max(when(col("rn") === expr("(n * 9 + 9) div 10"), col("n_chars"))).as("p90"))
        .orderBy("host")
    }),

    "q47_paragraph_dedup" -> ((s, dir) => {
      // Paragraph-level exact dedup (the Dolma/RefinedWeb pass between
      // url-level and substring-level dedup): a paragraph duplicated
      // across docs survives ONLY in its min-doc_id occurrence; every
      // doc rebuilds from its kept paragraphs in original order. Pages
      // synthesize as body + a 5-way-shared "common paragraph" + a
      // per-host notice, so the global-pool and host-pool dup branches
      // and the unique-body branch are all non-vacuous. Scale: first-
      // seen is a paragraph-HASH-keyed min agg (the shuffle key is a
      // 16-byte digest, not the paragraph bytes) + hash-keyed join
      // back; the universal-boilerplate mega-paragraph is absorbed by
      // map-side partial agg (q37/q41 family). Rebuild is an order-
      // preserving array filter — no window, no re-sort.
      val pages = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          concat_ws("\n\n", col("text"),
            concat(lit("common paragraph "), (col("doc_id") % 5).cast("string")),
            concat(lit("host notice "), col("source"))).as("page_text"))
      val wl = pages.withColumn("paras", split(col("page_text"), "\n\n"))
      val ex = wl.select(col("doc_id"),
          explode(array_distinct(col("paras"))).as("para"))
        .withColumn("h", md5(col("para").cast("binary")))
      val firstSeen = ex.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      val drops = ex.join(firstSeen, Seq("h"))
        .filter(col("first_doc") =!= col("doc_id"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("para"))).as("dropset"))
      val emptySet = array().cast("array<string>")
      val cleaned = wl.join(drops, Seq("doc_id"), "left")
        .select(col("lang"), col("paras"),
          filter(col("paras"),
            p => !array_contains(coalesce(col("dropset"), emptySet), p)).as("kept"))
      cleaned.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("paras"))).cast("long").as("sum_paras_raw"),
          sum(size(col("kept"))).cast("long").as("sum_paras_kept"),
          sum(length(concat_ws("\n\n", col("kept")))).cast("long").as("sum_chars_kept"),
          countDistinct(md5(concat_ws("\n\n", col("kept")).cast("binary")))
            .as("n_distinct_clean"))
        .orderBy("lang")
    }),

    "q48_frontier_filter" -> ((s, dir) => {
      // Crawl-frontier construction — the integration of q40's sitemap
      // parse with q36's robots evaluation (exactly what a fetch
      // scheduler does between seed discovery and enqueue): per host,
      // parse the sitemap, extract each loc's path, keep only robots-
      // allowed paths. Both parsers are the REAL kernels
      // (extract/Sitemaps, extract/Robots); DuckDB states the expected
      // allowed frontier in closed form. At crawl scale robots parse
      // once per host and sitemap entries stream map-side — zero
      // shuffle before the audit agg.
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val xml =
              s"""<?xml version="1.0"?>
                 |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
                 |  <url><loc>https://h$id.example.com/a$id</loc></url>
                 |  <url><loc>https://h$id.example.com/private$id/secret</loc></url>
                 |  <url><loc>https://h$id.example.com/private$id/ok/page</loc></url>
                 |  <url><loc>https://h$id.example.com/report$id.pdf</loc></url>
                 |</urlset>""".stripMargin
            val robots =
              s"""User-agent: *
                 |Disallow: /private$id/
                 |Allow: /private$id/ok/
                 |Disallow: /*.pdf$$
                 |""".stripMargin
            val rules = graft.extract.Robots.parse(robots, "graftbot")
            graft.extract.Sitemaps.parse(xml.getBytes("UTF-8")).map { e =>
              val path = e.loc.replaceFirst("^https://[^/]+", "")
              (id % 10, e.loc, if (graft.extract.Robots.isAllowed(rules, path)) 1L else 0L)
            }
          }
        }.toDF("grp", "loc", "allowed")
      rows.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_entries"),
          sum(col("allowed")).as("n_allowed"),
          min(when(col("allowed") === 1, col("loc"))).as("min_allowed_loc"),
          max(when(col("allowed") === 1, col("loc"))).as("max_allowed_loc"))
        .orderBy("grp")
    }),

    "q49_lm_bucket" -> ((s, dir) => {
      // CCNet-style language-model quality bucketing (head/middle/tail)
      // with a frequency-LM surrogate: docs score by the average corpus
      // frequency of their word bigrams under a PER-LANGUAGE bigram
      // table (CCNet trains one KenLM per language and buckets each
      // doc by perplexity tercile; the rational integer surrogate —
      // score_mills = 1000*sum(bigram_count) div n_bigrams — keeps the
      // arithmetic bit-exact cross-engine, the q35/q44 no-log
      // discipline). Buckets split at 3/2x and 1/2x the per-lang mean
      // score, a broadcast one-row-per-lang join — no global
      // percentile window. Scale shape: the (lang,bigram) count agg
      // absorbs mega-bigrams map-side; the doc-side join keys by
      // (lang,bigram) whose cardinality grows with the data; nothing
      // is collected. Plan note: the per-lang mean derives from the
      // same docScore subtree as the bucket pass, which Catalyst
      // recomputes (no cross-aggregate CTE reuse) — at 10^12 docs you
      // materialize docScore to a table between the two passes (one
      // extra narrow write, same shuffles); the declarative form here
      // keeps the oracle query stateless.
      // r6: bigrams via the codegen word_ngrams expression (one fused
      // loop, no slice-allocated intermediates or interpreted zip_with
      // lambda); concat(a,' ',b) == concat_ws(' ',a,b) on split's
      // non-null tokens, and size<2 yields empty in both forms.
      graft.functions.WordNgrams.register(s)
      val toks = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          split(col("text"), " ").as("t"))
      val bg = toks.select(col("doc_id"), col("lang"),
        explode(expr("word_ngrams(t, 2)")).as("bg"))
      val bgc = bg.groupBy(col("lang"), col("bg"))
        .agg(count(lit(1)).as("cnt"))
      val docScore = bg.join(bgc, Seq("lang", "bg"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("cnt")).as("s"), count(lit(1)).as("n"))
        .select(col("doc_id"), col("lang"),
          expr("(s * 1000) div n").as("score_mills"))
      val langMean = docScore.groupBy(col("lang"))
        .agg(expr("sum(score_mills) div count(1)").as("mean_mills"))
      docScore.join(broadcast(langMean), Seq("lang"))
        .select(col("lang"), col("score_mills"),
          when(col("score_mills") * 2 >= col("mean_mills") * 3, "head")
            .when(col("score_mills") * 2 >= col("mean_mills"), "middle")
            .otherwise("tail").as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score_mills")).as("min_mills"),
          max(col("score_mills")).as("max_mills"),
          sum(col("score_mills")).cast("long").as("sum_mills"))
        .orderBy("lang", "bucket")
    }),

    "q50_blocklist_filter" -> ((s, dir) => {
      // Wordlist-based content filtering (the UT1/RefinedWeb blocklist
      // stage): token-level hits against a curated blocklist, one hit
      // flags the doc for review, two or more hard-filters it. Planted
      // spam suffixes (%19 and %23 strides, overlapping at %437) keep
      // every branch non-vacuous on a clean synthetic corpus. The
      // blocklist is a literal IN set inside a higher-order filter —
      // broadcast-free, map-only until the per-lang audit agg; real
      // deployments swap the literal set for a broadcast join against
      // the list table, same shape.
      val planted = t(s, dir, "documents").select(col("lang"),
        concat(col("text"),
          when(col("doc_id") % 19 === 0, lit(" casino bonus xxx win")).otherwise(lit("")),
          when(col("doc_id") % 23 === 0, lit(" cheap viagra lottery prize")).otherwise(lit("")))
          .as("text"))
      val hits = planted.select(col("lang"),
        size(filter(split(col("text"), " "),
          t => t.isin("casino", "viagra", "xxx", "lottery"))).cast("long").as("n_hits"))
      hits.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_hits") >= 1, 1L).otherwise(0L)).as("n_flagged"),
          sum(when(col("n_hits") >= 2, 1L).otherwise(0L)).as("n_filtered"),
          sum(col("n_hits")).cast("long").as("sum_hits"),
          max(col("n_hits")).as("max_hits"))
        .orderBy("lang")
    }),

    "q51_anchor_text" -> ((s, dir) => {
      // Anchor-text aggregation per target-host class — the webgraph
      // relevance signal (anchor terms describe the TARGET page; search
      // and quality-prior stacks aggregate them by destination). Pages
      // synthesize with four anchors each — internal, a hub external, a
      // partner external (10-way host fan), and an entity-bearing
      // anchor (&amp; decode through the real tokenizer) — and run the
      // REAL Outlinks kernel; DuckDB states the expected link and term
      // counts in closed form. Scale: map-side link fan-out, the only
      // shuffle is the (kind)-keyed audit agg (production groups by
      // dst_host — unbounded key — with the same plan shape).
      import s.implicits._
      val links = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val pageUrl = s"https://host$id.example.com/dir/page"
            val html =
              s"""<html><body>
                 |<a href="/about">home page $id</a>
                 |<a href="https://hub.example.org/guide">best spark guide $id</a>
                 |<a href="https://p${id % 10}.partner.net/x">partner deal $id</a>
                 |<a href="https://hub.example.org/duo">tom &amp; jerry $id</a>
                 |</body></html>""".stripMargin
            graft.extract.Outlinks.extract(html.getBytes("UTF-8"), pageUrl)
              .map { l =>
                val kind =
                  if (!l.external) "internal"
                  else if (l.targetHost == "hub.example.org") "hub"
                  else "partner"
                (kind, l.targetHost, l.anchor,
                  l.anchor.split(" ").count(_.nonEmpty).toLong)
              }
          }
        }.toDF("kind", "dst_host", "anchor", "n_terms")
      links.groupBy(col("kind"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("dst_host")).as("n_hosts"),
          sum(col("n_terms")).cast("long").as("sum_terms"),
          sum(when(col("anchor").contains("&"), 1L).otherwise(0L)).as("n_amp_anchors"),
          min(col("anchor")).as("min_anchor"))
        .orderBy("kind")
    }),

    "q52_table_markdown" -> ((s, dir) => {
      // HTML table → GFM markdown extraction — the reference's
      // formatted-table output mode (GOT-OCR2.0 emits markdown tables
      // in format mode) re-expressed over crawl HTML via the REAL
      // TableMd kernel: a five-case battery per doc (th header,
      // colspan flattening, pipe-escape + entity decode, nested-table
      // folding, ragged-row padding) whose exact markdown DuckDB
      // states in closed form — the whole rendered string is
      // value-compared, not just counts. Map-side kernel fan-out, one
      // audit-agg shuffle (the q33/q48/q51 oracle pattern).
      import s.implicits._
      val tabs = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            Seq(
              "basic" -> (s"<table><tr><th>Name</th><th>V $id</th></tr>" +
                "<tr><td>a</td><td>b</td></tr></table>"),
              "colspan" -> (s"""<table><tr><td colspan="2">wide $id</td>""" +
                "<td>c</td></tr><tr><td>x</td><td>y</td><td>z</td></tr></table>"),
              "escape" -> (s"<table><tr><td>a|b $id</td>" +
                "<td>x &amp; y</td></tr></table>"),
              "nested" -> (s"<table><tr><td>outer <table><tr><td>in $id" +
                "</td></tr></table> tail</td></tr></table>"),
              "ragged" -> (s"<table><tr><th>H $id</th></tr>" +
                "<tr><td>r1</td><td>r2</td></tr></table>"))
              .flatMap { case (kind, html) =>
                graft.extract.TableMd.extract(html.getBytes("UTF-8")).map { tb =>
                  (kind, tb.rows.length.toLong,
                    tb.rows.map(_.length).sum.toLong,
                    tb.headerRows.toLong, tb.markdown)
                }
              }
          }
        }.toDF("kind", "n_rows", "n_cells", "header_rows", "md")
      tabs.groupBy(col("kind"))
        .agg(count(lit(1)).as("n_tables"),
          sum(col("n_rows")).cast("long").as("sum_rows"),
          sum(col("n_cells")).cast("long").as("sum_cells"),
          sum(when(col("header_rows") > 0, 1L).otherwise(0L)).as("n_with_header"),
          countDistinct(col("md")).as("n_md_distinct"),
          min(col("md")).as("min_md"))
        .orderBy("kind")
    }),

    "q53_registrable_domain" -> ((s, dir) => {
      // Registrable-domain (eTLD+1) rollup — the per-DOMAIN aggregation
      // key behind crawl quotas and domain-level dedup (host-keyed
      // groups explode on CDNs/subdomain farms; eTLD+1 is the right
      // granularity). A six-case host battery per doc exercises the
      // longest-known-suffix algorithm (two-level registry, private
      // registry, plain TLD, deep subdomain, single label, bare
      // suffix) through UrlCanon.registrableDomain — pure Catalyst,
      // map-only until the audit agg; DuckDB mirrors the identical
      // suffix-list algorithm.
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("id"))
      val hosts = d.select(explode(array(
        struct(lit("uk_two_level").as("kind"),
          concat(lit("www.shop"), (col("id") % 50).cast("string"), lit(".co.uk")).as("host")),
        struct(lit("private_registry").as("kind"),
          concat(lit("blog"), (col("id") % 30).cast("string"), lit(".github.io")).as("host")),
        struct(lit("plain_tld").as("kind"),
          concat(lit("cdn.site"), (col("id") % 40).cast("string"), lit(".com")).as("host")),
        struct(lit("deep_subdomain").as("kind"),
          concat(lit("a.b.site"), (col("id") % 20).cast("string"), lit(".org")).as("host")),
        struct(lit("single_label").as("kind"), lit("localhost").as("host")),
        struct(lit("bare_suffix").as("kind"), lit("co.uk").as("host")))).as("e"))
        .select(col("e.kind").as("kind"), col("e.host").as("host"))
      hosts
        .withColumn("dom", graft.functions.UrlCanon.registrableDomain(col("host")))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_hosts"),
          countDistinct(col("host")).as("n_distinct_hosts"),
          countDistinct(col("dom")).as("n_domains"),
          min(col("dom")).as("min_domain"),
          max(col("dom")).as("max_domain"))
        .orderBy("kind")
    }),

    "q54_phrase_search" -> ((s, dir) => {
      // Exact-phrase retrieval via a POSITIONAL inverted index — the
      // phrase-query half of the q44 retrieval stack: (doc, pos, term)
      // postings filtered to the phrase vocabulary BEFORE any shuffle,
      // then a self-equi-join on (doc_id, pos+1) pairs consecutive
      // terms. The DuckDB oracle computes the same phrases by direct
      // per-doc array scan — two different algorithms (distributed
      // index join vs naive scan), one answer. Scale: postings key by
      // (doc_id) for the adjacency join; the IN filter keeps only
      // phrase-vocabulary postings flowing.
      import s.implicits._
      val phrases = Seq(("key order", "key", "order"),
        ("group query", "group", "query"),
        ("table scan", "table", "scan")).toDF("phrase", "w0", "w1")
      val toks = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      val vocab0 = Seq("key", "group", "table")
      val vocab1 = Seq("order", "query", "scan")
      val first = toks.filter(col("term").isin(vocab0: _*))
        .join(broadcast(phrases), col("term") === col("w0"))
        .select(col("phrase"), col("doc_id"), col("pos"), col("w1"))
      val second = toks.filter(col("term").isin(vocab1: _*))
        .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"),
          col("term").as("term2"))
      first.join(second,
          col("doc_id") === col("doc_id2") &&
            col("pos2") === col("pos") + 1 && col("term2") === col("w1"))
        .groupBy(col("phrase"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
        .orderBy("phrase")
    }),

    "q55_quality_retention" -> ((s, dir) => {
      // Near-dup cluster retention by QUALITY argmax (the production
      // refinement of q43's min-id policy: real pipelines keep each
      // cluster's best-quality member, tie-broken deterministically by
      // min doc_id). Quality is a planted integer score so the argmax
      // genuinely disagrees with min-id. Two aggs — per-cluster max
      // quality, then min doc_id among the maximizers — both
      // cluster-keyed (cardinality grows with data); the same q25/q43
      // connectedComponents labels drive membership.
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .withColumn("quality", (col("n_chars") * 7 + col("doc_id") * 13) % 1000)
      val nodes = docs.filter(col("doc_id") % 10 <= 5)
      val edges = nodes.select(col("doc_id").as("doc_a"))
        .filter(col("doc_a") % 10 < 4)
        .join(nodes.select(col("doc_id").as("doc_b")),
          col("doc_b") === col("doc_a") + 1)
      val labels = graft.functions.TextSketch.connectedComponents(edges)
      val members = nodes.join(labels, nodes("doc_id") === labels("id"), "left")
        .select(col("lang"), col("n_chars"), col("quality"), nodes("doc_id"),
          coalesce(col("label"), nodes("doc_id")).as("cluster"))
      val qmax = members.groupBy(col("cluster"))
        .agg(max(col("quality")).as("q_best"))
      val keeper = members.join(qmax, Seq("cluster"))
        .filter(col("quality") === col("q_best"))
        .groupBy(col("cluster"))
        .agg(min(col("doc_id")).as("keep_doc"))
      members.join(keeper, Seq("cluster"))
        .select(col("lang"), col("n_chars"), col("quality"),
          (col("doc_id") === col("keep_doc")).as("kept"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("chars_kept"),
          sum(when(!col("kept"), col("n_chars")).otherwise(0L)).as("chars_dropped"),
          max(when(col("kept"), col("quality"))).as("max_quality_kept"))
        .orderBy("lang")
    }),

    "q56_crawl_delay_audit" -> ((s, dir) => {
      // Crawl-delay compliance audit — q39's politeness machinery
      // joined against each host's OWN declared Crawl-delay, parsed
      // from synthesized robots.txt through the REAL parser (group
      // selection included: a `*` group declares 1s, the graftbot
      // group 5..11s — the specific group must shadow the wildcard,
      // which the oracle's closed form asserts). Violations = observed
      // inter-arrival gaps under the declared delay. Scale: the
      // host-keyed window (unbounded cardinality) plus one host-keyed
      // broadcast-sized join per partition of hosts.
      import s.implicits._
      val declared = t(s, dir, "events")
        .select(col("user_id").cast("long").as("host_id")).distinct().as[Long]
        .map { h =>
          val robots =
            s"""User-agent: *
               |Crawl-delay: 1
               |
               |User-agent: graftbot
               |Crawl-delay: ${5 + h % 7}
               |Disallow: /tmp
               |""".stripMargin
          val d = graft.extract.Robots.crawlDelay(robots, "graftbot").getOrElse(0.0)
          (h, (d * 1000).toLong)
        }.toDF("host_id", "declared_ms")
      val w = Window.partitionBy("host_id").orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id").cast("long").as("host_id"), col("ts"),
          col("event_id").cast("long").as("event_id"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .select(col("host_id"),
          (unix_millis(col("ts").cast("timestamp"))
            - unix_millis(col("prev_ts").cast("timestamp"))).as("gap_ms"))
      gaps.join(declared, Seq("host_id"))
        .groupBy(col("host_id"))
        .agg(max(col("declared_ms")).as("declared_ms"),
          count(lit(1)).as("n_gaps"),
          sum(when(col("gap_ms") < col("declared_ms"), 1L).otherwise(0L))
            .as("n_violations"),
          min(col("gap_ms")).as("min_gap_ms"))
        .orderBy("host_id")
    }),

    "q57_pdf_table" -> ((s, dir) => {
      // PDF table extraction via layout analysis — the binary-payload
      // half of the reference's formatted-table mode (q52 covers HTML;
      // GOT-OCR2.0's format mode emits markdown tables from document
      // pixels, run_ocr_2.0.py OCR-format path). A five-case battery per
      // doc synthesizes REAL Flate-compressed PDFs via PdfWriter and
      // recovers the table from text POSITIONS through the REAL
      // PdfParser→PdfTable kernel: grid-in-prose, ragged rows,
      // same-column space-joins, two tables split by prose, and the
      // two-column page LAYOUT that must be vetoed (zero tables). DuckDB
      // states each case's exact markdown in closed form — whole strings
      // value-compared. Map-side kernel fan-out, one audit-agg shuffle
      // (the q52 oracle pattern).
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          import graft.pdf.{PdfTable, PdfWriter}
          it.flatMap { id =>
            val cases = Seq(
              "grid" -> PdfWriter.makeCells(Seq(
                Seq(72 -> s"Report $id"),
                Seq(72 -> "Name", 200 -> s"V $id"),
                Seq(72 -> "alpha", 200 -> "1"),
                Seq(72 -> "beta", 200 -> "2"),
                Seq(72 -> "Footnote."))),
              "ragged" -> PdfWriter.makeCells(Seq(
                Seq(72 -> s"T $id"),
                Seq(72 -> "A", 200 -> s"B $id", 330 -> "C"),
                Seq(72 -> "d", 330 -> "f"),
                Seq(72 -> "after"))),
              "join" -> PdfWriter.makeCells(Seq(
                Seq(72 -> s"T $id"),
                Seq(72 -> "a", 80 -> "b", 200 -> s"v $id"),
                Seq(72 -> "c", 200 -> "d"),
                Seq(72 -> "after"))),
              "twotab" -> PdfWriter.makeCells(Seq(
                Seq(72 -> "h1", 200 -> s"h2 $id"),
                Seq(72 -> "a", 200 -> "b"),
                Seq(72 -> "interlude prose"),
                Seq(72 -> "H1", 200 -> "H2"),
                Seq(72 -> "c", 200 -> "d"))),
              "layout" -> PdfWriter.makeTwoColumn(
                (1 to 6).map(i => s"left prose line $i of $id"),
                (1 to 6).map(i => s"right prose line $i")))
            cases.map { case (kind, pdf) =>
              val ts = PdfTable.tables(pdf)
              (kind, ts.length.toLong, ts.map(_.rows.length.toLong).sum,
                ts.map(_.rows.map(_.length).sum.toLong).sum,
                ts.headOption.map(_.markdown).getOrElse(""))
            }
          }
        }.toDF("kind", "n_tables", "n_rows", "n_cells", "md")
      rows.groupBy(col("kind"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tables")).cast("long").as("sum_tables"),
          sum(col("n_rows")).cast("long").as("sum_rows"),
          sum(col("n_cells")).cast("long").as("sum_cells"),
          countDistinct(col("md")).as("n_md_distinct"),
          min(col("md")).as("min_md"))
        .orderBy("kind")
    }),

    "q58_page_meta" -> ((s, dir) => {
      // Page-metadata extraction (title / description / OpenGraph /
      // canonical / lang) — the per-document header fields a corpus
      // carries beside its extracted text. A five-case battery per doc
      // runs synthesized heads through the REAL Meta kernel (head-only
      // early-exit scan): full head, first-occurrence-wins duplicates,
      // body-placed spam tags that must be ignored, a mid-tag truncated
      // head, and case-insensitive name/rel-token matching. DuckDB
      // states every extracted string in closed form. Map-side kernel
      // fan-out, one audit-agg shuffle (the q52/q57 oracle pattern).
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          import graft.extract.Meta
          it.flatMap { id =>
            val cases = Seq(
              "full" -> (s"""<html lang="EN"><head><title>Doc &amp; $id</title>""" +
                s"""<meta name="description" content="desc $id">""" +
                s"""<meta property="og:title" content="OG $id">""" +
                s"""<link rel="canonical" href="https://c.example.com/$id">""" +
                "</head><body>text</body></html>"),
              "firstwins" -> (s"<head><title>W $id</title><title>second</title>" +
                s"""<meta property="og:title" content="one $id">""" +
                """<meta property="og:title" content="two"></head>"""),
              "bodyspam" -> (s"<html><head><title>T $id</title></head><body>" +
                """<meta property="og:title" content="spam">""" +
                """<link rel="canonical" href="https://spam">"""),
              "truncated" -> (s"<head><title>K $id</title><meta name=" + "\"descr"),
              "tokenrel" -> (s"""<head><META NAME="Description" CONTENT="D $id">""" +
                s"""<link rel="alternate canonical" href="https://r.example.com/$id">""" +
                "</head>"))
            cases.map { case (kind, html) =>
              val pm = Meta.extract(html.getBytes("UTF-8"))
              (kind, pm.title, pm.description, pm.ogTitle, pm.canonical,
                pm.htmlLang)
            }
          }
        }.toDF("kind", "title", "description", "og_title", "canonical", "lang")
      rows.groupBy(col("kind"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("title")).as("n_titles"),
          min(col("title")).as("min_title"),
          min(col("description")).as("min_desc"),
          min(col("og_title")).as("min_og"),
          min(col("canonical")).as("min_canonical"),
          max(col("lang")).as("max_lang"))
        .orderBy("kind")
    }),

    "q59_snapshot_compact" -> ((s, dir) => {
      // Snapshot compaction — latest-revision-wins over an append-only
      // crawl log (the CDC-upsert READ shape: q42 diffs two snapshots;
      // this collapses N appended revisions of a url to its newest
      // before extraction). Revisions are synthesized deterministically:
      // doc_id%3+1 fetches per url, each later fetch monotonically newer
      // (fetch_ms) and longer. Scale: the ONLY shuffle is a url-keyed
      // groupBy whose max(struct(fetch_ms, …)) argmax aggregates
      // partially map-side — never a row_number window (a window keyed
      // by url would sort every url's revisions in one task and buffer
      // the hottest url whole; the struct-max is the skew-proof shape,
      // same reasoning as q55's quality argmax).
      val base = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("source"), length(col("text")).cast("long").as("len0"))
      val revs = base
        .select(col("*"), explode(sequence(lit(0L), col("doc_id") % 3)).as("rev"))
        .select(
          concat(lit("https://"), col("source"), lit(".example.com/p"),
            col("doc_id").cast("string")).as("url"),
          col("lang"),
          (col("doc_id") * 1000 + col("rev")).as("fetch_ms"),
          (col("len0") + col("rev") * 7).as("text_len"))
      val latest = revs.groupBy(col("url"), col("lang"))
        .agg(max(struct(col("fetch_ms"), col("text_len"))).as("m"),
          count(lit(1)).as("n_revs"))
        .select(col("lang"), col("m.fetch_ms").as("fetch_ms"),
          col("m.text_len").as("latest_len"), col("n_revs"))
      latest.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("n_revs")).cast("long").as("n_rows_in"),
          sum(when(col("n_revs") > 1, 1L).otherwise(0L)).as("n_compacted"),
          sum(col("latest_len")).cast("long").as("sum_latest_len"),
          max(col("fetch_ms")).as("max_fetch_ms"))
        .orderBy("lang")
    }),

    "q60_recrawl_priority" -> ((s, dir) => {
      // Recrawl scheduling — per-url change-rate estimation from fetch
      // history (the Cho/Garcia-Molina frequency estimator in its
      // Laplace-smoothed form), the feedback signal that decides which
      // of 10^12 urls the crawler revisits first. Fetch logs are
      // synthesized deterministically (doc_id%5+2 fetches per url; fetch
      // r>0 observed a change iff (doc_id+r)%3==0) and the estimate is
      // INTEGER rationals end to end — rate_mills = 1000*(changes+1) DIV
      // (intervals+2) — so both engines agree bit-for-bit (the q35/q49
      // discipline: no float division across engines). Scale: one
      // url-keyed groupBy with map-side partial counts (the fetch-log
      // fan-in), then a bounded (lang, bucket) audit agg.
      val logRows = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"), col("lang"))
        .select(col("*"), explode(sequence(lit(0L), col("id") % 5 + 1)).as("r"))
        .select(
          concat(lit("https://"), lit("h"), col("id").cast("string"),
            lit(".example.com/")).as("url"),
          col("lang"),
          when(col("r") > 0 && (col("id") + col("r")) % 3 === 0, 1L)
            .otherwise(0L).as("changed"))
      val perUrl = logRows.groupBy(col("url"), col("lang"))
        .agg(count(lit(1)).as("n_fetches"),
          sum(col("changed")).cast("long").as("n_changes"))
        .withColumn("rate_mills",
          expr("1000 * (n_changes + 1) DIV (n_fetches + 1)"))
        .withColumn("bucket",
          when(col("rate_mills") >= 500, "high")
            .when(col("rate_mills") >= 200, "mid").otherwise("low"))
      perUrl.groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("n_changes")).cast("long").as("sum_changes"),
          sum(col("rate_mills")).cast("long").as("sum_rate_mills"))
        .orderBy("lang", "bucket")
    }),

    "q61_robots_sitemaps" -> ((s, dir) => {
      // Robots `Sitemap:` declarations — the crawl-seeding link between
      // q36 (fetchability) and q40 (sitemap parsing): a crawler
      // discovers each host's sitemap set FROM its robots.txt. The
      // declarations are GLOBAL records (group position irrelevant),
      // dedup by first occurrence, directive case-insensitive, comments
      // strip, empty values drop — all exercised per doc through the
      // REAL parser; DuckDB states the surviving url list in closed
      // form (the second declaration collides with the first exactly
      // when doc_id%3==1, making the dedup arm non-vacuous). Map-side
      // kernel, one audit-agg shuffle.
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val robots =
              s"""User-agent: *
                 |Disallow: /tmp
                 |Sitemap: https://h$id.example.com/s1.xml
                 |
                 |User-agent: graftbot
                 |SITEMAP: https://h$id.example.com/s${id % 3}.xml
                 |Sitemap: https://h$id.example.com/s1.xml
                 |# Sitemap: https://h$id.example.com/commented.xml
                 |Sitemap:
                 |""".stripMargin
            val urls = graft.extract.Robots.sitemapUrls(robots)
            (id, urls.length.toLong, urls.mkString("|"))
          }
        }.toDF("doc_id", "n_sitemaps", "urls")
      rows.groupBy(col("n_sitemaps"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("urls")).as("n_distinct"),
          min(col("urls")).as("min_urls"))
        .orderBy("n_sitemaps")
    }),

    "q62_crawl_budget" -> ((s, dir) => {
      // Crawl budget allocation — apportion a global fetch budget across
      // domains proportionally to their page counts by the LARGEST-
      // REMAINDER method (Hamilton's): base = floor(B*n_i/N), then the
      // leftover slots go one each to the largest remainders (tie-break
      // by domain name, deterministic). Integer arithmetic end to end —
      // quotas sum EXACTLY to the budget, no float drift, and DuckDB
      // steps the identical recurrence. Scale note: the ranked set is
      // the DOMAIN table, orders of magnitude smaller than the page
      // corpus (the page-level work is one source-keyed count with
      // map-side partial agg); a global sort of the domain table is the
      // textbook acceptable global sort — it is the OUTPUT, not the
      // data. B chosen non-divisible so the remainder arm is never
      // vacuous.
      val B = 997L // prime: never divides evenly across domain counts
      val counts = t(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).cast("long").as("n_docs"))
      val total = counts.agg(sum(col("n_docs")).cast("long").as("n_total"))
      val based = counts.crossJoin(broadcast(total))
        .select(col("source"), col("n_docs"), col("n_total"),
          // integer DIV, not float divide: 997*n/N in doubles can land
          // at x.9999… and floor wrong; DIV is exact in both engines
          expr(s"($B * n_docs) DIV n_total").as("base_quota"),
          ((lit(B) * col("n_docs")) % col("n_total")).as("remainder"))
      val w = Window.orderBy(col("remainder").desc, col("source").asc)
      based
        .withColumn("r_rank", row_number().over(w))
        .crossJoin(broadcast(based.agg(
          (lit(B) - sum(col("base_quota"))).cast("long").as("n_extra"))))
        .select(col("source"), col("n_docs"), col("base_quota"),
          when(col("r_rank") <= col("n_extra"), 1L).otherwise(0L).as("extra"),
          (col("base_quota") +
            when(col("r_rank") <= col("n_extra"), 1L).otherwise(0L))
            .as("quota"))
        .orderBy("source")
    }),

    "q63_bpe_encode" -> ((s, dir) => {
      // BPE encode with a VALUE oracle (x30 is rows-only): the merge
      // table is learned by the deterministic local reference from the
      // classic Sennrich vocabulary — {low:5, lower:2, newest:6,
      // widest:3}, k=4 gives merges (e,s),(es,t),(l,o),(lo,w), pinned
      // by BpeSpec — so the segmentation of ANY word is a closed-form
      // fact DuckDB can state. Four word shapes per doc cover: a fully
      // trained word, an unseen word built from trained subwords, an
      // untouched-character word, and the single-symbol fast path.
      // Scale shape: the merge table broadcasts in the closure (it is
      // KB-sized); encode is map-only; one audit-agg shuffle.
      import s.implicits._
      val merges = graft.functions.Bpe.learnMergesLocal(Seq(
        ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)), 4)
        .map(m => (m.left, m.right))
      val rows = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val word = (id % 4) match {
              case 0 => "lowest"
              case 1 => "newest"
              case 2 => "low"
              case _ => "wider"
            }
            val toks = graft.functions.Bpe.encode(word, merges)
            (word, toks.length.toLong, toks.mkString("|"))
          }
        }.toDF("word", "n_tokens", "seg")
      rows.groupBy(col("word"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tokens")).as("n_tokens"),
          min(col("seg")).as("seg"))
        .orderBy("word")
    }),

    "q64_simhash_hamming" -> ((s, dir) => {
      // Near-dup pair mining at Hamming distance <= 3 over 64-bit
      // signatures via the Manku/Jain/Sarma multi-block pigeonhole
      // join (functions/HammingNearDup) — completing the SimHash
      // family: x07 computes signatures, this finds the PAIRS. The
      // block-combination candidate generation is provably COMPLETE,
      // so the DuckDB oracle brute-forces ALL O(n^2) pairs with
      // bit_count(xor) and the engines must agree EXACTLY — the
      // oracle checks candidate completeness, not plausibility.
      // Signatures are closed-form from doc_id so both engines hold
      // the same corpus: docs come in families of 4 over a shared
      // base pattern; member m flips the first m of 3 nested bit
      // positions, so intra-family pairs sit at distance |m_a - m_b|
      // in {1,2,3} (chance cross-family coincidences are seen
      // identically by both engines). Scale shape: map-only 20-key
      // fan-out, ONE equi-join shuffle on a 38-bit compound key
      // (bucket ~hundreds of rows at 10^12 docs), codegen
      // bit_count(xor) verification — ids and sigs move, payloads
      // never do.
      val sigs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("fam", expr("doc_id div 4"))
        .withColumn("mem", expr("doc_id % 4"))
        .withColumn("sig", expr(
          """(fam * 1103515245 + 12345) % 1099511627776
            | ^ (CASE WHEN mem >= 1 THEN shiftleft(CAST(1 AS BIGINT), CAST(fam % 13 AS INT)) ELSE CAST(0 AS BIGINT) END)
            | ^ (CASE WHEN mem >= 2 THEN shiftleft(CAST(1 AS BIGINT), CAST(13 + fam % 13 AS INT)) ELSE CAST(0 AS BIGINT) END)
            | ^ (CASE WHEN mem >= 3 THEN shiftleft(CAST(1 AS BIGINT), CAST(26 + fam % 13 AS INT)) ELSE CAST(0 AS BIGINT) END)""".stripMargin))
        .select("doc_id", "sig")
      graft.functions.HammingNearDup.pairs(sigs, "doc_id", "sig", 3)
        .groupBy(col("dist").cast("long").as("dist"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("a_id")).as("min_a"),
          max(col("b_id")).as("max_b"),
          sum(col("a_id") + col("b_id")).as("pair_checksum"))
        .orderBy("dist")
    }),

    "q65_histogram_quantiles" -> ((s, dir) => {
      // Fixed-memory per-host length-quantile SKETCH — q46's 100 TB
      // form. q46 is exact but row_number-windows over every doc of a
      // host, so one giant host = one giant sorted task input. Here
      // each doc maps to its power-of-two bin (bin index = length of
      // the binary rendering of n_chars — integer-exact in both
      // engines, no float-log2 ULP hazard at exact powers), the
      // histogram is ONE partial-aggregating shuffle keyed
      // (host, bin), and quantiles read off the <= 64-row per-host
      // histogram: the cumulative window runs over BINS, not docs, so
      // task input is bounded by 64 whatever the host's size. The
      // price is bin-granular quantiles — the standard histogram-
      // sketch tradeoff (memory O(bins), error one bin).
      // runs on the reusable functions/HistogramSketch operator
      // (VERDICT r4 optional #8); this oracle pins it cross-engine
      import graft.functions.HistogramSketch
      val d = t(s, dir, "documents")
        .select(col("source").as("host"), col("n_chars"))
      HistogramSketch.quantileSummary(
          HistogramSketch.build(d, "n_chars", Seq("host")), Seq("host"))
        .orderBy("host")
    }),

    "q66_distinct_sketch" -> ((s, dir) => {
      // Distinct-cardinality estimation by deterministic hash
      // thresholding (Flajolet-style adaptive sampling, the KMV dual):
      // a word enters the sample iff md5(word) < '04' — a fixed 1/64
      // slice of hash space — and the estimate is 64 * |sampled
      // distinct|. Deterministic (no RNG, unlike HLL++ with its
      // engine-specific registers), mergeable (the sample is a set),
      // and the distinct-shuffle carries only the 1/64 hash-sampled
      // stream instead of every distinct word — the scale path when
      // exact countDistinct's shuffle IS the bottleneck (vocabulary
      // ~billions at 100 TB). The exact count rides along as the
      // audit column (test-scale only); err_mills pins the
      // estimator's accuracy in integer mills.
      // Mergeable multi-slice form: because the sample is the SET
      // {w : md5(w) < t}, per-ingest samples union losslessly (same
      // property as q65's histogram rows), and variance tunes by
      // moving the threshold t — k/64, k/256, … — without changing
      // the estimator shape; distributed slices taken under DIFFERENT
      // thresholds merge by re-filtering to the tightest t before the
      // union (KMV's standard merge rule).
      val sampled = countDistinct(when(col("h") < "04", col("w")))
      t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .withColumn("h", md5(col("w").cast("binary")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          countDistinct(col("w")).as("n_exact"),
          sampled.as("n_sampled"),
          (sampled * 64).cast("long").as("est"))
        .withColumn("err_mills",
          expr("abs(est - n_exact) * 1000 div greatest(n_exact, 1)"))
        .orderBy("lang")
    }),

    "q67_countmin_sketch" -> ((s, dir) => {
      // Count-Min frequency sketch (functions/CountMin) — hot-key /
      // heavy-hitter detection in fixed memory: counters total d*w
      // longs whatever the input size, built by ONE map-side-combining
      // aggregate; estimates broadcast-join the tiny counter table.
      // The item stream is skew-planted closed-form (even doc_ids
      // collapse onto 4 heavy items, odd ids spread over 97 light
      // ones) so both engines hold the same stream, and the oracle
      // recomputes the ENTIRE sketch in SQL — same universal-family
      // hashes, same counters, same min — plus the exact counts, so
      // the `over` column also pins the never-undercount property
      // per item.
      val items = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("item", expr(
          "CASE WHEN doc_id % 2 = 0 THEN (doc_id div 2) % 4 ELSE doc_id % 97 END"))
        .select("item")
      val counters = graft.functions.CountMin.buildCounters(items, 3, 32)
      val est = graft.functions.CountMin.estimate(items.distinct(), counters, 3, 32)
      val exact = items.groupBy("item").agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("item"))
        .withColumn("over", col("est") - col("exact"))
        .orderBy("item")
    }),

    "q68_asof_join" -> ((s, dir) => {
      // As-of join (functions/AsofJoin): each event resolves to the
      // most recent revision in force at its timestamp — the
      // point-in-time lookup Spark has no native operator for. The
      // revision table derives from the events table itself (every
      // 5th event id marks a revision for its user, deduped to one
      // per (user, ts) by max id — the operator's uniqueness
      // contract), so both engines hold identical sides; DuckDB
      // verifies with its NATIVE ASOF LEFT JOIN — an independent
      // implementation of the same semantics, including the
      // revision-at-exactly-event-time tie (<=, not <). Gap millis
      // use the q39 unix_millis/epoch_ms idiom.
      val ev = t(s, dir, "events")
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("ts").cast("timestamp").as("ts"), col("event_type"))
      val revs = ev.filter(col("event_id") % 5 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("rev"))
      graft.functions.AsofJoin.asofJoin(ev, revs, "user_id", "ts")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("asof").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(coalesce(col("asof.rev"), lit(0L))).as("rev_checksum"),
          coalesce(max(unix_millis(col("ts")) - unix_millis(col("asof_ts"))),
            lit(-1L)).as("max_gap_ms"))
        .orderBy("event_type")
    }),

    "q69_range_join" -> ((s, dir) => {
      // Range (interval-containment) join (functions/RangeJoin):
      // docs bucket into quadratic-width size classes [25r^2,
      // 25(r+1)^2) — variable-width intervals, so the bucket-expansion
      // equi-join earns its keep (a fixed-width class map would be a
      // plain div). Catalyst's native plan for the lo<=x<hi predicate
      // is a nested-loop join; the operator turns it into one
      // equi-join shuffle on a coarse bucket id + exact residual
      // filter. The oracle IS the naive containment join — DuckDB
      // evaluates the predicate directly, so equality proves the
      // bucket expansion neither drops nor duplicates matches.
      val ranges = s.range(0, 40).toDF("r")
        .withColumn("lo", expr("r * r * 25"))
        .withColumn("hi", expr("(r + 1) * (r + 1) * 25"))
      val probe = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
      graft.functions.RangeJoin.rangeJoin(probe, "n_chars", ranges, 64L)
        .groupBy(col("r"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("doc_id")).as("doc_checksum"))
        .orderBy("r")
    }),

    "q70_range_shards" -> ((s, dir) => {
      // Deterministic range partitioning for total-order corpus
      // emission (curriculum ordering, sorted-run output): Spark's
      // repartitionByRange draws SAMPLED boundaries — two runs of the
      // same job can split differently, which breaks byte-reproducible
      // output contracts. Here boundaries derive from the q65
      // histogram: 8 shards split at the bins where cumulative count
      // crosses s/8 of the corpus — content-deterministic, integer-
      // exact, reproducible cross-engine. Scale shape: the histogram
      // is one tiny agg (<= 64 bins), boundaries are 7 rows broadcast
      // back, shard assignment is map-only — no doc-level window, no
      // sample pass. Shard sizes are bin-granular (the histogram-
      // sketch tradeoff, same as q65).
      // boundaries come from the reusable HistogramSketch operator
      // (global histogram + shardBounds); assignment stays map-only
      import graft.functions.HistogramSketch
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
        .withColumn("bin", HistogramSketch.binOf(col("n_chars")))
      val bounds = HistogramSketch.shardBounds(
        HistogramSketch.build(d, "n_chars", Nil), 8)
      d.crossJoin(broadcast(bounds))
        .groupBy(col("doc_id"), col("bin"))
        .agg(sum(when(col("b") < col("bin"), 1L).otherwise(0L)).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("bin")).as("min_bin"),
          max(col("bin")).as("max_bin"),
          sum(col("doc_id")).as("doc_checksum"))
        .orderBy("shard")
    }),

    "q71_weighted_sample" -> ((s, dir) => {
      // Deterministic weighted sampling without replacement — priority
      // (sequential Poisson) sampling, Ohlsson / Duffield-Lund-Thorup,
      // with a fixed integer hash standing in for the RNG: priority =
      // hash40(doc_id) / weight, keep the k SMALLEST per lang, so
      // inclusion probability grows with weight and the sample is
      // reproducible run-to-run and engine-to-engine (q30's unweighted
      // stratified cousin). The one float op is a single division of
      // exactly-represented integers — IEEE-identical cross-engine
      // (the q35 discipline). Scale: bounded TopKAgg — k rows per
      // (partition, lang) shuffle, map-side partial merge — never a
      // per-lang row_number window (the q32 bounded-key hazard).
      val d = t(s, dir, "documents")
        .select(col("lang"), col("doc_id").cast("long").as("doc_id"),
          greatest(col("n_chars").cast("long"), lit(1L)).as("w"))
        .withColumn("code", (ascii(substring(col("lang"), 1, 1)) * 256 +
          ascii(substring(col("lang"), 2, 1))).cast("long"))
        .withColumn("h", expr("(doc_id * 2654435761) % 1099511627776"))
        .withColumn("score",
          -(col("h").cast("double") / col("w").cast("double")))
      graft.functions.TopK.perQuery(
          d.select(col("code").as("query_id"), col("doc_id").as("id"),
            col("score")), 10)
        .select(col("query_id").as("lang_code"), col("rank"),
          col("id").as("doc_id"), col("score"))
        .orderBy("lang_code", "rank")
    }),

    "q72_hashed_classifier" -> ((s, dir) => {
      // Model-based quality filtering with a HASHED-FEATURES linear
      // classifier — the fasttext/DCLM-style quality-scorer shape:
      // word -> 32-bit md5 bucket mod 1024, score = sum of per-bucket
      // weights over the doc's words (with multiplicity), keep = sign.
      // The weight table here is a fixed closed-form map (a real
      // deployment swaps in trained weights; the operator IS the
      // hashing/scoring plumbing). Cross-engine exactness: Spark
      // conv(hex,16,10) and DuckDB '0x'-cast read the same 8 md5 hex
      // chars to the same int, and scoring is all integer adds.
      // Scale: higher-order aggregate over split() — MAP-ONLY per doc
      // (no explode, the q27 discipline), one tiny (lang, kept) agg.
      // coalesce: a NULL text scores 0 (kept), matching the oracle's
      // coalesce(list_sum(...), 0) — without it Spark propagates NULL
      // through aggregate() and the engines diverge on nullable text
      val score = expr(
        """coalesce(aggregate(
          |  filter(split(text, ' '), w -> w != ''),
          |  CAST(0 AS BIGINT),
          |  (acc, w) -> acc +
          |    (((CAST(conv(substring(md5(CAST(w AS BINARY)), 1, 8), 16, 10)
          |        AS BIGINT) % 1024) * 2654435761) % 17) - 8), CAST(0 AS BIGINT))""".stripMargin)
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id").cast("long").as("doc_id"),
          score.as("score"))
        .withColumn("kept", col("score") >= 0)
        .groupBy(col("lang"), col("kept"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("score")).as("sum_score"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy("lang", "kept")
    }),

    "q73_decontam_excise" -> ((s, dir) => {
      // Decontamination by span EXCISION (DecontamBloom.exciseGrams) —
      // the surgical form: q28/x24 flag or drop whole docs, this
      // removes exactly the tokens covered by matching benchmark
      // n-grams and keeps the rest of the page. Contamination is
      // PLANTED closed-form (zz-prefixed marker grams that cannot
      // occur naturally): mid-page quote, leading quote, adjacent
      // double quote (union of overlapping excisions), and a PARTIAL
      // marker that must SURVIVE — so the oracle states each doc's
      // expected cleaned text directly (the q36 closed-form
      // discipline) and any kernel deviation shifts the md5 signature.
      // Scale: gram set broadcasts in the closure, excision is
      // map-only, one (lang) audit agg.
      import s.implicits._
      val grams = Set("zzeval zzbench zzq zzalpha", "zzeval zzbench zzq zzbeta")
      val pages = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          // coalesce: NULL text normalizes to '' in BOTH engines (the
          // q72 nullable-text discipline)
          expr("concat_ws(' ', filter(split(coalesce(text, ''), ' '), w -> w != ''))")
            .as("btext"))
        .withColumn("page", expr(
          """concat(
            |  CASE CAST(doc_id % 3 AS INT)
            |    WHEN 0 THEN concat(btext, ' zzeval zzbench zzq zzalpha ', btext)
            |    WHEN 1 THEN concat('zzeval zzbench zzq zzbeta ', btext)
            |    ELSE btext END,
            |  CASE WHEN doc_id % 7 = 0
            |    THEN ' zzeval zzbench zzq zzalpha zzeval zzbench zzq zzalpha'
            |    ELSE '' END,
            |  CASE WHEN doc_id % 5 = 0 THEN ' zzeval zzbench' ELSE '' END)""".stripMargin))
      val cleaned = pages.select(col("doc_id"), col("lang"), col("page"))
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.map { case (id, lang, page) =>
            val (clean, removed) =
              graft.functions.DecontamBloom.exciseGrams(page, grams, 4)
            (id, lang, clean, removed.toLong)
          }
        }
        .toDF("doc_id", "lang", "clean", "n_removed")
      cleaned.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_removed")).as("sum_removed"),
          sum(expr("CAST(conv(substring(md5(CAST(clean AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
            .as("clean_sig"),
          sum(length(col("clean"))).cast("long").as("sum_chars"))
        .orderBy("lang")
    }),

    "q74_event_funnel" -> ((s, dir) => {
      // Ordered-sequence (funnel) matching — MATCH_RECOGNIZE-lite:
      // which users did view -> click -> purchase in time order, with
      // first-match cascade semantics (t1 = first view, t2 = first
      // click at/after t1, t3 = first purchase at/after t2). Spark
      // side: ONE shuffle — per-user event arrays (bounded by a
      // user's own activity, the q26 key shape) walked with pure
      // higher-order column expressions (correlated lambdas, no
      // second pass over the table). The oracle is a genuinely
      // DIFFERENT algorithm — a 3-pass join cascade — so agreement
      // checks the semantics, not a restatement. Millis via the
      // q39 unix_millis/epoch_ms parity idiom.
      // Runs on the reusable operator (functions/Funnel, VERDICT r4
      // #5); FunnelSpec pins matchStages against an independent local
      // walk, and this oracle pins the 3-stage instance cross-engine.
      // Conversion window: each stage must follow the previous within
      // 6 hours, so the no-match (drop-off) path is genuinely
      // exercised — without the bound this corpus converts everyone.
      import graft.functions.Funnel
      val win = Some(21600000L)
      val per = Funnel.matchStages(
        t(s, dir, "events").select(col("user_id").cast("long").as("u"),
          unix_millis(col("ts").cast("timestamp")).as("tsm"),
          col("event_type")),
        Seq(Funnel.Stage("view", "view"),
          Funnel.Stage("click", "click", win),
          Funnel.Stage("purchase", "purchase", win)),
        keyCol = "u", tsCol = "tsm", typeCol = "event_type")
      per.groupBy((col("u") % 5).as("cohort"))
        .agg(count(lit(1)).as("n_users"),
          count(col("t_view")).as("n_viewed"),
          count(col("t_click")).as("n_clicked"),
          count(col("t_purchase")).as("n_purchased"),
          coalesce(sum(col("t_purchase") - col("t_view")), lit(0L)).as("sum_funnel_ms"),
          coalesce(max(col("t_purchase") - col("t_view")), lit(-1L)).as("max_funnel_ms"))
        .orderBy("cohort")
    }),

    "q75_salted_distinct" -> ((s, dir) => {
      // Skew-safe EXACT distinct counting — the published two-phase
      // rewrite: salt by a hash OF THE COUNTED VALUE (each distinct
      // word lands in exactly one salt bucket, so per-bucket distinct
      // counts SUM to the true total — lossless, unlike row-salting),
      // partial countDistinct per (lang, salt), then a tiny per-lang
      // sum. Why it matters at 100 TB: naive COUNT(DISTINCT) ships a
      // hot language's ENTIRE word set to one reducer (the q32
      // bounded-key hazard in aggregate form); here the hot key splits
      // 16 ways and phase 2 merges 16 longs. The oracle computes the
      // single-phase truth — equality proves the rewrite lossless.
      t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .withColumn("salt", pmod(xxhash64(col("w")), lit(16)))
        .groupBy(col("lang"), col("salt"))
        .agg(count(lit(1)).as("pn"), countDistinct(col("w")).as("pd"))
        .groupBy(col("lang"))
        .agg(sum(col("pn")).as("n_words"),
          sum(col("pd")).as("n_distinct"))
        .orderBy("lang")
    }),

    "q76_pagerank" -> ((s, dir) => {
      // PageRank gains a VALUE oracle (VERDICT r4 #4): x23 pins the
      // distributed iteration bit-exact against pageRankLocal, but
      // its host graph derives from the extraction kernel (not
      // SQL-expressible). Here the SAME HostRank.pageRank runs over a
      // deterministic SQL-expressible graph on documents (hosts =
      // source values plus linkless 'ext' sinks, so the dangling-mass
      // path is non-vacuous; fractional weights k/3 exercise the 1e-9
      // entry quantization), and DuckDB unrolls the identical
      // fixed-point iteration (5 hops) as chained CTEs — every shuffled
      // sum is over quantized longs, and the remaining double ops are
      // IEEE-identical with literals CAST to DOUBLE (DuckDB would
      // otherwise do DECIMAL arithmetic: 1.0-0.85 is 0.15 in decimal
      // but 0.15000000000000002 in binary). Output ranks quantized to
      // 1e-12 units so the compare is integer-exact.
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"))
      val mainE = d.select(col("source").as("src"),
        concat(lit("src"), ((col("doc_id") * 7 + 3) % 20).cast("string")).as("dst"),
        ((col("doc_id") % 7 + 1).cast("double") / lit(3.0)).as("weight"))
      val extE = d.filter(col("doc_id") % 11 === 0)
        .select(col("source").as("src"),
          concat(lit("ext"), (col("doc_id") % 3).cast("string")).as("dst"),
          lit(0.5).as("weight"))
      graft.functions.HostRank.pageRank(mainE.unionByName(extE), iters = 5)
        .select(col("host"),
          round(col("rank") * lit(1e12)).cast("long").as("rank_x1e12"))
        .orderBy("host")
    }),

    "q77_scd2_history" -> ((s, dir) => {
      // Crawl-history intervalization — SCD Type-2 over snapshot
      // sequences: q42 diffs TWO snapshots; a recrawl pipeline holds N
      // of them, and the queryable form is per-url VALIDITY INTERVALS
      // (url, content-hash, valid_from, valid_to) — "what did this url
      // say at crawl 2" becomes a point lookup, retention policies
      // drop closed intervals, and change-rate estimation (q60) reads
      // interval lengths directly. Four snapshots are synthesized
      // deterministically: a url's content bumps its version at
      // snapshot s iff (doc_id + s) % 3 == 0 (closed-form version
      // count, integer-exact in both engines), and %13 urls are
      // deleted from snapshot 2 on — so open, closed, AND
      // deletion-closed intervals all occur. Scale: the lag/lead
      // windows partition by url (cardinality grows with data, the
      // q26/q39 discipline) over <= 4 rows each; everything else is
      // map-side + one lang agg.
      val snapped = scd2Snapshots(s, dir)
      val wUrl = Window.partitionBy("url").orderBy("snap")
      val starts = snapped
        .withColumn("prev_h", lag(col("h"), 1).over(wUrl))
        .withColumn("last_seen", max(col("snap")).over(Window.partitionBy("url")))
        .filter(col("prev_h").isNull || col("prev_h") =!= col("h"))
        .select(col("url"), col("lang"), col("h"),
          col("snap").as("valid_from"), col("last_seen"))
      val intervals = starts
        .withColumn("next_from", lead(col("valid_from"), 1).over(wUrl
          .orderBy(col("valid_from"))))
        // an interval closes at the next change, or at deletion
        // (last_seen + 1 when the url vanished before snapshot 3)
        .withColumn("valid_to", coalesce(col("next_from"),
          when(col("last_seen") < 3, col("last_seen") + 1L)))
      val perUrl = intervals.groupBy(col("lang"), col("url"))
        .agg(count(lit(1)).as("n_int"),
          sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"),
          sum(when(col("valid_to").isNotNull,
            col("valid_to") - col("valid_from")).otherwise(0L)).as("closed_len"))
      perUrl.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("n_int")).as("n_intervals"),
          sum(col("n_open")).as("n_open"),
          sum(col("closed_len")).as("sum_closed_len"),
          max(col("n_int")).as("max_versions"))
        .orderBy("lang")
    }),

    "q78_containment" -> ((s, dir) => {
      // Asymmetric shingle CONTAINMENT (Broder's containment measure,
      // beside q12's resemblance/Jaccard): c(B ⊂ A) = |S(B)∩S(A)| /
      // |S(B)|. The measure sub-document dedup actually needs — a
      // 30-word quote inside a long page has Jaccard ≈ 0 (symmetric
      // denominator swamps it) but containment ≈ 1; dedup policies
      // drop the quoter, not the quoted. Planted quoter docs (prefix
      // of a %17 donor + noise trailer, K varying 10..29) make both
      // branches non-vacuous, and the jacc column pins the asymmetry
      // (containment high where Jaccard is low) rather than asserting
      // it in prose. Scale: at corpus scale the candidate pairs come
      // from LSH (x08) and containment is the within-bucket verify —
      // here the planted id-pairing stands in for the candidate set;
      // the measure itself is one doc-keyed equi-join + per-pair
      // array_intersect over bounded shingle sets, map-side after the
      // join.
      val donors = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
        .filter(col("doc_id") % 17 === 0)
      // r6: trigrams via the codegen word_ngrams expression (same
      // rewrite as q12; size<3 empty in both forms)
      graft.functions.WordNgrams.register(s)
      def grams3(colName: String): Column =
        array_distinct(expr(s"word_ngrams(split($colName, ' '), 3)"))
      val quoters = donors.select(col("doc_id"),
        concat(
          concat_ws(" ", slice(split(col("text"), " "), lit(1),
            (lit(10) + col("doc_id") % 20).cast("int"))),
          lit(" zz"), (col("doc_id") % 5).cast("string"),
          lit(" extra quoting comment trailer")).as("qtext"))
      val a = donors.select(col("doc_id"), col("lang"), grams3("text").as("ga"))
      val b = quoters.select(col("doc_id"), grams3("qtext").as("gb"))
      a.join(b, Seq("doc_id"))
        .select(col("lang"),
          floor(lit(1000.0) * size(array_intersect(col("gb"), col("ga"))) /
            greatest(size(col("gb")), lit(1))).cast("long").as("cont_x1000"),
          floor(lit(1000.0) * size(array_intersect(col("ga"), col("gb"))) /
            greatest(size(array_distinct(concat(col("ga"), col("gb")))), lit(1)))
            .cast("long").as("jacc_x1000"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("cont_x1000")).as("sum_cont_x1000"),
          sum(col("jacc_x1000")).as("sum_jacc_x1000"),
          sum(when(col("cont_x1000") >= 700 && col("jacc_x1000") < 500, 1L)
            .otherwise(0L)).as("n_subdoc_only"))
        .orderBy("lang")
    }),

    "q79_quality_calibration" -> ((s, dir) => {
      // Per-source CALIBRATED quality filtering — the DCLM/FineWeb
      // ablation knob: one global cutoff over-prunes clean domains and
      // under-prunes spammy ones, so the threshold is read per source
      // from that source's own score distribution. Composition of the
      // round's operators: score each doc with a deterministic integer
      // quality proxy (doc length — the Gopher-style min-length
      // signal, which actually SPREADS across bins on this corpus
      // where punctuation density degenerates to one bin), build the
      // per-source HistogramSketch, take each source's p50 bin as its
      // cutoff,
      // broadcast the O(sources) threshold table back, filter map-side.
      // At 100 TB: the sketch is one bounded partial-agg shuffle, the
      // thresholds are tiny and broadcast, and the keep/drop decision
      // never shuffles the corpus. The oracle replays the identical
      // bin/threshold windows.
      import graft.functions.HistogramSketch
      val d = t(s, dir, "documents")
        .select(col("source"), col("doc_id").cast("long").as("doc_id"),
          greatest(col("n_chars").cast("long"), lit(1L)).as("score"))
      val thresholds = HistogramSketch.quantileSummary(
          HistogramSketch.build(d, "score", Seq("source")), Seq("source"))
        .select(col("source"), col("p50_bin"))
      d.withColumn("bin", HistogramSketch.binOf(col("score")))
        .join(broadcast(thresholds), Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bin") >= col("p50_bin"), 1L).otherwise(0L)).as("n_kept"),
          min(when(col("bin") >= col("p50_bin"), col("score"))).as("min_kept_score"),
          sum(when(col("bin") >= col("p50_bin"), col("doc_id"))).as("kept_checksum"),
          max(col("p50_bin")).as("p50_bin"))
        .orderBy("source")
    }),

    "q80_substring_excise" -> ((s, dir) => {
      // Cross-document exact-substring EXCISION — the REMOVE step of
      // Lee et al.'s "Deduplicating Training Data Makes Language
      // Models Better", completing q37 (which only MARKS): every token
      // covered by an 8-token window occurring in >1 distinct doc is
      // cut, the rest of the page survives (q73's surgical discipline
      // applied corpus-cross instead of against a benchmark set).
      // Plan: one explode to (doc, pos, windowHash), the q37/q35
      // agg+join-back for shared windows (never count-over-window —
      // boilerplate windows are mega-keys), positions collect per doc
      // (bounded by the doc's own length), and an index-aware
      // higher-order filter does the cut map-side. The window key is
      // xxhash64 of the token slice (the q37 8-byte shuffle-key
      // discipline; the oracle groups by the window STRING, so a
      // Spark-side hash collision — p ≈ W²/2⁶⁵ — would surface as a
      // signature mismatch instead of hiding). Production knob: Lee et
      // al. excise spans ≥ 50 tokens; the 8-token window here matches
      // q37 so the mark and the cut agree on what "duplicated" means.
      val d0 = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          expr("filter(split(coalesce(text, ''), ' '), w -> w != '')").as("toks"))
      val plantOff = d0.agg(max(col("doc_id"))).first().getLong(0) + 1L
      // planted partial copies (first 20 tokens of every %97 donor, ids
      // past max) keep the cross-doc branch non-vacuous — natural
      // random-word docs share no 8-gram
      val d = d0.unionByName(d0.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + plantOff).as("doc_id"),
          lit("planted").as("lang"), slice(col("toks"), 1, 20).as("toks")))
        .withColumn("n", size(col("toks")).cast("long"))
      val wins = d.filter(col("n") >= 8)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1L), col("n") - 7),
          i => xxhash64(slice(col("toks"), i.cast("int"), lit(8))))))
        .toDF("doc_id", "pos", "w")
      val shared = wins.select(col("doc_id"), col("w")).distinct()
        .groupBy(col("w")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") > 1).select(col("w"))
      val dupP = wins.join(shared, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("pos"))).as("P"))
      val cleaned = d.join(dupP, Seq("doc_id"), "left")
        .withColumn("P", coalesce(col("P"), array().cast("array<int>")))
        .withColumn("kept", filter(col("toks"),
          (t, i) => !exists(col("P"), p => p <= i && i <= p + 7)))
        .withColumn("clean", concat_ws(" ", col("kept")))
      cleaned.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("sum_tokens_before"),
          sum(size(col("kept")).cast("long")).as("sum_tokens_after"),
          sum(when(size(col("kept")) < col("n"), 1L).otherwise(0L)).as("n_docs_changed"),
          sum(expr("CAST(conv(substring(md5(CAST(clean AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
            .as("clean_sig"))
        .orderBy("lang")
    }),

    // ---- extraction pipeline (rows-only: not SQL-expressible) ----
    "x01_extract_plain" -> ((s, _) => {
      val (pagesDir, _) = microTables(s)
      Pipeline.extract(IceLite.read(s, pagesDir), ExtractMode.Plain).toDF()
        .select(col("url"), col("mode"), col("status"), col("text"),
          col("metrics.blocks_kept").as("blocks_kept"))
        .orderBy("url")
    }),
    "x02_golden_match" -> ((s, _) => entry(s)),
    "x03_multipage" -> ((s, _) => {
      val (pagesDir, _) = microTables(s)
      val pages = IceLite.read(s, pagesDir)
      val parts = Pipeline.extract(pages.filter(col("url").contains("?part=")), ExtractMode.Plain)
      Pipeline.reassembleMultiPage(parts.toDF()).orderBy("url")
    }),
    "x04_chunked_identity" -> ((s, _) => {
      val (pagesDir, _) = microTables(s)
      val pages = IceLite.read(s, pagesDir).filter(!col("url").contains("?part="))
      val plain = Pipeline.ok(Pipeline.extract(pages, ExtractMode.Plain)).toDF()
        .select(col("url"), col("text").as("plain_text"))
      Pipeline.extractChunked(pages)
        .join(plain, Seq("url"))
        .select(col("url"), col("n_chunks"),
          (col("text") === col("plain_text")).as("identical"))
        .orderBy("url")
    }),
    "x05_eval_metrics" -> ((s, _) => {
      // reference eval aggregate (A1): corpus means of per-doc metrics,
      // extracted text vs the crawl's noisy `text` column
      import s.implicits._
      val (pagesDir, _) = microTables(s)
      val pages = IceLite.read(s, pagesDir).filter(col("text").isNotNull)
      val crawl = pages.select(col("url"), col("text").as("crawl_text"))
      Pipeline.ok(Pipeline.extract(pages, ExtractMode.Plain)).toDF()
        .join(crawl, Seq("url"))
        .select(col("url"), col("text"), col("crawl_text"))
        .as[(String, String, String)]
        .map { case (url, pred, gt) =>
          val m = Metrics.perDoc(pred, gt)
          (url, m.getOrElse("bleu", 0.0), m.getOrElse("meteor", 0.0),
            m.getOrElse("f_measure", 0.0),
            m.getOrElse("precision", 0.0), m.getOrElse("recall", 0.0),
            m.getOrElse("edit_dist", 0.0), m.getOrElse("chrf", 0.0))
        }
        .toDF("url", "bleu", "meteor", "f_measure", "precision", "recall", "edit_dist", "chrf")
        .agg(count(lit(1)).as("n_docs"), avg("bleu").as("bleu"),
          avg("meteor").as("meteor"),
          avg("f_measure").as("f_measure"), avg("precision").as("precision"),
          avg("recall").as("recall"), avg("edit_dist").as("edit_dist"),
          avg("chrf").as("chrf"))
    }),
    "x06_render_html" -> ((s, _) => {
      import s.implicits._
      val (pagesDir, goldenDir) = microTables(s)
      val formatUrls = IceLite.read(s, goldenDir)
        .filter(col("mode") === "format").select(col("url"))
      val pages = IceLite.read(s, pagesDir).join(formatUrls, Seq("url"))
      Pipeline.ok(Pipeline.extract(pages, ExtractMode.Format)).toDF()
        .select(col("url"), col("text")).as[(String, String)]
        .map { case (url, text) => (url, Render.render(text)) }
        .toDF("url", "html_render")
        .orderBy("url")
    }),
    "x07_simhash_dedup" -> ((s, dir) => {
      // native codegen expression (SimHash64Expr): no object
      // serialization boundary — the sketch stays inside whole-stage
      // codegen (the Dataset.map form broke the span with
      // DeserializeToObject/MapElements)
      graft.functions.SimHash64Expr.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"), expr("simhash64(text)").as("simhash"))
        .withColumn("band", shiftrightunsigned(col("simhash"), 48).cast("int"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_docs"),
          countDistinct(col("simhash")).as("n_distinct"))
        .orderBy("band")
    }),
    "x08_minhash_lsh_pairs" -> ((s, dir) => {
      // the operator returns UNORDERED pairs (no global sort at scale);
      // the deterministic ordering for the verify sink is applied HERE
      graft.functions.TextSketch.lshCandidatePairs(t(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")
    }),
    "x19_dedup_clusters" -> ((s, dir) => {
      // dedup END-TO-END: candidate pairs (MinHash-LSH + exact collapse)
      // -> connected components (iterative min-label propagation, one
      // shuffle per hop) -> cluster-size histogram. In production the
      // keep-list is `label == id` (component representative); the
      // histogram is the operator's observable summary.
      val pairs = graft.functions.TextSketch.lshCandidatePairs(t(s, dir, "documents"))
      val comps = graft.functions.TextSketch.connectedComponents(pairs)
      comps.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }),
    "x13_langid_ngram" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .map { case (_, lang, text) => (lang, graft.functions.LangId.detect(text)) }
        .toDF("lang", "predicted")
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),
    "x14_fingerprints" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.functions.TextSketch.fingerprints(text).map(f => (id, f)) }
        .toDF("doc_id", "fp")
        .groupBy(col("fp")).agg(collect_set(col("doc_id")).as("docs"))
        .filter(size(col("docs")) > 1)
        .select(col("fp"), size(col("docs")).as("n_docs"))
        .orderBy("fp")
    }),
    "x10_ann_lsh" -> ((s, dir) =>
      graft.functions.TextSketch.annTopK(t(s, dir, "embeddings"))),
    "x15_ann_ivf" -> ((s, dir) =>
      graft.functions.TextSketch.ivfTopK(t(s, dir, "embeddings"))),
    "x21_ann_ivf_index" -> ((s, dir) => {
      // the persisted form of the IVF scale path: index written once as a
      // cell-partitioned table, queries scan ONLY their probed cell
      // partitions (Catalyst partition pruning)
      val emb = t(s, dir, "embeddings")
      val idx = s"$SynthRoot/ivf_index_${math.abs(dir.hashCode)}"
      if (!graft.functions.IvfIndex.isCurrent(s, idx, emb))
        graft.functions.IvfIndex.build(emb, idx)
      graft.functions.IvfIndex.query(s, idx, emb.filter(col("vec_id") < 5))
    }),
    "x26_ann_pq" -> ((s, dir) =>
      // product-quantization ADC top-k: 16-byte codes instead of
      // 256-byte float vectors at scan time (16x compression),
      // broadcast codebooks + per-query lookup tables, map-only scan,
      // bounded TopKAgg shuffle — the memory-bound half of
      // billion-scale ANN
      graft.functions.PqSketch.adcTopK(t(s, dir, "embeddings"))),
    "x27_ann_ivfpq" -> ((s, dir) => {
      // the COMPOSED architecture: IVF partition pruning picks WHICH
      // cells a query scans, PQ codes shrink WHAT those cells store —
      // a query reads nProbe/nCells of a 16x-compressed table and never
      // touches a float vector at scan time. This is the standard
      // 10^9-vector serving shape (FAISS IVFPQ), here expressed as
      // plain partitioned parquet + Catalyst partition pruning.
      val emb = t(s, dir, "embeddings")
      val idx = s"$SynthRoot/ivfpq_index_${math.abs(dir.hashCode)}"
      if (!graft.functions.IvfIndex.isCurrentCoded(s, idx, emb))
        graft.functions.IvfIndex.buildCoded(emb, idx)
      graft.functions.IvfIndex.queryCoded(s, idx, emb.filter(col("vec_id") < 5))
    }),
    "x31_bm25_index" -> ((s, dir) => {
      // the persisted form of q44's text-retrieval scale path: the
      // inverted index written once as a term-bucket-partitioned table;
      // a query scans ONLY the bucket partitions its terms hash into
      // (PartitionFilters pruning — the IvfIndex cells discipline
      // applied to text) and shares q44's exact scoring expression, so
      // PostingsIndexSpec pins index-served == scan-computed scores
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val idx = s"$SynthRoot/postings_index_${math.abs(dir.hashCode)}"
      if (!graft.functions.PostingsIndex.isCurrent(s, idx, docs))
        graft.functions.PostingsIndex.build(docs, idx)
      val queryTerms = Seq((1L, "spark", 1), (1L, "window", 2),
        (2L, "merge", 1), (2L, "key", 2), (3L, "vector", 1), (3L, "batch", 2))
        .toDF("query_id", "term", "tidx")
      graft.functions.PostingsIndex.query(s, idx, queryTerms)
    }),
    "x32_postings_upsert" -> ((s, dir) => {
      // incremental index maintenance under crawl churn: q42's snapshot
      // delta applied to the x31 postings index as a delta segment +
      // tombstones (the Lucene segment model as plain parquet) — cost
      // scales with the DELTA, never the corpus; queries merge segments
      // and a tombstone kills only earlier segments. The spec pins
      // upserted == full-rebuild bit-for-bit and that the incrementally
      // XOR-maintained manifest matches the full post-delta corpus.
      import s.implicits._
      val a = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // the q42 delta recipe: %7 changed, %13 removed, %11 spawn new
      val changedOld = a.filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
      val removed = a.filter(col("doc_id") % 13 === 0)
      val changedNew = changedOld.select(col("doc_id"),
        concat(col("text"), lit(" updated v2")).as("text"))
      val added = a.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          concat(lit("new "), col("text")).as("text"))
      val idx = s"$SynthRoot/postings_upsert_${math.abs(dir.hashCode)}"
      // deterministic self-contained run: rebuild base, apply the delta
      graft.functions.PostingsIndex.build(a, idx)
      graft.functions.PostingsIndex.upsert(idx,
        changedOld.unionByName(removed), changedNew.unionByName(added))
      val queryTerms = Seq((1L, "spark", 1), (1L, "window", 2),
        (2L, "merge", 1), (2L, "key", 2), (3L, "vector", 1), (3L, "batch", 2))
        .toDF("query_id", "term", "tidx")
      graft.functions.PostingsIndex.query(s, idx, queryTerms)
    }),
    "x33_dedup_delta" -> ((s, dir) => {
      // the production dedup LOOP: near-dup the crawl DELTA against a
      // persisted band-signature index (functions/DedupIndex) without
      // recomputing old-vs-old — probe reads are kb-partition-pruned
      // and (band,key)-semi-joined to buckets the delta actually
      // touches. DedupIndexSpec pins probeDelta == the full-corpus
      // x08 pairs touching the delta (incl. cross-boundary exact dups
      // and the hub-star degrade); here the split is 80/20 on doc_id
      // with planted cross-boundary duplicates so the probe is
      // non-vacuous on the driver corpus.
      val all = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val cut = all.agg(expr("percentile_approx(doc_id, 0.8)")).head().getLong(0)
      val old = all.filter(col("doc_id") <= cut)
      // delta: genuinely new docs + exact re-crawls + near-dup edits of
      // old content (ids offset past the corpus — monotone ingest)
      val base = all.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val delta = all.filter(col("doc_id") > cut)
        .select((col("doc_id") + lit(base)).as("doc_id"), col("text"))
        .unionByName(old.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + lit(2 * base)).as("doc_id"), col("text")))
        .unionByName(old.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + lit(3 * base)).as("doc_id"),
            concat(col("text"), lit(" minor edit")).as("text")))
      val idx = s"$SynthRoot/dedup_delta_${math.abs(dir.hashCode)}"
      graft.functions.DedupIndex.build(old, idx)
      graft.functions.DedupIndex.probeDelta(s, idx, delta)
        .orderBy("doc_a", "doc_b")
    }),
    "x22_outlinks" -> ((s, _) => {
      // host link-graph construction: map-side link extraction (streaming
      // tokenizer, no DOM), ONE shuffle keyed by (src_host, dst_host) —
      // the standard webgraph build at crawl scale. External + protocol-
      // relative + relative hrefs all resolve; PDF payloads contribute
      // nothing (magic-byte dispatch).
      import s.implicits._
      val (pagesDir, _) = microTables(s)
      IceLite.read(s, pagesDir).select(col("url"), col("html"))
        .as[(String, Array[Byte])]
        .flatMap { case (url, bytes) =>
          val src = graft.extract.Outlinks.host(url)
          graft.extract.Outlinks.extract(bytes, url)
            .map(l => (src, l.targetHost, l.external))
        }
        .toDF("src_host", "dst_host", "external")
        .groupBy(col("src_host"), col("dst_host"), col("external"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy("src_host", "dst_host")
    }),
    "x24_decontam_bloom" -> ((s, dir) => {
      // Decontamination, map-only scale path: q28's eval-set gram table
      // compresses into a BROADCAST Bloom filter and each corpus doc
      // checks its grams in a map — no explode, no join, no shuffle of
      // corpus grams AT ALL (the only shuffle is the per-lang audit agg).
      // FPP errs in the safe direction (may flag extra docs, never
      // misses contamination); at fpp 1e-6 over this corpus the result
      // is exactly q28's (DecontamBloomSpec asserts equality). Spark's
      // sketch BloomFilter is seed-fixed — deterministic across runs.
      import s.implicits._
      val d = t(s, dir, "documents")
      val plantOff = d.agg(max(col("doc_id")).cast("long")).first().getLong(0) + 1L
      val corpus = d.filter(col("doc_id") % 101 =!= 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
        .unionByName(d.filter(col("doc_id") % 101 === 0)
          .select((col("doc_id") + plantOff).cast("long").as("doc_id"),
            lit("planted").as("lang"),
            substring(col("text"), 1, 120).as("text")))
      val toksCol = split(col("text"), " ")
      val gramsCol = transform(sequence(lit(1), size(toksCol) - 4),
        i => concat_ws(" ", slice(toksCol, i, lit(5))))
      val benchGrams = d
        .filter(col("doc_id") % 101 === 0 && size(split(col("text"), " ")) >= 5)
        .select(explode(array_distinct(gramsCol)).as("g")).distinct()
      // size the filter from the ACTUAL distinct-gram count (a fixed
      // 200k capacity silently inflated the FPP — and broke the
      // exact-equality-with-q28 property — once the eval set outgrew
      // it; ADVICE r3). benchGrams is the small side by construction,
      // so the extra count() action is cheap.
      val bf = benchGrams.stat.bloomFilter("g", math.max(1000L, benchGrams.count()), 1e-6)
      val bc = s.sparkContext.broadcast(bf)
      corpus.as[(Long, String, String)].map { case (_, lang, text) =>
        (lang, graft.functions.DecontamBloom.overlapCount(text, bc.value))
      }.toDF("lang", "n_overlap")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_overlap") >= 3, 1L).otherwise(0L)).as("n_contaminated"),
          sum(col("n_overlap")).as("sum_overlap"))
        .orderBy("lang")
    }),
    "x28_stream_decontam" -> ((s, dir) => {
      // decontamination AT THE STREAM BOUNDARY: the x24 broadcast Bloom
      // filter applied to a streaming ingest of the documents table, so
      // contaminated docs are flagged BEFORE entering the corpus —
      // filtering a 100 TB corpus after the fact re-reads 100 TB;
      // filtering the ingest stream is free. Map-only per micro-batch,
      // state-free, same shared overlap kernel as x24
      // (DecontamBloom.overlapCount — the two paths cannot drift).
      val d = t(s, dir, "documents")
      val toksCol = split(col("text"), " ")
      val gramsCol = transform(sequence(lit(1), size(toksCol) - 4),
        i => concat_ws(" ", slice(toksCol, i, lit(5))))
      val benchGrams = d
        .filter(col("doc_id") % 101 === 0 && size(split(col("text"), " ")) >= 5)
        .select(explode(array_distinct(gramsCol)).as("g")).distinct()
      val bf = benchGrams.stat.bloomFilter("g", math.max(1000L, benchGrams.count()), 1e-6)
      val bc = s.sparkContext.broadcast(bf)
      // documents.parquet is a single FILE in the testdata layout and
      // the file stream source only accepts directories — materialize a
      // one-time directory copy as the stream landing zone (what a real
      // ingest dir looks like anyway)
      val srcDir = new java.io.File(s"$SynthRoot/sdecontam_src_${math.abs(dir.hashCode)}")
      if (!srcDir.exists()) d.write.mode("overwrite").parquet(srcDir.getAbsolutePath)
      val stream = s.readStream.schema(d.schema)
        .parquet(s"${srcDir.getAbsolutePath}/*.parquet")
      val flagged = graft.streaming.StreamingExtract.decontaminateStream(stream, bc)
      val run = s"$SynthRoot/sdecontam_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = flagged.writeStream.format("parquet")
        .option("path", s"$run/out")
        .option("checkpointLocation", s"$run/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.schema("doc_id LONG, lang STRING, n_overlap LONG, contaminated BOOLEAN")
        .parquet(s"$run/out")
        .groupBy(col("contaminated"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_overlap")).as("sum_overlap"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("contaminated")
    }),
    "x23_host_pagerank" -> ((s, _) => {
      // PageRank over the x22 host link graph (crawl-quality prior):
      // one shuffle per power iteration, quantized contribution sums so
      // ranks are bit-identical under any partitioning (HostRank).
      import s.implicits._
      val (pagesDir, _) = microTables(s)
      val edges = IceLite.read(s, pagesDir).select(col("url"), col("html"))
        .as[(String, Array[Byte])]
        .flatMap { case (url, bytes) =>
          val src = graft.extract.Outlinks.host(url)
          graft.extract.Outlinks.extract(bytes, url).map(l => (src, l.targetHost))
        }
        .toDF("src", "dst")
        .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("weight"))
      graft.functions.HostRank.pageRank(edges)
        .select(col("host"), floor(col("rank") * 1e9).cast("long").as("rank_x1e9"))
        .orderBy(desc("rank_x1e9"), col("host"))
    }),
    "x11_multimodal_features" -> ((s, _) =>
      graft.functions.Multimodal.featureStats(s, 2000L)),
    "x12_streaming_extract" -> ((s, _) => {
      val (pagesDir, _) = microTables(s)
      val run = s"$SynthRoot/stream_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = graft.streaming.StreamingExtract.availableNow(
        s, s"$pagesDir/data/*.parquet", s"$run/out", s"$run/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$run/out")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("out_chars"))
        .orderBy("status")
    }),
    "x34_stream_stream_join" -> ((s, _) => {
      // stream-stream event-time interval join (fetches x change
      // signals per host), both sides watermarked so join state is
      // BOUNDED by the interval — the crawl-ops "which fetches ran
      // right after a config change" audit as continuous ingest.
      // StreamJoinSpec pins streaming == batch-join equality incl.
      // cross-micro-batch matches; here the micro corpus drains under
      // availableNow and the joined rows aggregate per host.
      val (pagesDir, _) = microTables(s)
      val run = s"$SynthRoot/ssj_${java.util.UUID.randomUUID().toString.take(8)}"
      val (f, c) = graft.streaming.StreamingExtract.fetchAndChangeStreams(
        s, s"$pagesDir/data/*.parquet")
      val joined = graft.streaming.StreamingExtract.fetchesNearChanges(
        f, c, horizonMinutes = 7 * 24 * 60, watermark = "1 day")
      val q = joined.writeStream.format("parquet")
        .option("path", s"$run/out")
        .option("checkpointLocation", s"$run/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.schema("host STRING, fetch_ts TIMESTAMP, change_ts TIMESTAMP")
        .parquet(s"$run/out")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_joined"),
          countDistinct(col("change_ts")).as("n_changes"),
          max(unix_millis(col("fetch_ts")) - unix_millis(col("change_ts")))
            .as("max_gap_ms"))
        .orderBy("host")
    }),
    "x35_stream_countmin" -> ((s, _) => {
      // streaming heavy-hitter counters: the q67 Count-Min grid
      // continuously maintained over live ingest — state is the FIXED
      // d*w counter grid whatever the host cardinality (contrast x25,
      // whose state is a row per distinct key). Complete mode
      // republishes <= 96 rows per trigger; StreamCountMinSpec pins
      // stream == batch counters over the same rows.
      val (pagesDir, _) = microTables(s)
      val items = s.readStream
        .schema(graft.streaming.StreamingExtract.pagesSchema)
        .parquet(s"$pagesDir/data/*.parquet")
        .select(pmod(xxhash64(parse_url(col("url"), lit("HOST"))), lit(1024))
          .as("item"))
      val name = s"cmx_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = graft.streaming.StreamingExtract.countMinStream(items)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.sql(s"SELECT * FROM $name")
        .groupBy(col("r"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("cnt")).as("total"),
          max(col("cnt")).as("hottest"))
        .orderBy("r")
    }),
    "x36_stream_funnel" -> ((s, dir) => {
      // continuous funnel matching: q74's Funnel.matchStages maintained
      // over live event ingest (functions/Funnel.cascade recomputed per
      // micro-batch over per-key relevant-event state — exact under
      // late/out-of-order arrival because the cascade is a pure
      // function of the event set). FunnelStreamSpec pins stream ==
      // batch across out-of-order multi-batch arrival; this entry
      // drains the sf events table and publishes the same cohort
      // funnel as q74, computed from the STREAM's final snapshots.
      import s.implicits._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("props",
          org.apache.spark.sql.types.StringType)))
      // readStream.parquet requires a DIRECTORY; the sf table is a
      // single file — stage a copy under the synth cache once
      val srcFile = java.nio.file.Paths.get(s"$dir/events.parquet")
      val streamDir = java.nio.file.Paths.get(
        s"$SynthRoot/x36_events_${Integer.toHexString(dir.hashCode)}")
      java.nio.file.Files.createDirectories(streamDir)
      java.nio.file.Files.copy(srcFile, streamDir.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val ev = s.readStream.schema(schema).parquet(streamDir.toString)
        .select(col("user_id").cast("long").as("u"),
          unix_millis(col("ts").cast("timestamp")).as("tsm"),
          col("event_type").as("ty"))
        .as[graft.streaming.FunnelEvent]
      val win = Some(21600000L)
      val stages = Seq(graft.functions.Funnel.Stage("view", "view"),
        graft.functions.Funnel.Stage("click", "click", win),
        graft.functions.Funnel.Stage("purchase", "purchase", win))
      val name = s"fx_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = graft.streaming.StreamingExtract.funnelStream(ev, stages)
        .writeStream.format("memory").queryName(name)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val latest = s.sql(s"SELECT * FROM $name")
        .withColumn("rn", row_number().over(
          Window.partitionBy("u").orderBy(desc("n_events"))))
        .filter(col("rn") === 1)
      // n_users must count the FULL key population (q74's denominator):
      // funnelStream drops stage-irrelevant events map-side, so a user
      // with no relevant event never reaches the stream — left-join the
      // snapshots onto the batch user dim instead of counting stream
      // keys, and x36 == q74 holds structurally, not by the data
      // happening to give every user a relevant event (review finding)
      val allUsers = t(s, dir, "events")
        .select(col("user_id").cast("long").as("u")).distinct()
      allUsers.join(latest, Seq("u"), "left")
        .select(col("u"),
          element_at(col("ts"), 1).as("t1"),
          element_at(col("ts"), 2).as("t2"),
          element_at(col("ts"), 3).as("t3"))
        .groupBy((col("u") % 5).as("cohort"))
        .agg(count(lit(1)).as("n_users"),
          count(col("t1")).as("n_viewed"),
          count(col("t2")).as("n_clicked"),
          count(col("t3")).as("n_purchased"))
        .orderBy("cohort")
    }),
    "x37_stream_scd2" -> ((s, dir) => {
      // continuous SCD2 maintenance: q77's intervalization kept current
      // over a CDC stream (upserts from the q77 snapshots + explicit
      // delete tombstones at snapshot 2 for the %13 urls — exactly the
      // events a q42 snapshot diff emits). Three arrival chunks
      // (snaps 0-1, snap 2 + deletes, snap 3) drain as separate
      // micro-batches; the final per-url intervals aggregate to q77's
      // EXACT output columns, and ScdStreamSpec pins x37 == the
      // oracle-verified q77 rows plus stream == local-walk equality
      // under out-of-order arrival.
      import s.implicits._
      val snapped = scd2Snapshots(s, dir)
      val ups = snapped.select(col("url"), col("snap"), col("h"),
        lit(false).as("deleted"))
      val dels = snapped.filter(col("doc_id") % 13 === 0)
        .select(col("url")).distinct()
        .select(col("url"), lit(2L).as("snap"), lit("").as("h"),
          lit(true).as("deleted"))
      val events = ups.unionByName(dels)
      val root = s"$SynthRoot/x37_cdc_${Integer.toHexString(dir.hashCode)}"
      events.filter(col("snap") <= 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/c0")
      events.filter(col("snap") === 2).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/c1")
      events.filter(col("snap") === 3).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/c2")
      val src = s.readStream
        .schema("url STRING, snap LONG, h STRING, deleted BOOLEAN")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/*/*.parquet")
        .as[graft.streaming.ScdEvent]
      val name = s"scd_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = graft.streaming.StreamingExtract.scdStream(src)
        .writeStream.format("memory").queryName(name)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val latest = s.sql(s"SELECT * FROM $name")
        .withColumn("rn", row_number().over(
          Window.partitionBy("url").orderBy(desc("n_obs"))))
        .filter(col("rn") === 1)
        .select(col("url"), explode(col("intervals")).as("iv"))
        .select(col("url"), col("iv._2").as("valid_from"),
          col("iv._3").as("valid_to"))
      val dim = snapped.select(col("url"), col("lang")).distinct()
      latest.join(broadcast(dim), Seq("url"))
        .groupBy(col("lang"), col("url"))
        .agg(count(lit(1)).as("n_int"),
          sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"),
          sum(when(col("valid_to").isNotNull,
            col("valid_to") - col("valid_from")).otherwise(0L)).as("closed_len"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("n_int")).as("n_intervals"),
          sum(col("n_open")).as("n_open"),
          sum(col("closed_len")).as("sum_closed_len"),
          max(col("n_int")).as("max_versions"))
        .orderBy("lang")
    }),
    "x20_crawl_sessions" -> ((s, _) => {
      // custom-state streaming (flatMapGroupsWithState + event-time
      // timeout): per-host crawl sessionization with a 7-day gap over the
      // micro corpus. availableNow drains the corpus in one batch, so the
      // STREAM emits only sessions CLOSED by in-data gaps; each host's
      // trailing session stays in state. The state store is then read
      // back (state data source) and published as the OPEN side, so
      // closed + open accounts for EVERY input page — the reference's
      // eval loop accounts every document (eval_GOT_ocr.py:168-300), and
      // a crawl-ops user reconciling page sums against row counts needs
      // both halves.
      val (pagesDir, _) = microTables(s)
      val run = s"$SynthRoot/sessions_${java.util.UUID.randomUUID().toString.take(8)}"
      val events = graft.streaming.StreamingExtract.sessionEvents(
        s, s"$pagesDir/data/*.parquet")
      val q = graft.streaming.StreamingExtract.crawlSessions(events, gapMinutes = 7 * 24 * 60)
        .writeStream.format("parquet")
        .option("path", s"$run/out")
        .option("checkpointLocation", s"$run/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val closed = s.read.schema("host STRING, start_ms LONG, end_ms LONG, n_pages LONG, bytes LONG")
        .parquet(s"$run/out")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_pages")).as("pages_in_closed"),
          sum(col("bytes")).as("bytes_in_closed"))
      val open = graft.streaming.StreamingExtract.openSessions(s, s"$run/ckpt")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_open"),
          sum(col("n_pages")).as("pages_in_open"),
          sum(col("bytes")).as("bytes_in_open"))
      closed.join(open, Seq("host"), "full_outer")
        .select(col("host"),
          coalesce(col("n_sessions"), lit(0L)).as("n_sessions"),
          coalesce(col("pages_in_closed"), lit(0L)).as("pages_in_closed"),
          coalesce(col("bytes_in_closed"), lit(0L)).as("bytes_in_closed"),
          coalesce(col("n_open"), lit(0L)).as("n_open"),
          coalesce(col("pages_in_open"), lit(0L)).as("pages_in_open"),
          coalesce(col("bytes_in_open"), lit(0L)).as("bytes_in_open"))
        .orderBy("host")
    }),
    "x25_stream_dedup" -> ((s, _) => {
      // streaming cross-batch exact dedup (the q09 batch op as continuous
      // ingest): fixture is two parquet FILES where the second repeats 20
      // of the first's payloads; maxFilesPerTrigger=1 makes each file its
      // own micro-batch, so the duplicate verdicts MUST come from the
      // state store, not within-batch grouping.
      import graft.streaming.StreamingExtract
      val dir = new java.io.File(s"$SynthRoot/dedup_stream_fixture")
      val nParts = Option(dir.listFiles())
        .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
      if (nParts < 2) {
        import s.implicits._
        def rows(ids: Seq[Int], urlPrefix: String, tsBase: Int) = ids.map { i =>
          (s"https://$urlPrefix$i.example.com/p",
            java.sql.Timestamp.valueOf(f"2024-03-01 ${tsBase + i / 60}%02d:${i % 60}%02d:00"),
            s"dedup-stream payload $i with deterministic body".getBytes("UTF-8"),
            null.asInstanceOf[String], null.asInstanceOf[String])
        }.toDF("url", "warc_ts", "html", "text", "lang")
        rows(0 until 40, "d", 1).coalesce(1)
          .write.mode("overwrite").parquet(dir.getAbsolutePath)
        // second FILE repeats payloads 0..19 under new urls (append keeps
        // file A; the re-fetch arrives in a later micro-batch)
        rows(0 until 20, "dup", 9).coalesce(1)
          .write.mode("append").parquet(dir.getAbsolutePath)
      }
      val run = s"$SynthRoot/dedupstream_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = StreamingExtract.dedupStream(
        StreamingExtract.docSigs(s, s"${dir.getAbsolutePath}/*.parquet"))
        .writeStream.format("parquet")
        .option("path", s"$run/out")
        .option("checkpointLocation", s"$run/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.schema("url STRING, hash STRING, first_seen BOOLEAN, prior_count LONG")
        .parquet(s"$run/out")
        .groupBy(col("first_seen"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("hash")).as("n_hashes"),
          sum(col("prior_count")).as("sum_prior"))
        .orderBy("first_seen")
    }),
    "x29_bpe_merges" -> ((s, dir) => {
      // distributed BPE merge learning over the corpus vocabulary (the
      // tokenizer-training stage): word frequencies from one agg, then
      // k greedy argmax rounds — deterministic tie-break makes the
      // merge table partitioning-invariant (BpeSpec pins it against
      // the single-threaded reference bit-for-bit).
      import s.implicits._
      val words = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      graft.functions.Bpe.learnMerges(s, words, 12).toDF()
        .select(col("rank"), col("left"), col("right"), col("pair_count"))
        .orderBy("rank")
    }),
    "x30_bpe_encode" -> ((s, dir) => {
      // BPE tokenization with the learned merge table — the APPLY half
      // of x29's tokenizer training (what actually counts tokens for
      // q32/q34's packing budgets in a real pretraining pipeline). The
      // merge table is learned once from the distributed vocabulary,
      // then broadcast inside a map-only encode pass over the corpus;
      // per-lang audit reports word->piece compression. BpeSpec pins
      // encode against the trained segmentation and the concatenation
      // invariant; determinism follows from x29's total-order argmax.
      import s.implicits._
      val words = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val merges = graft.functions.Bpe.learnMerges(s, words, 12)
        .map(m => (m.left, m.right))
      val bc = s.sparkContext.broadcast(merges)
      t(s, dir, "documents")
        .select(col("lang"), split(col("text"), " ").as("toks")).as[(String, Seq[String])]
        .map { case (lang, toks) =>
          val ws = toks.filter(_.nonEmpty)
          var pieces = 0L
          var chars = 0L
          ws.foreach { w =>
            pieces += graft.functions.Bpe.encode(w, bc.value).length
            chars += w.length
          }
          (lang, ws.length.toLong, pieces, chars)
        }
        .toDF("lang", "n_words", "n_pieces", "n_chars")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("sum_words"),
          sum(col("n_pieces")).as("sum_pieces"),
          sum(col("n_chars")).as("sum_chars"),
          expr("(sum(n_pieces) * 1000) div sum(n_words)").as("pieces_per_word_mills"))
        .orderBy("lang")
    }),
    "x16_warc_ingest" -> ((s, _) => {
      // Common-Crawl-native ingest: synthesize WARC captures (one gzip,
      // one plain), ingest -> pages shape -> extraction, count by status
      import graft.sources.{Ingest, Warc}
      val dir = new java.io.File(s"$SynthRoot/warc_fixture")
      // fixtures are written via temp-file + ATOMIC_MOVE so two concurrent
      // sessions racing on check-then-write can never read a partial file
      // (ADVICE r1); the content is seed-fixed, so last-writer-wins is
      // byte-identical
      def atomicWrite(name: String, bytes: Array[Byte]): Unit = {
        val target = new java.io.File(dir, name).toPath
        val tmp = java.nio.file.Files.createTempFile(dir.toPath, s".$name", ".tmp")
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      if (!new java.io.File(dir, "cap0.warc").exists() ||
          !new java.io.File(dir, "cap1.warc.gz").exists()) {
        dir.mkdirs()
        val recs = (0 until 50).map { i =>
          Warc.Record(s"https://warc$i.example.com/doc", "2024-03-04T05:06:07Z",
            "text/html",
            s"<html><body><p>warc payload $i with enough words to pass the density gate easily</p></body></html>"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        atomicWrite("cap0.warc", Warc.write(recs.take(25)))
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(Warc.write(recs.drop(25))); gz.close()
        atomicWrite("cap1.warc.gz", bos.toByteArray)
      }
      val pages = Ingest.warcFiles(s, s"${dir.getAbsolutePath}/*")
      Pipeline.extract(pages, ExtractMode.Plain).toDF()
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("out_chars"))
        .orderBy("status")
    }),
    "x17_category_eval" -> ((s, _) => {
      // J2 + A2, reference-exact: per-category formatted eval over the
      // golden corpus using the byte-exact ported split regexes
      // (eval_ocr_format.py:106-180 via Metrics.splitCategories — Java
      // regex lookbehind, not SQL-expressible; q23 carries the RE2-safe
      // oracle variant). pred = Format-mode extraction deterministically
      // truncated to 80% (a degraded transcript, the reference's
      // imperfect-model-output case); gt = golden expected text.
      import s.implicits._
      val (pagesDir, goldenDir) = microTables(s)
      val golden = IceLite.read(s, goldenDir).filter(col("mode") === "format")
        .select(col("url"), decode(col("expected_text"), "UTF-8").as("gt"))
      val pages = IceLite.read(s, pagesDir).join(golden.select("url"), Seq("url"))
      val pred = Pipeline.ok(Pipeline.extract(pages, ExtractMode.Format)).toDF()
        .select(col("url"), col("text").as("pred"))
      pred.join(broadcast(golden), Seq("url"))
        .select(col("url"), col("pred"), col("gt")).as[(String, String, String)]
        .flatMap { case (_, predFull, gt) =>
          val p = predFull.substring(0, predFull.length * 4 / 5)
          val (pt, pm, ptab) = Metrics.splitCategories(p)
          val (gtx, gm, gtab) = Metrics.splitCategories(gt)
          Seq(("text", pt, gtx), ("math", pm, gm), ("table", ptab, gtab))
            .filter { case (_, pc, gc) => pc.nonEmpty && gc.nonEmpty } // F3
            .map { case (cat, pc, gc) =>
              val m = Metrics.perDoc(pc, gc)
              (cat, m("bleu"), m("meteor"), m("f_measure"), m("precision"),
                m("recall"), m("edit_dist"), m("chrf"))
            }
        }
        .toDF("category", "bleu", "meteor", "f_measure", "precision", "recall", "edit_dist", "chrf")
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n_docs"), avg("bleu").as("bleu"),
          avg("meteor").as("meteor"),
          avg("f_measure").as("f_measure"), avg("precision").as("precision"),
          avg("recall").as("recall"), avg("edit_dist").as("edit_dist"),
          avg("chrf").as("chrf"))
        .orderBy("category")
    }),
    "x18_crawl_health" -> ((s, _) => {
      // crawl-health report (VERDICT r1 next-steps #10): per-host
      // extraction stats (perHostStats — map-side partial agg, only tiny
      // per-host rows shuffle) published together with the run's lineage
      // cross-check: the __ALL__ summary row asserts that what the hosts
      // sum to is exactly what the lineage table committed — the
      // invariant an operator pages through when a 100 TB run finishes.
      val (pagesDir, _) = microTables(s)
      val out = s"$SynthRoot/health_${java.util.UUID.randomUUID().toString.take(8)}"
      graft.pipeline.ResumableRun.run(s, pagesDir, s"$out/extracted", s"$out/lineage",
        nShards = 8, batchSize = 8)
      // ResumableRun commits per-batch subdirectories (the commit unit)
      val extracted = s.read.parquet(s"$out/extracted/batch_*")
      val hosts = Pipeline.perHostStats(extracted)
      val totals = hosts.agg(
        sum(col("n_docs")).as("t_docs"), sum(col("n_ok")).as("t_ok"),
        sum(col("bytes_in")).as("t_bytes"), sum(col("blocks_kept")).as("t_blocks"),
        sum(col("out_chars")).as("t_chars"))
      val lin = s.read.parquet(s"$out/lineage").agg(
        sum(col("row_count_in")).as("l_docs"), sum(col("bytes_in")).as("l_bytes"),
        count(lit(1)).as("l_shards"))
      val allRow = totals.crossJoin(lin).select(
        lit("__ALL__").as("host"), col("t_docs").as("n_docs"), col("t_ok").as("n_ok"),
        col("t_bytes").as("bytes_in"), col("t_blocks").as("blocks_kept"),
        col("t_chars").as("out_chars"),
        (col("t_docs") === col("l_docs") && col("t_bytes") === col("l_bytes"))
          .as("lineage_consistent"),
        col("l_shards").as("n_shards"))
      hosts
        .withColumn("lineage_consistent", lit(null).cast("boolean"))
        .withColumn("n_shards", lit(null).cast("long"))
        .unionByName(allRow)
        .orderBy("host")
    }),
    "x09_resume_lineage" -> ((s, _) => {
      val (pagesDir, _) = microTables(s)
      val out = s"$SynthRoot/run_${java.util.UUID.randomUUID().toString.take(8)}"
      graft.pipeline.ResumableRun.run(s, pagesDir, s"$out/extracted", s"$out/lineage",
        nShards = 8, batchSize = 4)
      s.read.parquet(s"$out/lineage")
        .select(col("snapshot_id"), col("partition_hash"), col("row_count_in"),
          col("row_count_out"), col("bytes_in"))
        .orderBy("partition_hash")
    }),
  )

  // --------------------------------------------------------- oracle SQL

  def oracleSql: Map[String, String] = Map(
    // NOTE (driver hash parity): DuckDB's sum(BIGINT) returns HUGEINT
    // (int128), so every sum below carries an OUTER CAST(... AS BIGINT)
    // to match Spark's int64 — inner casts alone are not enough.
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | count(*) AS n_rows,
        | CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        | CAST(sum(CAST(floor(l_discount * 10000) AS BIGINT)) AS BIGINT) AS disc_bp
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_nation_revenue" ->
      """SELECT n_name,
        | count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q03_anti_join_resume" ->
      """SELECT c_mktsegment,
        | count(*) AS n_no_order,
        | CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q04_union_mix" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM (
        |  SELECT * FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT * FROM documents WHERE lang <> 'en'
        |) GROUP BY source ORDER BY source""".stripMargin,
    "q05_first_event" ->
      """SELECT event_type, count(*) AS n_first FROM (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |) WHERE rn = 1 GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q06_edit_distance" ->
      """SELECT d1.lang,
        | CAST(sum(levenshtein(substring(d1.text, 1, 64), substring(d2.text, 1, 64))) AS BIGINT) AS sum_dist,
        | count(*) AS n_pairs
        |FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |GROUP BY d1.lang ORDER BY d1.lang""".stripMargin,
    "q07_category_split" ->
      """SELECT CASE
        |  WHEN position('\begin{tabular}' IN text) > 0 THEN 'table'
        |  WHEN position('\(' IN text) > 0 OR position('\[' IN text) > 0 THEN 'math'
        |  ELSE 'text' END AS category,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY category""".stripMargin,
    "q08_token_prf" ->
      """WITH t AS (
        |  SELECT lang,
        |    list_distinct(string_split(substring(text, 1, CAST(floor(n_chars / 2) AS INT)), ' ')) AS hyp,
        |    list_distinct(string_split(text, ' ')) AS ref
        |  FROM documents)
        |SELECT lang,
        |  CAST(sum(len(list_intersect(ref, hyp))) AS BIGINT) AS sum_inter,
        |  CAST(sum(len(ref)) AS BIGINT) AS sum_ref,
        |  CAST(sum(len(hyp)) AS BIGINT) AS sum_hyp
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q09_dedup_exact" ->
      """SELECT lang, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q10_minhash_band" ->
      """WITH sh AS (
        |  SELECT doc_id, b, min(md5(CAST(b AS VARCHAR) || substring(text, i, 8))) AS sig
        |  FROM documents,
        |    (SELECT unnest(generate_series(0, 1)) AS b),
        |    LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 7, 1), 7)) AS i)
        |  WHERE length(text) >= 8
        |  GROUP BY doc_id, b),
        |bk AS (SELECT b, sig, count(*) AS cnt FROM sh GROUP BY b, sig)
        |SELECT b, count(*) AS n_buckets,
        |  CAST(sum(cnt * (cnt - 1) / 2) AS BIGINT) AS cand_pairs
        |FROM bk GROUP BY b ORDER BY b""".stripMargin,
    "q11_filename_routing" ->
      """SELECT doc_id,
        |  source || '/' || lpad(CAST(doc_id AS VARCHAR), 9, '0') || '.jpg' AS filename,
        |  printf('%s_%05d', lang, doc_id) AS tag
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,
    "q12_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |    ELSE list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
        |    END AS gr
        |  FROM documents)
        |SELECT a.lang,
        |  CAST(sum(floor(1000.0 * len(list_intersect(a.gr, b.gr)) /
        |    greatest(len(list_distinct(a.gr || b.gr)), 1))) AS BIGINT) AS sum_jacc_x1000,
        |  count(*) AS n_pairs
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |GROUP BY a.lang ORDER BY a.lang""".stripMargin,
    "q13_cosine_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |  FROM e, q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q14_langid" ->
      """SELECT lang,
        |  CASE WHEN regexp_matches(text, '[一-龥]') THEN 'zh'
        |       WHEN (length(text) - length(replace(text, ' the ', ''))) >= 10 THEN 'en'
        |       ELSE 'other' END AS predicted,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    "q15_quality_score" ->
      """SELECT source,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(sum(length(text) - length(replace(text, '.', ''))) AS BIGINT) AS sum_punct,
        |  CAST(sum(CAST((length(text) - length(replace(text, ' the ', ' '))) / 4 AS BIGINT)) AS BIGINT) AS sum_the,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q16_token_count" ->
      """SELECT lang,
        |  CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS sum_ws,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_bpeish,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q17_hourly_events" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q18_cube_docs" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "q19_running_sum" ->
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM events WHERE user_id < 10
        |ORDER BY user_id, event_id""".stripMargin,
    "q20_segment_revenue" ->
      """SELECT c_mktsegment, count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q22_embed_neardup" ->
      """WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |e AS (SELECT * FROM base
        |      UNION ALL
        |      SELECT vec_id + 100000 AS vec_id, v FROM base WHERE vec_id < 50)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.92
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q24_quality_filter" ->
      """WITH q AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(floor(100.0 * length(replace(text, ' ', '')) / greatest(len(string_split(text, ' ')), 1)) AS BIGINT) AS mwl_x100,
        |    CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT) AS stop_the
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_words >= 20 AND mwl_x100 BETWEEN 250 AND 1200 AND stop_the >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(n_words) AS BIGINT) AS sum_words,
        |  CAST(sum(mwl_x100) AS BIGINT) AS sum_mwl_x100
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin,
    "q23_category_eval" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' \(' || substring(text, 1, 16) || '\) \[' || substring(text, 17, 16)
        |      || '\] \begin{tabular}{ll} ' || substring(text, 1, 12) || ' \end{tabular}' AS gt,
        |    substring(text, 1, CAST(floor(n_chars / 2) AS INT)) || ' \(' || substring(text, 1, 16)
        |      || '\) \begin{tabular}{ll} ' || substring(text, 3, 12) || ' \end{tabular}' AS pred
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, 'a_text' AS category, trim(gt) AS gtc FROM d
        |  UNION ALL
        |  SELECT doc_id, 'b_math',
        |    coalesce(array_to_string(regexp_extract_all(gt, '\\\((.*?)\\\)', 1), chr(10)), '') ||
        |    coalesce(array_to_string(regexp_extract_all(gt, '\\\[(.*?)\\\]', 1), chr(10)), '') FROM d
        |  UNION ALL
        |  SELECT doc_id, 'c_table',
        |    coalesce(array_to_string(regexp_extract_all(gt, '(?s)\\begin\{tabular\}(.*?)\\end\{tabular\}', 1), chr(10)), '') FROM d),
        |p AS (
        |  SELECT doc_id, 'a_text' AS category, trim(pred) AS predc FROM d
        |  UNION ALL
        |  SELECT doc_id, 'b_math',
        |    coalesce(array_to_string(regexp_extract_all(pred, '\\\((.*?)\\\)', 1), chr(10)), '') ||
        |    coalesce(array_to_string(regexp_extract_all(pred, '\\\[(.*?)\\\]', 1), chr(10)), '') FROM d
        |  UNION ALL
        |  SELECT doc_id, 'c_table',
        |    coalesce(array_to_string(regexp_extract_all(pred, '(?s)\\begin\{tabular\}(.*?)\\end\{tabular\}', 1), chr(10)), '') FROM d),
        |j AS (
        |  SELECT g.category,
        |    len(list_intersect(list_distinct(string_split(gtc, ' ')), list_distinct(string_split(predc, ' ')))) AS inter,
        |    len(list_distinct(string_split(gtc, ' '))) AS nref,
        |    len(list_distinct(string_split(predc, ' '))) AS nhyp
        |  FROM g JOIN p ON g.doc_id = p.doc_id AND g.category = p.category
        |  WHERE length(gtc) >= 1 AND length(predc) >= 1)
        |SELECT category, count(*) AS n_docs,
        |  CAST(sum(inter) AS BIGINT) AS sum_inter,
        |  CAST(sum(nref) AS BIGINT) AS sum_ref,
        |  CAST(sum(nhyp) AS BIGINT) AS sum_hyp,
        |  CAST(sum(CAST(floor(1000.0 * inter / greatest(nhyp, 1)) AS BIGINT)) AS BIGINT) AS sum_prec_x1000
        |FROM j GROUP BY category ORDER BY category""".stripMargin,
    "q21_cosine_native" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |  FROM e, q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q25_dedup_clusters" ->
      // min-label closure via recursive reachability: reach(id, label)
      // holds every node id reachable FROM label; min per id = the
      // component's minimum node id — the same labels min-propagation
      // converges to
      """WITH RECURSIVE nodes AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE doc_id % 10 <= 5
        |), e0 AS (
        |  SELECT CAST(a.doc_id AS BIGINT) AS src, CAST(b.doc_id AS BIGINT) AS dst
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 10 < 4
        |), edges AS (
        |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
        |), reach(id, label) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
        |)
        |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "q26_session_gaps" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g)
        |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
        |  count(*) AS n_events,
        |  min(ts) AS start_ts, max(ts) AS end_ts,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_x100
        |FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin,
    "q27_repetition_filter" ->
      """WITH base AS (
        |  SELECT lang, text FROM documents
        |  UNION ALL
        |  SELECT 'planted' AS lang, repeat(substring(text, 1, 40) || ' ', 12) AS text
        |  FROM documents WHERE doc_id < 20),
        |r AS (
        |  SELECT lang,
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      CAST(floor(1000.0 * (
        |        (len(string_split(text, ' ')) - 2) -
        |        len(list_distinct(list_transform(range(len(string_split(text, ' ')) - 2),
        |          i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3])))
        |      ) / (len(string_split(text, ' ')) - 2)) AS BIGINT)
        |    ELSE 0 END AS rep_x1000
        |  FROM base)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(rep_x1000) AS BIGINT) AS sum_rep_x1000,
        |  CAST(sum(CASE WHEN rep_x1000 > 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "q28_decontamination" ->
      """WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text FROM documents WHERE doc_id % 101 <> 0
        |  UNION ALL
        |  SELECT CAST(doc_id + (SELECT max(doc_id) + 1 FROM documents) AS BIGINT),
        |    'planted', substring(text, 1, 120)
        |  FROM documents WHERE doc_id % 101 = 0),
        |bgrams AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(len(string_split(text, ' ')) - 4),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 5), ' ')))) AS g
        |  FROM documents WHERE doc_id % 101 = 0 AND len(string_split(text, ' ')) >= 5),
        |cg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(string_split(text, ' ')) - 4),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 5), ' ')))) AS g
        |  FROM corpus WHERE len(string_split(text, ' ')) >= 5),
        |ov AS (
        |  SELECT doc_id, count(*) AS n_overlap FROM cg JOIN bgrams USING (g) GROUP BY doc_id)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN coalesce(n_overlap, 0) >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(sum(coalesce(n_overlap, 0)) AS BIGINT) AS sum_overlap
        |FROM corpus LEFT JOIN ov USING (doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q29_pii_scrub" ->
      """WITH d AS (
        |  SELECT lang, text FROM documents
        |  UNION ALL
        |  SELECT 'planted' AS lang,
        |    substring(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or call 555-123-4567 from 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
        |  FROM documents WHERE doc_id < 30),
        |m AS (
        |  SELECT lang,
        |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
        |    len(regexp_extract_all(text, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS n_ip,
        |    length(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |      '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g')) AS scrub_len
        |  FROM d)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_email >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_email_docs,
        |  CAST(sum(CASE WHEN n_phone >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_phone_docs,
        |  CAST(sum(CASE WHEN n_ip >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ip_docs,
        |  CAST(sum(n_email + n_phone + n_ip) AS BIGINT) AS n_matches,
        |  CAST(sum(scrub_len) AS BIGINT) AS sum_scrub_len
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "q30_stratified_sample" ->
      """WITH k AS (
        |  SELECT lang, n_chars,
        |    substring(md5(text), 1, 2) <
        |      CASE lang WHEN 'en' THEN '40' WHEN 'zh' THEN '80' ELSE '20' END AS keep
        |  FROM documents)
        |SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "q31_url_canonical" ->
      """WITH d AS (SELECT doc_id, doc_id % 20 AS site FROM documents),
        |raw AS (
        |  SELECT site, 'https://www.site' || CAST(site AS VARCHAR) || '.example.com/p/'
        |    || CAST(doc_id AS VARCHAR) || '?b=2&utm_source=feed&a=1#frag' AS url FROM d
        |  UNION ALL
        |  SELECT site, 'HTTPS://Site' || CAST(site AS VARCHAR) || '.EXAMPLE.com:443/p/'
        |    || CAST(doc_id AS VARCHAR) || '?a=1&b=2' FROM d
        |  UNION ALL
        |  SELECT site, 'https://site' || CAST(site AS VARCHAR) || '.example.com/p/'
        |    || CAST(doc_id AS VARCHAR) || '?utm_campaign=x&a=1&b=2&utm_medium=y' FROM d),
        |c AS (
        |  SELECT site,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS pq
        |  FROM raw),
        |c2 AS (
        |  SELECT site, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(regexp_replace(hostport, '^www\.', ''), ':443$', '')
        |         WHEN scheme = 'http'  THEN regexp_replace(regexp_replace(hostport, '^www\.', ''), ':80$', '')
        |         ELSE regexp_replace(hostport, '^www\.', '') END AS host,
        |    split_part(pq, '?', 1) AS path,
        |    CASE WHEN strpos(pq, '?') > 0 THEN substr(pq, strpos(pq, '?') + 1) ELSE '' END AS query
        |  FROM c),
        |c3 AS (
        |  SELECT site, scheme || '://' || host ||
        |    CASE WHEN path = '' THEN '/' ELSE path END ||
        |    CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon
        |  FROM (SELECT site, scheme, host, path,
        |    array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      x -> substr(x, 1, 4) <> 'utm_' AND x <> '')), '&') AS q FROM c2))
        |SELECT site, count(*) AS n_raw,
        |  CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
        |  min(canon) AS sample_canonical
        |FROM c3 GROUP BY site ORDER BY site""".stripMargin,
    "q32_token_packing" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT lang, CAST(floor((cum - 1) / 2000) AS BIGINT) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM c GROUP BY lang, shard ORDER BY lang, shard""".stripMargin,
    // q33: the oracle states each href shape's expected resolution in
    // CLOSED FORM (lowercased host, port/userinfo stripped, relative ->
    // base, non-navigational -> dropped) — the Spark side runs the real
    // parser, so equality checks the parser against the spec.
    "q33_outlink_hosts" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |r AS (
        |  SELECT 'abs_https' AS kind, 'abs' || id || '.target.com' AS resolved,
        |    'host' || id || '.example.com' AS base FROM d
        |  UNION ALL SELECT 'abs_http_port', 'port' || id || '.target.com',
        |    'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'abs_upper', 'upper' || id || '.target.com',
        |    'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'userinfo', 'sec' || id || '.target.com',
        |    'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'userinfo_port', 'up' || id || '.target.com',
        |    'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'proto_rel', 'proto' || id || '.target.com',
        |    'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'rel_path', 'host' || id || '.example.com',
        |    'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'root_rel', 'host' || id || '.example.com',
        |    'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'fragment', '', 'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'mailto', '', 'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'javascript', '', 'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'ftp', '', 'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'colon_in_path', 'host' || id || '.example.com',
        |    'host' || id || '.example.com' FROM d
        |  UNION ALL SELECT 'empty', '', 'host' || id || '.example.com' FROM d)
        |SELECT kind, count(*) AS n_hrefs,
        |  CAST(sum(CASE WHEN resolved = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN resolved <> '' AND resolved = base THEN 1 ELSE 0 END) AS BIGINT) AS n_internal,
        |  CAST(sum(CASE WHEN resolved <> '' AND resolved <> base THEN 1 ELSE 0 END) AS BIGINT) AS n_external,
        |  CAST(count(DISTINCT CASE WHEN resolved <> '' THEN resolved END) AS BIGINT) AS n_hosts,
        |  coalesce(min(CASE WHEN resolved <> '' THEN resolved END), '') AS min_host
        |FROM r GROUP BY kind ORDER BY kind""".stripMargin,
    // q34: reset-form greedy packing stepped by a recursive CTE — the
    // same recurrence the flatMapGroups runs (pack += 1 when the doc
    // would overflow; the doc goes whole into the new pack).
    "q34_packing_sharded" ->
      """WITH RECURSIVE d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(floor(doc_id / 100) AS BIGINT) AS input_shard
        |  FROM documents),
        |o AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang, input_shard ORDER BY doc_id) AS rn
        |  FROM d),
        |packs AS (
        |  SELECT lang, input_shard, doc_id, n_tok, rn,
        |    CAST(0 AS BIGINT) AS pack, n_tok AS cur
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.lang, o.input_shard, o.doc_id, o.n_tok, o.rn,
        |    CASE WHEN p.cur + o.n_tok > 300 THEN p.pack + 1 ELSE p.pack END,
        |    CASE WHEN p.cur + o.n_tok > 300 THEN o.n_tok ELSE p.cur + o.n_tok END
        |  FROM packs p
        |  JOIN o ON o.lang = p.lang AND o.input_shard = p.input_shard
        |    AND o.rn = p.rn + 1)
        |SELECT lang, input_shard, pack, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM packs GROUP BY lang, input_shard, pack
        |ORDER BY lang, input_shard, pack""".stripMargin,
    // q35: identical parenthesization/operand order as the Spark
    // expression — only IEEE-exact ops (+ - * / floor), no ln.
    "q35_rare_term_idf" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text FROM documents),
        |terms AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM d),
        |tf AS (
        |  SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM terms GROUP BY doc_id, lang, term),
        |df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc AS (
        |  SELECT doc_id, lang,
        |    CAST(sum(CAST(floor((1000000.0 * ((SELECT count(*) FROM d) - df + 0.5)
        |      / (df + 0.5)) * (tf * 2.2 / (tf + 1.2))) AS BIGINT)) AS BIGINT) AS score
        |  FROM tf JOIN df USING (term) GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(score) AS BIGINT) AS sum_score,
        |  CAST(max(score) AS BIGINT) AS max_score,
        |  CAST(min(score) AS BIGINT) AS min_score
        |FROM sc GROUP BY lang ORDER BY lang""".stripMargin,
    // q36: closed-form RFC 9309 expectations — every doc contributes one
    // path per case kind; allowed/disallowed is fixed per kind by the
    // spec semantics the Spark side's real evaluator implements.
    "q36_robots_rules" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents)
        |SELECT kind, (SELECT c FROM n) AS n_paths,
        |  CASE WHEN allowed THEN (SELECT c FROM n) ELSE CAST(0 AS BIGINT) END AS n_allowed
        |FROM (VALUES
        |  ('prefix_disallow', false),
        |  ('allow_override', true),
        |  ('wildcard_pdf_anchored', false),
        |  ('anchored_no_match', true),
        |  ('star_prefix', false),
        |  ('unmatched_default_allow', true),
        |  ('agent_group_disallow', false),
        |  ('agent_group_overrides_generic', true)) AS t(kind, allowed)
        |ORDER BY kind""".stripMargin,
    "q37_window_dedup" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id + (SELECT max(doc_id) + 1 FROM documents) AS BIGINT),
        |    'planted', substring(text, 1, 120)
        |  FROM documents WHERE doc_id % 97 = 0),
        |dw AS (
        |  SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(string_split(text, ' ')) - 7),
        |      i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 8), ' ')))) AS w
        |  FROM d WHERE len(string_split(text, ' ')) >= 8),
        |sh AS (
        |  SELECT w, count(DISTINCT doc_id) AS n_docs_with FROM dw GROUP BY w),
        |per AS (
        |  SELECT lang,
        |    CAST(floor(1000 * CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      / count(*)) AS BIGINT) AS dup_x1000
        |  FROM dw JOIN sh USING (w) GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(dup_x1000) AS BIGINT) AS sum_dup_x1000,
        |  CAST(sum(CASE WHEN dup_x1000 >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_dup
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    // q38: DuckDB's utf8proc nfc_normalize vs the JVM Normalizer —
    // canonical mappings are Unicode-stability-frozen, so they agree.
    // Combining marks built via chr() so no invisible codepoints hide
    // in this source string.
    "q38_nfc_normalize" ->
      """WITH d AS (
        |  SELECT lang, text FROM documents
        |  UNION ALL
        |  SELECT 'planted', 'caf' || chr(233) || ' r' || chr(233) || 'sum'
        |    || chr(233) || ' na' || chr(239) || 've ' || substring(text, 1, 60)
        |  FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT 'planted', 'cafe' || chr(769) || ' re' || chr(769) || 'sume'
        |    || chr(769) || ' nai' || chr(776) || 've ' || substring(text, 1, 60)
        |  FROM documents WHERE doc_id < 40),
        |n AS (SELECT lang, text, nfc_normalize(text) AS nfc FROM d)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nfc <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_denormalized,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len_raw,
        |  CAST(sum(length(nfc)) AS BIGINT) AS sum_len_nfc,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_distinct,
        |  CAST(count(DISTINCT md5(nfc)) AS BIGINT) AS n_nfc_distinct
        |FROM n GROUP BY lang ORDER BY lang""".stripMargin,
    "q39_crawl_politeness" ->
      """WITH e AS (
        |  SELECT CAST(user_id AS BIGINT) AS host_id, ts,
        |    CAST(event_id AS BIGINT) AS event_id
        |  FROM events),
        |g AS (
        |  SELECT host_id,
        |    epoch_ms(ts) - epoch_ms(lag(ts) OVER (
        |      PARTITION BY host_id ORDER BY ts, event_id)) AS gap_ms
        |  FROM e)
        |SELECT host_id, count(*) AS n_gaps,
        |  CAST(min(gap_ms) AS BIGINT) AS min_gap_ms,
        |  CAST(max(gap_ms) AS BIGINT) AS max_gap_ms,
        |  CAST(sum(gap_ms) AS BIGINT) AS sum_gap_ms,
        |  CAST(sum(CASE WHEN gap_ms < 60000 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM g WHERE gap_ms IS NOT NULL
        |GROUP BY host_id ORDER BY host_id""".stripMargin,
    // q40: closed-form expected frontier entries per doc (the entity in
    // loc b decodes, the CDATA body of loc c extracts, the locless
    // fourth entry drops).
    "q40_sitemap_parse" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |e AS (
        |  SELECT id % 10 AS grp, 'https://s' || id || '.example.com/a' AS loc,
        |    '2024-01-0' || CAST(1 + id % 9 AS VARCHAR) AS lastmod FROM d
        |  UNION ALL
        |  SELECT id % 10, 'https://s' || id || '.example.com/b?x=1&y=2', '' FROM d
        |  UNION ALL
        |  SELECT id % 10, 'https://s' || id || '.example.com/c', '2024-02-11' FROM d)
        |SELECT grp, count(*) AS n_entries,
        |  CAST(sum(CASE WHEN lastmod <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_with_lastmod,
        |  CAST(count(DISTINCT lastmod) AS BIGINT) AS n_distinct_lastmod,
        |  min(loc) AS min_loc, max(loc) AS max_loc
        |FROM e GROUP BY grp ORDER BY grp""".stripMargin,
    // q41: list_contains(NULL-coalesced set) mirrors the Spark
    // array_contains over an empty typed array; array_to_string on a
    // possibly-empty kept list still yields '' here because every page
    // keeps at least its unique body line.
    "q41_boilerplate_lines" ->
      """WITH pages AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source AS host, lang,
        |    '=== ' || source || ' home news about ===' || chr(10) ||
        |    'nav: ' || source || '/index' || chr(10) ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'promo: visit ' || source
        |         ELSE 'doc ' || CAST(doc_id AS VARCHAR) END || chr(10) ||
        |    text || chr(10) ||
        |    '(c) 2024 ' || source AS page_text
        |  FROM documents),
        |wl AS (SELECT doc_id, host, string_split(page_text, chr(10)) AS lines FROM pages),
        |ex AS (SELECT doc_id, host, unnest(list_distinct(lines)) AS line FROM wl),
        |hd AS (SELECT host, count(DISTINCT doc_id) AS host_docs FROM pages GROUP BY host),
        |freq AS (SELECT host, line, count(DISTINCT doc_id) AS n_docs_with
        |  FROM ex GROUP BY host, line),
        |boiler AS (
        |  SELECT f.host, list_sort(list(f.line)) AS bset, count(*) AS nb
        |  FROM freq f JOIN hd USING (host)
        |  WHERE f.n_docs_with * 10 >= hd.host_docs * 6 AND hd.host_docs >= 3
        |  GROUP BY f.host),
        |cleaned AS (
        |  SELECT wl.host, wl.lines,
        |    CAST(coalesce(b.nb, 0) AS BIGINT) AS n_boiler_lines,
        |    list_filter(wl.lines,
        |      l -> NOT list_contains(coalesce(b.bset, CAST([] AS VARCHAR[])), l)) AS kept
        |  FROM wl LEFT JOIN boiler b USING (host))
        |SELECT host, count(*) AS n_docs,
        |  CAST(max(n_boiler_lines) AS BIGINT) AS n_boiler_lines,
        |  CAST(sum(len(lines)) AS BIGINT) AS sum_lines_raw,
        |  CAST(sum(len(kept)) AS BIGINT) AS sum_lines_kept,
        |  CAST(sum(length(coalesce(array_to_string(kept, chr(10)), ''))) AS BIGINT) AS sum_chars_kept,
        |  CAST(count(DISTINCT md5(coalesce(array_to_string(kept, chr(10)), ''))) AS BIGINT) AS n_distinct_clean
        |FROM cleaned GROUP BY host ORDER BY host""".stripMargin,
    "q42_snapshot_delta" ->
      """WITH a0 AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source, text FROM documents),
        |snap_a AS (
        |  SELECT 'https://' || source || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
        |    lang AS lang_a, md5(text) AS h_a FROM a0),
        |snap_b AS (
        |  SELECT 'https://' || source || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
        |    lang AS lang_b,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' updated v2' ELSE text END) AS h_b
        |  FROM a0 WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT 'https://' || source || '.example.com/new' || CAST(doc_id AS VARCHAR),
        |    lang, md5('new ' || text) FROM a0 WHERE doc_id % 11 = 0),
        |j AS (
        |  SELECT coalesce(lang_a, lang_b) AS lang,
        |    CASE WHEN h_a IS NULL THEN 'added'
        |         WHEN h_b IS NULL THEN 'removed'
        |         WHEN h_a <> h_b THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM snap_a FULL OUTER JOIN snap_b USING (url))
        |SELECT lang,
        |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  CAST(sum(CASE WHEN status IN ('added', 'changed') THEN 1 ELSE 0 END) AS BIGINT) AS n_reextract
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
    "q43_cluster_retention" ->
      """WITH RECURSIVE docs AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |    CAST(n_chars AS BIGINT) AS n_chars FROM documents),
        |nodes AS (SELECT doc_id AS id, lang, n_chars FROM docs WHERE doc_id % 10 <= 5),
        |e0 AS (
        |  SELECT a.id AS src, b.id AS dst FROM nodes a JOIN nodes b ON b.id = a.id + 1
        |  WHERE a.id % 10 < 4),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |reach(id, label) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |lab AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id)
        |SELECT n.lang, count(*) AS n_docs,
        |  CAST(count(DISTINCT l.cluster) AS BIGINT) AS n_clusters_touched,
        |  CAST(sum(CASE WHEN n.id = l.cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(sum(CASE WHEN n.id <> l.cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN n.id = l.cluster THEN n.n_chars ELSE 0 END) AS BIGINT) AS chars_retained,
        |  CAST(sum(CASE WHEN n.id <> l.cluster THEN n.n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
        |FROM nodes n JOIN lab l USING (id)
        |GROUP BY n.lang ORDER BY n.lang""".stripMargin,
    // q44: every float literal is CAST(... AS DOUBLE) so DuckDB never
    // routes through DECIMAL arithmetic — the Spark side's lit(2.2) is a
    // double, and bit-exactness needs the identical IEEE tree.
    "q44_bm25_topk" ->
      """WITH d2 AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |qt(query_id, term, tidx) AS (
        |  SELECT * FROM (VALUES (1, 'spark', 1), (1, 'window', 2), (2, 'merge', 1),
        |    (2, 'key', 2), (3, 'vector', 1), (3, 'batch', 2)) v),
        |corpus AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
        |  FROM d2),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, min(dl) AS dl
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d2) x
        |  WHERE term IN (SELECT DISTINCT term FROM qt)
        |  GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term),
        |contrib AS (
        |  SELECT tf.doc_id, tf.term,
        |    ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
        |    ((tf * CAST(2.2 AS DOUBLE)) / (tf + CAST(1.2 AS DOUBLE) *
        |      (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
        |        (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))) AS c
        |  FROM tf JOIN dfq USING (term) CROSS JOIN corpus),
        |scored AS (
        |  SELECT query_id, doc_id,
        |    coalesce(max(CASE WHEN tidx = 1 THEN c END), CAST(0.0 AS DOUBLE))
        |      + coalesce(max(CASE WHEN tidx = 2 THEN c END), CAST(0.0 AS DOUBLE)) AS score
        |  FROM contrib JOIN qt USING (term) GROUP BY query_id, doc_id),
        |r AS (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        |  FROM scored)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rank,
        |  doc_id, CAST(floor(score * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS score_x1e6
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,
    // q45: RE2 script classes \p{Xxx} match Java's \p{IsXxx} on these
    // four scripts (stable BMP assignments).
    "q45_script_mix" ->
      """WITH d AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 17 = 0
        |      THEN text || ' ' || chr(1087) || chr(1088) || chr(1080) || chr(1084)
        |        || chr(1077) || chr(1088) || ' ' || chr(28450) || chr(23383)
        |        || chr(28204) || chr(35430) || ' ' || chr(960) || chr(945)
        |        || chr(961) || chr(940) || chr(948) || chr(949) || chr(953)
        |        || chr(947) || chr(956) || chr(945)
        |      ELSE text END AS text
        |  FROM documents),
        |c AS (
        |  SELECT lang,
        |    length(text) - length(regexp_replace(text, '[\p{Latin}]', '', 'g')) AS n_latin,
        |    length(text) - length(regexp_replace(text, '[\p{Cyrillic}]', '', 'g')) AS n_cyr,
        |    length(text) - length(regexp_replace(text, '[\p{Han}]', '', 'g')) AS n_han,
        |    length(text) - length(regexp_replace(text, '[\p{Greek}]', '', 'g')) AS n_greek
        |  FROM d),
        |f AS (
        |  SELECT lang, n_latin, n_cyr, n_han, n_greek,
        |    (CASE WHEN n_latin > 0 THEN 1 ELSE 0 END) + (CASE WHEN n_cyr > 0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN n_han > 0 THEN 1 ELSE 0 END) + (CASE WHEN n_greek > 0 THEN 1 ELSE 0 END) AS n_scripts
        |  FROM c)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_latin) AS BIGINT) AS sum_latin,
        |  CAST(sum(n_cyr) AS BIGINT) AS sum_cyr,
        |  CAST(sum(n_han) AS BIGINT) AS sum_han,
        |  CAST(sum(n_greek) AS BIGINT) AS sum_greek,
        |  CAST(sum(CASE WHEN n_scripts >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "q46_host_len_percentiles" ->
      """WITH d AS (
        |  SELECT source AS host, CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents),
        |r AS (
        |  SELECT host, n_chars,
        |    CAST(row_number() OVER (PARTITION BY host ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY host) AS BIGINT) AS n
        |  FROM d)
        |SELECT host, count(*) AS n_docs,
        |  CAST(max(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS BIGINT) AS p25,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS BIGINT) AS p50,
        |  CAST(max(CASE WHEN rn = (n * 9 + 9) // 10 THEN n_chars END) AS BIGINT) AS p90
        |FROM r GROUP BY host ORDER BY host""".stripMargin,
    "q47_paragraph_dedup" ->
      """WITH pages AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |    text || chr(10) || chr(10) || 'common paragraph ' || CAST(doc_id % 5 AS VARCHAR)
        |      || chr(10) || chr(10) || 'host notice ' || source AS page_text
        |  FROM documents),
        |wl AS (
        |  SELECT doc_id, lang, string_split(page_text, chr(10) || chr(10)) AS paras
        |  FROM pages),
        |ex AS (SELECT doc_id, unnest(list_distinct(paras)) AS para FROM wl),
        |fs AS (SELECT md5(para) AS h, CAST(min(doc_id) AS BIGINT) AS first_doc
        |  FROM ex GROUP BY md5(para)),
        |dr AS (
        |  SELECT doc_id, list_sort(list(para)) AS dropset
        |  FROM ex JOIN fs ON fs.h = md5(ex.para)
        |  WHERE first_doc <> doc_id GROUP BY doc_id),
        |cleaned AS (
        |  SELECT wl.lang, wl.paras,
        |    list_filter(wl.paras,
        |      p -> NOT list_contains(coalesce(dr.dropset, CAST([] AS VARCHAR[])), p)) AS kept
        |  FROM wl LEFT JOIN dr USING (doc_id))
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(paras)) AS BIGINT) AS sum_paras_raw,
        |  CAST(sum(len(kept)) AS BIGINT) AS sum_paras_kept,
        |  CAST(sum(length(coalesce(array_to_string(kept, chr(10) || chr(10)), ''))) AS BIGINT) AS sum_chars_kept,
        |  CAST(count(DISTINCT md5(coalesce(array_to_string(kept, chr(10) || chr(10)), ''))) AS BIGINT) AS n_distinct_clean
        |FROM cleaned GROUP BY lang ORDER BY lang""".stripMargin,
    // q48: closed-form allowed set — /a<id> allowed, /private<id>/secret
    // blocked by the prefix rule, /private<id>/ok/page re-allowed by the
    // longer Allow, /report<id>.pdf blocked by the $-anchored wildcard.
    "q48_frontier_filter" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |e AS (
        |  SELECT id % 10 AS grp,
        |    'https://h' || id || '.example.com/a' || id AS loc, 1 AS allowed FROM d
        |  UNION ALL
        |  SELECT id % 10, 'https://h' || id || '.example.com/private' || id || '/secret', 0 FROM d
        |  UNION ALL
        |  SELECT id % 10, 'https://h' || id || '.example.com/private' || id || '/ok/page', 1 FROM d
        |  UNION ALL
        |  SELECT id % 10, 'https://h' || id || '.example.com/report' || id || '.pdf', 0 FROM d)
        |SELECT grp, count(*) AS n_entries,
        |  CAST(sum(allowed) AS BIGINT) AS n_allowed,
        |  min(CASE WHEN allowed = 1 THEN loc END) AS min_allowed_loc,
        |  max(CASE WHEN allowed = 1 THEN loc END) AS max_allowed_loc
        |FROM e GROUP BY grp ORDER BY grp""".stripMargin,
    // q49: integer-only scoring — DuckDB // is floor division, Spark div
    // truncates toward zero; all operands here are non-negative so the
    // two agree. Single-token docs yield no bigrams and drop from
    // scoring in both engines (explode/unnest of an empty list).
    "q49_lm_bucket" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |    string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(t)-1),
        |      g -> t[g] || ' ' || t[g+1])) AS bg
        |  FROM toks),
        |bgc AS (SELECT lang, bg, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bg GROUP BY lang, bg),
        |ds AS (
        |  SELECT b.doc_id, b.lang,
        |    (sum(c.cnt) * 1000) // count(*) AS score_mills
        |  FROM bg b JOIN bgc c USING (lang, bg)
        |  GROUP BY b.doc_id, b.lang),
        |lm AS (SELECT lang, sum(score_mills) // count(*) AS mean_mills
        |  FROM ds GROUP BY lang),
        |bk AS (
        |  SELECT ds.lang, score_mills,
        |    CASE WHEN score_mills * 2 >= mean_mills * 3 THEN 'head'
        |         WHEN score_mills * 2 >= mean_mills THEN 'middle'
        |         ELSE 'tail' END AS bucket
        |  FROM ds JOIN lm USING (lang))
        |SELECT lang, bucket, count(*) AS n_docs,
        |  CAST(min(score_mills) AS BIGINT) AS min_mills,
        |  CAST(max(score_mills) AS BIGINT) AS max_mills,
        |  CAST(sum(score_mills) AS BIGINT) AS sum_mills
        |FROM bk GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "q50_blocklist_filter" ->
      """WITH planted AS (
        |  SELECT lang, text
        |    || CASE WHEN doc_id % 19 = 0 THEN ' casino bonus xxx win' ELSE '' END
        |    || CASE WHEN doc_id % 23 = 0 THEN ' cheap viagra lottery prize' ELSE '' END
        |    AS text
        |  FROM documents),
        |h AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('casino', 'viagra', 'xxx', 'lottery'))) AS BIGINT) AS n_hits
        |  FROM planted)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_hits >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(CASE WHEN n_hits >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_filtered,
        |  CAST(sum(n_hits) AS BIGINT) AS sum_hits,
        |  CAST(max(n_hits) AS BIGINT) AS max_hits
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    // q51: closed-form expected links per page — internal /about resolves
    // to the page host; hub gets two anchors (one with &amp; decoding to
    // '&'); partner fans over 10 hosts. Term counts are whitespace words
    // of the DECODED anchor.
    "q51_anchor_text" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |e AS (
        |  SELECT 'internal' AS kind, 'host' || id || '.example.com' AS dst_host,
        |    'home page ' || id AS anchor, CAST(3 AS BIGINT) AS n_terms FROM d
        |  UNION ALL
        |  SELECT 'hub', 'hub.example.org', 'best spark guide ' || id, 4 FROM d
        |  UNION ALL
        |  SELECT 'partner', 'p' || (id % 10) || '.partner.net',
        |    'partner deal ' || id, 3 FROM d
        |  UNION ALL
        |  SELECT 'hub', 'hub.example.org', 'tom & jerry ' || id, 4 FROM d)
        |SELECT kind, count(*) AS n_links,
        |  CAST(count(DISTINCT dst_host) AS BIGINT) AS n_hosts,
        |  CAST(sum(n_terms) AS BIGINT) AS sum_terms,
        |  CAST(sum(CASE WHEN contains(anchor, '&') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_amp_anchors,
        |  min(anchor) AS min_anchor
        |FROM e GROUP BY kind ORDER BY kind""".stripMargin,
    // q52: the EXPECTED markdown per case, stated in closed form — the
    // whole rendered table string is value-compared per doc (min/
    // distinct aggregates over strings that differ only in the id).
    "q52_table_markdown" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |e AS (
        |  SELECT 'basic' AS kind, CAST(2 AS BIGINT) AS n_rows,
        |    CAST(4 AS BIGINT) AS n_cells, CAST(1 AS BIGINT) AS header_rows,
        |    '| Name | V ' || id || ' |' || chr(10) || '| --- | --- |'
        |      || chr(10) || '| a | b |' AS md
        |  FROM d
        |  UNION ALL
        |  SELECT 'colspan', 2, 6, 0,
        |    '|  |  |  |' || chr(10) || '| --- | --- | --- |' || chr(10)
        |      || '| wide ' || id || ' |  | c |' || chr(10) || '| x | y | z |'
        |  FROM d
        |  UNION ALL
        |  SELECT 'escape', 1, 2, 0,
        |    '|  |  |' || chr(10) || '| --- | --- |' || chr(10)
        |      || '| a\|b ' || id || ' | x & y |'
        |  FROM d
        |  UNION ALL
        |  SELECT 'nested', 1, 1, 0,
        |    '|  |' || chr(10) || '| --- |' || chr(10)
        |      || '| outer in ' || id || ' tail |'
        |  FROM d
        |  UNION ALL
        |  SELECT 'ragged', 2, 3, 1,
        |    '| H ' || id || ' |  |' || chr(10) || '| --- | --- |' || chr(10)
        |      || '| r1 | r2 |'
        |  FROM d)
        |SELECT kind, count(*) AS n_tables,
        |  CAST(sum(n_rows) AS BIGINT) AS sum_rows,
        |  CAST(sum(n_cells) AS BIGINT) AS sum_cells,
        |  CAST(sum(CASE WHEN header_rows > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_header,
        |  CAST(count(DISTINCT md) AS BIGINT) AS n_md_distinct,
        |  min(md) AS min_md
        |FROM e GROUP BY kind ORDER BY kind""".stripMargin,
    // q53: the identical longest-known-suffix algorithm over the same
    // curated suffix list (UrlCanon.twoLevelSuffixes).
    "q53_registrable_domain" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |e AS (
        |  SELECT 'uk_two_level' AS kind,
        |    'www.shop' || (id % 50) || '.co.uk' AS host FROM d
        |  UNION ALL SELECT 'private_registry', 'blog' || (id % 30) || '.github.io' FROM d
        |  UNION ALL SELECT 'plain_tld', 'cdn.site' || (id % 40) || '.com' FROM d
        |  UNION ALL SELECT 'deep_subdomain', 'a.b.site' || (id % 20) || '.org' FROM d
        |  UNION ALL SELECT 'single_label', 'localhost' FROM d
        |  UNION ALL SELECT 'bare_suffix', 'co.uk' FROM d),
        |r AS (
        |  SELECT kind, host,
        |    CASE WHEN len(ls) <= 1 THEN host
        |         WHEN len(ls) >= 3 AND list_contains(
        |             ['co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
        |              'org.au','co.jp','ne.jp','or.jp','com.br','com.cn',
        |              'com.mx','co.in','co.za','github.io','blogspot.com'],
        |             ls[-2] || '.' || ls[-1])
        |           THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
        |         ELSE ls[-2] || '.' || ls[-1] END AS dom
        |  FROM (SELECT kind, host, string_split(host, '.') AS ls FROM e))
        |SELECT kind, count(*) AS n_hosts,
        |  CAST(count(DISTINCT host) AS BIGINT) AS n_distinct_hosts,
        |  CAST(count(DISTINCT dom) AS BIGINT) AS n_domains,
        |  min(dom) AS min_domain, max(dom) AS max_domain
        |FROM r GROUP BY kind ORDER BY kind""".stripMargin,
    // q54: the oracle scans each doc's token array directly (the
    // semantic definition of a phrase hit); Spark answers the same
    // question with the distributed positional-index join.
    "q54_phrase_search" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    string_split(text, ' ') AS t FROM documents),
        |ph(phrase, w0, w1) AS (
        |  SELECT * FROM (VALUES ('key order', 'key', 'order'),
        |    ('group query', 'group', 'query'), ('table scan', 'table', 'scan')) v),
        |hits AS (
        |  SELECT p.phrase, k.doc_id,
        |    CAST(len(list_filter(generate_series(1, len(t)-1),
        |      i -> t[i] = p.w0 AND t[i+1] = p.w1)) AS BIGINT) AS n
        |  FROM toks k CROSS JOIN ph p)
        |SELECT phrase,
        |  CAST(count(CASE WHEN n > 0 THEN 1 END) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_occurrences,
        |  CAST(min(CASE WHEN n > 0 THEN doc_id END) AS BIGINT) AS min_doc_id,
        |  CAST(max(CASE WHEN n > 0 THEN doc_id END) AS BIGINT) AS max_doc_id
        |FROM hits GROUP BY phrase ORDER BY phrase""".stripMargin,
    "q55_quality_retention" ->
      """WITH RECURSIVE docs AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |    CAST(n_chars AS BIGINT) AS n_chars,
        |    (CAST(n_chars AS BIGINT) * 7 + CAST(doc_id AS BIGINT) * 13) % 1000 AS quality
        |  FROM documents),
        |nodes AS (SELECT doc_id AS id, lang, n_chars, quality FROM docs
        |  WHERE doc_id % 10 <= 5),
        |e0 AS (
        |  SELECT a.id AS src, b.id AS dst FROM nodes a JOIN nodes b ON b.id = a.id + 1
        |  WHERE a.id % 10 < 4),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |reach(id, label) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |lab AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
        |members AS (
        |  SELECT n.lang, n.n_chars, n.quality, n.id AS doc_id, l.cluster
        |  FROM nodes n JOIN lab l USING (id)),
        |qm AS (SELECT cluster, max(quality) AS q_best FROM members GROUP BY cluster),
        |keeper AS (
        |  SELECT m.cluster, min(m.doc_id) AS keep_doc
        |  FROM members m JOIN qm USING (cluster)
        |  WHERE m.quality = qm.q_best GROUP BY m.cluster)
        |SELECT m.lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN m.doc_id = k.keep_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN m.doc_id = k.keep_doc THEN m.n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
        |  CAST(sum(CASE WHEN m.doc_id <> k.keep_doc THEN m.n_chars ELSE 0 END) AS BIGINT) AS chars_dropped,
        |  CAST(max(CASE WHEN m.doc_id = k.keep_doc THEN m.quality END) AS BIGINT) AS max_quality_kept
        |FROM members m JOIN keeper k USING (cluster)
        |GROUP BY m.lang ORDER BY m.lang""".stripMargin,
    // q56: the closed form asserts the PARSED delay — the graftbot
    // group's 5+(h%7) seconds, not the wildcard group's 1s — so group
    // selection is value-verified, then reuses q39's gap arithmetic.
    "q56_crawl_delay_audit" ->
      """WITH e AS (
        |  SELECT CAST(user_id AS BIGINT) AS host_id, ts,
        |    CAST(event_id AS BIGINT) AS event_id
        |  FROM events),
        |decl AS (
        |  SELECT DISTINCT host_id, (5 + host_id % 7) * 1000 AS declared_ms FROM e),
        |g AS (
        |  SELECT host_id,
        |    epoch_ms(ts) - epoch_ms(lag(ts) OVER (
        |      PARTITION BY host_id ORDER BY ts, event_id)) AS gap_ms
        |  FROM e)
        |SELECT host_id,
        |  CAST(max(declared_ms) AS BIGINT) AS declared_ms,
        |  count(*) AS n_gaps,
        |  CAST(sum(CASE WHEN gap_ms < declared_ms THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations,
        |  CAST(min(gap_ms) AS BIGINT) AS min_gap_ms
        |FROM g JOIN decl USING (host_id)
        |WHERE gap_ms IS NOT NULL
        |GROUP BY host_id ORDER BY host_id""".stripMargin,
    // q57: each battery case's table set stated in closed form (the
    // layout case's veto = zero tables, empty markdown).
    "q57_pdf_table" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |e AS (
        |  SELECT 'grid' AS kind, CAST(1 AS BIGINT) AS n_tables,
        |    CAST(3 AS BIGINT) AS n_rows, CAST(6 AS BIGINT) AS n_cells,
        |    '| Name | V ' || id || ' |' || chr(10) || '| --- | --- |'
        |      || chr(10) || '| alpha | 1 |' || chr(10) || '| beta | 2 |' AS md
        |  FROM d
        |  UNION ALL
        |  SELECT 'ragged', 1, 2, 6,
        |    '| A | B ' || id || ' | C |' || chr(10) || '| --- | --- | --- |'
        |      || chr(10) || '| d |  | f |'
        |  FROM d
        |  UNION ALL
        |  SELECT 'join', 1, 2, 4,
        |    '| a b | v ' || id || ' |' || chr(10) || '| --- | --- |'
        |      || chr(10) || '| c | d |'
        |  FROM d
        |  UNION ALL
        |  SELECT 'twotab', 2, 4, 8,
        |    '| h1 | h2 ' || id || ' |' || chr(10) || '| --- | --- |'
        |      || chr(10) || '| a | b |'
        |  FROM d
        |  UNION ALL
        |  SELECT 'layout', 0, 0, 0, '' FROM d)
        |SELECT kind, count(*) AS n_docs,
        |  CAST(sum(n_tables) AS BIGINT) AS sum_tables,
        |  CAST(sum(n_rows) AS BIGINT) AS sum_rows,
        |  CAST(sum(n_cells) AS BIGINT) AS sum_cells,
        |  CAST(count(DISTINCT md) AS BIGINT) AS n_md_distinct,
        |  min(md) AS min_md
        |FROM e GROUP BY kind ORDER BY kind""".stripMargin,
    // q58: every extracted metadata string stated in closed form per
    // battery case (first-wins, head scoping, truncation all visible in
    // which fields are empty).
    "q58_page_meta" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |e AS (
        |  SELECT 'full' AS kind, 'Doc & ' || id AS title,
        |    'desc ' || id AS description, 'OG ' || id AS og_title,
        |    'https://c.example.com/' || id AS canonical, 'en' AS lang
        |  FROM d
        |  UNION ALL SELECT 'firstwins', 'W ' || id, '', 'one ' || id, '', '' FROM d
        |  UNION ALL SELECT 'bodyspam', 'T ' || id, '', '', '', '' FROM d
        |  UNION ALL SELECT 'truncated', 'K ' || id, '', '', '', '' FROM d
        |  UNION ALL SELECT 'tokenrel', '', 'D ' || id, '',
        |    'https://r.example.com/' || id, '' FROM d)
        |SELECT kind, count(*) AS n_docs,
        |  CAST(count(DISTINCT title) AS BIGINT) AS n_titles,
        |  min(title) AS min_title, min(description) AS min_desc,
        |  min(og_title) AS min_og, min(canonical) AS min_canonical,
        |  max(lang) AS max_lang
        |FROM e GROUP BY kind ORDER BY kind""".stripMargin,
    // q59: the latest revision is the one with max fetch_ms (rev
    // doc_id%3), so the compacted state is stated per url in closed
    // form, then aggregated identically.
    "q59_snapshot_compact" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id, lang,
        |    length(text) AS len0 FROM documents),
        |u AS (SELECT lang, id % 3 + 1 AS n_revs,
        |    len0 + (id % 3) * 7 AS latest_len,
        |    id * 1000 + id % 3 AS fetch_ms FROM d)
        |SELECT lang, count(*) AS n_urls,
        |  CAST(sum(n_revs) AS BIGINT) AS n_rows_in,
        |  CAST(sum(CASE WHEN n_revs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_compacted,
        |  CAST(sum(latest_len) AS BIGINT) AS sum_latest_len,
        |  CAST(max(fetch_ms) AS BIGINT) AS max_fetch_ms
        |FROM u GROUP BY lang ORDER BY lang""".stripMargin,
    // q60: DuckDB steps the same fetch recurrence via generate_series
    // and the same integer-rational estimator (// = integer division).
    "q60_recrawl_priority" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id, lang FROM documents),
        |f AS (SELECT id, lang,
        |        unnest(generate_series(0, id % 5 + 1)) AS r FROM d),
        |u AS (SELECT id, lang, count(*) AS n_fetches,
        |        CAST(sum(CASE WHEN r > 0 AND (id + r) % 3 = 0
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
        |      FROM f GROUP BY id, lang),
        |p AS (SELECT lang, n_changes,
        |        1000 * (n_changes + 1) // (n_fetches + 1) AS rate_mills
        |      FROM u),
        |b AS (SELECT lang, n_changes, rate_mills,
        |        CASE WHEN rate_mills >= 500 THEN 'high'
        |             WHEN rate_mills >= 200 THEN 'mid'
        |             ELSE 'low' END AS bucket
        |      FROM p)
        |SELECT lang, bucket, count(*) AS n_urls,
        |  CAST(sum(n_changes) AS BIGINT) AS sum_changes,
        |  CAST(sum(rate_mills) AS BIGINT) AS sum_rate_mills
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    // q61: the surviving sitemap-url list per doc in closed form — the
    // second declaration dedups away exactly when id%3==1.
    "q61_robots_sitemaps" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |e AS (SELECT id,
        |  CASE WHEN id % 3 = 1 THEN CAST(1 AS BIGINT)
        |       ELSE CAST(2 AS BIGINT) END AS n_sitemaps,
        |  'https://h' || id || '.example.com/s1.xml' ||
        |    CASE WHEN id % 3 = 1 THEN ''
        |         ELSE '|https://h' || id || '.example.com/s'
        |           || (id % 3) || '.xml' END AS urls
        |  FROM d)
        |SELECT n_sitemaps, count(*) AS n_docs,
        |  CAST(count(DISTINCT urls) AS BIGINT) AS n_distinct,
        |  min(urls) AS min_urls
        |FROM e GROUP BY n_sitemaps ORDER BY n_sitemaps""".stripMargin,
    // q62: identical largest-remainder recurrence — integer DIV/mod and
    // the same (remainder DESC, source ASC) rank.
    "q62_crawl_budget" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM c),
        |b AS (SELECT source, n_docs,
        |        (997 * n_docs) // n_total AS base_quota,
        |        (997 * n_docs) % n_total AS remainder
        |      FROM c, t),
        |r AS (SELECT *, row_number() OVER
        |        (ORDER BY remainder DESC, source ASC) AS r_rank FROM b),
        |x AS (SELECT CAST(997 - sum(base_quota) AS BIGINT) AS n_extra FROM b)
        |SELECT source, n_docs, CAST(base_quota AS BIGINT) AS base_quota,
        |  CAST(CASE WHEN r_rank <= n_extra THEN 1 ELSE 0 END AS BIGINT)
        |    AS extra,
        |  CAST(base_quota + CASE WHEN r_rank <= n_extra THEN 1 ELSE 0 END
        |    AS BIGINT) AS quota
        |FROM r, x ORDER BY source""".stripMargin,
    // q63: the merge table (e,s),(es,t),(l,o),(lo,w) is a deterministic
    // fact of the pinned training vocab, so each word's segmentation is
    // closed-form.
    "q63_bpe_encode" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |e AS (SELECT
        |  CASE id % 4 WHEN 0 THEN 'lowest' WHEN 1 THEN 'newest'
        |    WHEN 2 THEN 'low' ELSE 'wider' END AS word,
        |  CASE id % 4 WHEN 0 THEN 2 WHEN 1 THEN 4
        |    WHEN 2 THEN 1 ELSE 5 END AS n_tokens,
        |  CASE id % 4 WHEN 0 THEN 'low|est' WHEN 1 THEN 'n|e|w|est'
        |    WHEN 2 THEN 'low' ELSE 'w|i|d|e|r' END AS seg
        | FROM d)
        |SELECT word, count(*) AS n_docs,
        |  CAST(max(n_tokens) AS BIGINT) AS n_tokens, min(seg) AS seg
        |FROM e GROUP BY word ORDER BY word""".stripMargin,
    // q64: the oracle BRUTE-FORCES every O(n^2) pair — feasible only
    // because the oracle runs at test SF — so equality proves the
    // Spark side's block-combination candidate generation is COMPLETE
    // (a missed candidate would drop a pair and change n_pairs /
    // checksum). Signatures are the same closed-form arithmetic.
    "q64_simhash_hamming" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(doc_id AS BIGINT) // 4 AS fam,
        |    CAST(doc_id AS BIGINT) % 4 AS mem
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    xor(xor(xor((fam * 1103515245 + 12345) % 1099511627776,
        |      CASE WHEN mem >= 1 THEN (CAST(1 AS BIGINT) << CAST(fam % 13 AS INT)) ELSE 0 END),
        |      CASE WHEN mem >= 2 THEN (CAST(1 AS BIGINT) << CAST(13 + fam % 13 AS INT)) ELSE 0 END),
        |      CASE WHEN mem >= 3 THEN (CAST(1 AS BIGINT) << CAST(26 + fam % 13 AS INT)) ELSE 0 END) AS sig
        |  FROM d),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS dist
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sig, b.sig)) <= 3)
        |SELECT dist, count(*) AS n_pairs,
        |  CAST(min(a_id) AS BIGINT) AS min_a,
        |  CAST(max(b_id) AS BIGINT) AS max_b,
        |  CAST(sum(a_id + b_id) AS BIGINT) AS pair_checksum
        |FROM p GROUP BY dist ORDER BY dist""".stripMargin,
    // q65: bin index = length of the unpadded binary rendering —
    // DuckDB's bin() is unpadded like Spark's, so the bin assignment
    // is the same integer in both engines; quantile selection is the
    // same integer ceil-rank compare.
    "q65_histogram_quantiles" ->
      """WITH d AS (
        |  SELECT source AS host, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(length(bin(CAST(n_chars AS BIGINT))) AS BIGINT) AS bin
        |  FROM documents),
        |h AS (
        |  SELECT host, bin, count(*) AS cnt FROM d GROUP BY host, bin),
        |c AS (
        |  SELECT host, bin, cnt,
        |    SUM(cnt) OVER (PARTITION BY host ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY host) AS n
        |  FROM h)
        |SELECT host, CAST(max(n) AS BIGINT) AS n_docs,
        |  count(*) AS n_bins,
        |  CAST(min(CASE WHEN cum * 2 >= n THEN bin END) AS BIGINT) AS p50_bin,
        |  CAST(min(CASE WHEN cum * 10 >= n * 9 THEN bin END) AS BIGINT) AS p90_bin,
        |  CAST(max(bin) AS BIGINT) AS max_bin
        |FROM c GROUP BY host ORDER BY host""".stripMargin,
    // q66: both engines hash the same UTF-8 word bytes to the same
    // lowercase hex, and '04' is the same 1/64 threshold under the
    // same byte-wise string order.
    "q66_distinct_sketch" ->
      """WITH w AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (
        |  SELECT lang, w, md5(w) AS h FROM w WHERE w <> '')
        |SELECT lang, count(*) AS n_words,
        |  CAST(count(DISTINCT w) AS BIGINT) AS n_exact,
        |  CAST(count(DISTINCT CASE WHEN h < '04' THEN w END) AS BIGINT) AS n_sampled,
        |  CAST(count(DISTINCT CASE WHEN h < '04' THEN w END) * 64 AS BIGINT) AS est,
        |  CAST(abs(count(DISTINCT CASE WHEN h < '04' THEN w END) * 64
        |      - count(DISTINCT w)) * 1000
        |    // greatest(count(DISTINCT w), 1) AS BIGINT) AS err_mills
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    // q67: the oracle recomputes the whole Count-Min sketch in SQL —
    // identical universal hashes ((a*item+b) % 8191 % 32), identical
    // counters, identical min-estimate — plus exact counts, so `over`
    // pins never-undercount per item.
    "q67_countmin_sketch" ->
      """WITH i AS (
        |  SELECT CASE WHEN doc_id % 2 = 0
        |    THEN (CAST(doc_id AS BIGINT) // 2) % 4
        |    ELSE CAST(doc_id AS BIGINT) % 97 END AS item
        |  FROM documents),
        |rr AS (SELECT * FROM (VALUES (0), (1), (2)) t(r)),
        |hb AS (
        |  SELECT r, item,
        |    CASE r WHEN 0 THEN ((31 * item + 11) % 8191) % 32
        |           WHEN 1 THEN ((57 * item + 3) % 8191) % 32
        |           ELSE ((97 * item + 73) % 8191) % 32 END AS bucket
        |  FROM i CROSS JOIN rr),
        |counters AS (SELECT r, bucket, count(*) AS cnt FROM hb GROUP BY r, bucket),
        |q AS (SELECT DISTINCT item FROM i),
        |qb AS (
        |  SELECT r, item,
        |    CASE r WHEN 0 THEN ((31 * item + 11) % 8191) % 32
        |           WHEN 1 THEN ((57 * item + 3) % 8191) % 32
        |           ELSE ((97 * item + 73) % 8191) % 32 END AS bucket
        |  FROM q CROSS JOIN rr),
        |est AS (
        |  SELECT item, min(cnt) AS est
        |  FROM qb JOIN counters USING (r, bucket) GROUP BY item),
        |ex AS (SELECT item, count(*) AS exact FROM i GROUP BY item)
        |SELECT e.item, CAST(e.est AS BIGINT) AS est,
        |  CAST(x.exact AS BIGINT) AS exact,
        |  CAST(e.est - x.exact AS BIGINT) AS over
        |FROM est e JOIN ex x USING (item) ORDER BY e.item""".stripMargin,
    // q68: DuckDB's native ASOF LEFT JOIN is an independent
    // implementation of the most-recent-revision-<=-ts semantics —
    // agreement checks our window formulation against a second engine's
    // operator, not against our own algebra restated.
    "q68_asof_join" ->
      """WITH ev AS (
        |  SELECT CAST(event_id AS BIGINT) AS event_id,
        |    CAST(user_id AS BIGINT) AS user_id, ts, event_type
        |  FROM events),
        |r AS (
        |  SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS rev
        |  FROM ev WHERE event_id % 5 = 0 GROUP BY user_id, ts)
        |SELECT e.event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN r.rev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(coalesce(r.rev, 0)) AS BIGINT) AS rev_checksum,
        |  CAST(coalesce(max(epoch_ms(e.ts) - epoch_ms(r.ts)), -1) AS BIGINT) AS max_gap_ms
        |FROM ev e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.ts
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    // q69: the oracle evaluates the containment predicate DIRECTLY
    // (the naive theta join) — equality proves the bucket-expansion
    // equi-join neither drops nor duplicates matches.
    "q69_range_join" ->
      """WITH ranges AS (
        |  SELECT CAST(r AS BIGINT) AS r, CAST(r * r * 25 AS BIGINT) AS lo,
        |    CAST((r + 1) * (r + 1) * 25 AS BIGINT) AS hi
        |  FROM generate_series(0, 39) t(r)),
        |d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT g.r, count(*) AS n_docs,
        |  CAST(min(d.n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(d.n_chars) AS BIGINT) AS max_chars,
        |  CAST(sum(d.doc_id) AS BIGINT) AS doc_checksum
        |FROM d JOIN ranges g ON d.n_chars >= g.lo AND d.n_chars < g.hi
        |GROUP BY g.r ORDER BY g.r""".stripMargin,
    // q70: same histogram, same integer boundary rule (min bin where
    // cum*8 >= s*n), same strictly-below shard count.
    "q70_range_shards" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(length(bin(CAST(n_chars AS BIGINT))) AS BIGINT) AS bin
        |  FROM documents),
        |h AS (SELECT bin, count(*) AS cnt FROM d GROUP BY bin),
        |c AS (
        |  SELECT bin, cnt,
        |    SUM(cnt) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER () AS n
        |  FROM h),
        |bounds AS (
        |  SELECT s, min(bin) AS b
        |  FROM c CROSS JOIN generate_series(1, 7) t(s)
        |  WHERE cum * 8 >= s * n GROUP BY s),
        |sh AS (
        |  SELECT d.doc_id, d.bin,
        |    CAST(sum(CASE WHEN bounds.b < d.bin THEN 1 ELSE 0 END) AS BIGINT) AS shard
        |  FROM d CROSS JOIN bounds GROUP BY d.doc_id, d.bin)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(min(bin) AS BIGINT) AS min_bin,
        |  CAST(max(bin) AS BIGINT) AS max_bin,
        |  CAST(sum(doc_id) AS BIGINT) AS doc_checksum
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,
    // q71: same hash, same single-division priority, same (desc, id)
    // order as the bounded TopK aggregator — the oracle uses the
    // row_number window the aggregator provably replaces.
    "q71_weighted_sample" ->
      """WITH d AS (
        |  SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
        |    greatest(CAST(n_chars AS BIGINT), 1) AS w,
        |    CAST(ascii(substr(lang, 1, 1)) * 256
        |      + ascii(substr(lang, 2, 1)) AS BIGINT) AS code,
        |    (CAST(doc_id AS BIGINT) * 2654435761) % 1099511627776 AS h
        |  FROM documents),
        |p AS (
        |  SELECT code, doc_id,
        |    -(CAST(h AS DOUBLE) / CAST(w AS DOUBLE)) AS score,
        |    row_number() OVER (PARTITION BY code
        |      ORDER BY -(CAST(h AS DOUBLE) / CAST(w AS DOUBLE)) DESC,
        |        doc_id ASC) AS rank
        |  FROM d)
        |SELECT code AS lang_code, CAST(rank AS BIGINT) AS rank, doc_id, score
        |FROM p WHERE rank <= 10 ORDER BY lang_code, rank""".stripMargin,
    // q72: same md5-hex bucket (DuckDB parses '0x'-prefixed strings as
    // BIGINT), same integer weight map, same sum — list_transform +
    // list_sum mirror the Spark higher-order aggregate.
    "q72_hashed_classifier" ->
      """WITH d AS (
        |  SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
        |    coalesce(list_sum(list_transform(
        |      list_filter(string_split(text, ' '), w -> w <> ''),
        |      w -> (((CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 1024)
        |             * 2654435761) % 17) - 8)), 0) AS score
        |  FROM documents)
        |SELECT lang, score >= 0 AS kept, count(*) AS n_docs,
        |  CAST(sum(score) AS BIGINT) AS sum_score,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(max(score) AS BIGINT) AS max_score
        |FROM d GROUP BY lang, kept ORDER BY lang, kept""".stripMargin,
    // q73: the oracle does NOT reimplement excision — it states each
    // doc's expected cleaned text in closed form from the planted
    // layout (marker tokens vanish, the partial marker survives) and
    // checksums it, so any kernel deviation shifts clean_sig.
    "q73_decontam_excise" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |    array_to_string(list_filter(string_split(coalesce(text, ''), ' '),
        |      w -> w <> ''), ' ') AS btext
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, lang,
        |    array_to_string(list_filter(string_split(
        |      (CASE CAST(doc_id % 3 AS INT)
        |         WHEN 0 THEN btext || ' ' || btext
        |         ELSE btext END)
        |      || (CASE WHEN doc_id % 5 = 0 THEN ' zzeval zzbench' ELSE '' END),
        |      ' '), w -> w <> ''), ' ')
        |      AS clean,
        |    CAST((CASE WHEN doc_id % 3 IN (0, 1) THEN 4 ELSE 0 END)
        |      + (CASE WHEN doc_id % 7 = 0 THEN 8 ELSE 0 END) AS BIGINT)
        |      AS n_removed
        |  FROM d)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_removed) AS BIGINT) AS sum_removed,
        |  CAST(sum(CAST('0x' || substr(md5(clean), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS clean_sig,
        |  CAST(sum(length(clean)) AS BIGINT) AS sum_chars
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,
    // q74: the oracle runs the cascade as THREE grouped join passes —
    // an independent formulation of the same first-match semantics.
    "q74_event_funnel" ->
      """WITH e AS (
        |  SELECT CAST(user_id AS BIGINT) AS u, epoch_ms(ts) AS tsm,
        |    event_type AS ty
        |  FROM events),
        |s1 AS (SELECT u, min(tsm) AS t1 FROM e WHERE ty = 'view' GROUP BY u),
        |s2 AS (
        |  SELECT e.u, min(e.tsm) AS t2
        |  FROM e JOIN s1 ON e.u = s1.u
        |  WHERE e.ty = 'click' AND e.tsm >= s1.t1
        |    AND e.tsm <= s1.t1 + 21600000 GROUP BY e.u),
        |s3 AS (
        |  SELECT e.u, min(e.tsm) AS t3
        |  FROM e JOIN s2 ON e.u = s2.u
        |  WHERE e.ty = 'purchase' AND e.tsm >= s2.t2
        |    AND e.tsm <= s2.t2 + 21600000 GROUP BY e.u),
        |au AS (SELECT DISTINCT u FROM e)
        |SELECT au.u % 5 AS cohort, count(*) AS n_users,
        |  CAST(count(s1.t1) AS BIGINT) AS n_viewed,
        |  CAST(count(s2.t2) AS BIGINT) AS n_clicked,
        |  CAST(count(s3.t3) AS BIGINT) AS n_purchased,
        |  CAST(coalesce(sum(s3.t3 - s1.t1), 0) AS BIGINT) AS sum_funnel_ms,
        |  CAST(coalesce(max(s3.t3 - s1.t1), -1) AS BIGINT) AS max_funnel_ms
        |FROM au
        |LEFT JOIN s1 ON au.u = s1.u
        |LEFT JOIN s2 ON au.u = s2.u
        |LEFT JOIN s3 ON au.u = s3.u
        |GROUP BY cohort ORDER BY cohort""".stripMargin,
    // q75: the oracle is the SINGLE-phase truth (plain COUNT DISTINCT,
    // no salt) — equality proves the two-phase salted rewrite lossless.
    // The salt uses Spark's xxhash64, which DuckDB cannot compute, and
    // does not need to: every salt-invariant output column is checked.
    "q75_salted_distinct" ->
      """WITH w AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT lang, w FROM w WHERE w <> '')
        |SELECT lang, count(*) AS n_words,
        |  CAST(count(DISTINCT w) AS BIGINT) AS n_distinct
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    // q76: the oracle unrolls HostRank.pageRank's 5-hop fixed-point
    // iteration as chained CTEs mirroring the engine's arithmetic
    // EXACTLY: every shuffled sum is over 1e-9-quantized longs (integer
    // addition is order-free, which is what makes bit-equality possible
    // at all); the remaining per-row double ops (frac division, rank
    // recurrence) are IEEE-identical given identical operand order and
    // DOUBLE-cast literals (DuckDB parses bare 0.85 as DECIMAL, and
    // 1.0-0.85 differs between decimal and binary arithmetic). DuckDB's
    // round (half away from zero) agrees with Spark's HALF_UP for the
    // non-negative values here.
    "q76_pagerank" -> {
      val rank = (k: Int) =>
        s"""dg$k AS (
           |  SELECT CAST(coalesce(sum(CAST(round(r.rank * 1e9) AS BIGINT)), 0) AS BIGINT) AS dangling_q
           |  FROM r${k - 1} r LEFT JOIN srcs s ON r.host = s.src
           |  WHERE s.src IS NULL),
           |i$k AS (
           |  SELECT w.dst AS host,
           |    CAST(sum(CAST(round(r.rank * w.frac * 1e9) AS BIGINT)) AS BIGINT) AS inflow_q
           |  FROM r${k - 1} r JOIN weighted w ON r.host = w.src GROUP BY w.dst),
           |r$k AS (
           |  SELECT n.host,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / st.n
           |      + CAST(0.85 AS DOUBLE) * (coalesce(i.inflow_q, 0) / 1e9 + d.dangling_q / 1e9 / st.n) AS rank
           |  FROM nodes n CROSS JOIN st CROSS JOIN dg$k d
           |  LEFT JOIN i$k i ON n.host = i.host)""".stripMargin
      s"""WITH docs AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM documents),
         |edges AS (
         |  SELECT source AS src,
         |    'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst,
         |    CAST((doc_id % 7 + 1) AS DOUBLE) / CAST(3.0 AS DOUBLE) AS weight
         |  FROM docs
         |  UNION ALL
         |  SELECT source AS src, 'ext' || CAST(doc_id % 3 AS VARCHAR) AS dst,
         |    CAST(0.5 AS DOUBLE) AS weight
         |  FROM docs WHERE doc_id % 11 = 0),
         |e AS (
         |  SELECT src, dst,
         |    CAST(sum(CAST(round(weight * 1e9) AS BIGINT)) AS BIGINT) AS w_q
         |  FROM edges GROUP BY src, dst
         |  HAVING CAST(sum(CAST(round(weight * 1e9) AS BIGINT)) AS BIGINT) > 0),
         |outw AS (SELECT src, CAST(sum(w_q) AS BIGINT) AS out_w_q FROM e GROUP BY src),
         |weighted AS (
         |  SELECT e.src, e.dst, e.w_q / o.out_w_q AS frac
         |  FROM e JOIN outw o ON e.src = o.src),
         |srcs AS (SELECT DISTINCT src FROM weighted),
         |nodes AS (SELECT src AS host FROM e UNION SELECT dst AS host FROM e),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |r0 AS (SELECT n.host, CAST(1.0 AS DOUBLE) / st.n AS rank
         |  FROM nodes n CROSS JOIN st),
         |${(1 to 5).map(rank).mkString(",\n")}
         |SELECT r5.host, CAST(round(r5.rank * 1e12) AS BIGINT) AS rank_x1e12
         |FROM r5 ORDER BY host""".stripMargin
    },
    "q77_scd2_history" ->
      """WITH docs AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source, text FROM documents),
        |snaps AS (SELECT CAST(unnest(generate_series(0, 3)) AS BIGINT) AS snap),
        |sn AS (
        |  SELECT d.doc_id, d.lang, d.source, d.text, s.snap,
        |    CASE WHEN (3 - d.doc_id % 3) % 3 = 0 THEN 3
        |         ELSE (3 - d.doc_id % 3) % 3 END AS m
        |  FROM docs d CROSS JOIN snaps s
        |  WHERE NOT (d.doc_id % 13 = 0 AND s.snap >= 2)),
        |hashed AS (
        |  SELECT 'https://' || source || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
        |    lang, snap,
        |    md5(coalesce(text, '') || '#v' ||
        |      CAST(CASE WHEN snap >= m THEN (snap - m) // 3 + 1 ELSE 0 END AS VARCHAR)) AS h
        |  FROM sn),
        |marked AS (
        |  SELECT url, lang, snap, h,
        |    lag(h) OVER (PARTITION BY url ORDER BY snap) AS prev_h,
        |    max(snap) OVER (PARTITION BY url) AS last_seen
        |  FROM hashed),
        |starts AS (
        |  SELECT url, lang, h, snap AS valid_from, last_seen
        |  FROM marked WHERE prev_h IS NULL OR prev_h <> h),
        |iv AS (
        |  SELECT url, lang, valid_from,
        |    coalesce(lead(valid_from) OVER (PARTITION BY url ORDER BY valid_from),
        |      CASE WHEN last_seen < 3 THEN last_seen + 1 END) AS valid_to
        |  FROM starts),
        |pu AS (
        |  SELECT lang, url, count(*) AS n_int,
        |    sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS n_open,
        |    sum(CASE WHEN valid_to IS NOT NULL THEN valid_to - valid_from ELSE 0 END) AS closed_len
        |  FROM iv GROUP BY lang, url)
        |SELECT lang, count(*) AS n_urls,
        |  CAST(sum(n_int) AS BIGINT) AS n_intervals,
        |  CAST(sum(n_open) AS BIGINT) AS n_open,
        |  CAST(sum(closed_len) AS BIGINT) AS sum_closed_len,
        |  CAST(max(n_int) AS BIGINT) AS max_versions
        |FROM pu GROUP BY lang ORDER BY lang""".stripMargin,
    "q78_containment" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text
        |  FROM documents WHERE doc_id % 17 = 0),
        |q AS (
        |  SELECT doc_id,
        |    coalesce(array_to_string(list_slice(string_split(text, ' '), 1,
        |      CAST(10 + doc_id % 20 AS INT)), ' '), '')
        |      || ' zz' || CAST(doc_id % 5 AS VARCHAR)
        |      || ' extra quoting comment trailer' AS qtext
        |  FROM d),
        |ga AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |    ELSE list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
        |    END AS g
        |  FROM d),
        |gb AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(qtext, ' ')) < 3 THEN []
        |    ELSE list_distinct(list_transform(
        |      generate_series(1, len(string_split(qtext, ' ')) - 2),
        |      i -> string_split(qtext, ' ')[i] || ' ' || string_split(qtext, ' ')[i+1] || ' ' || string_split(qtext, ' ')[i+2]))
        |    END AS g
        |  FROM q),
        |p AS (
        |  SELECT ga.lang,
        |    CAST(floor(1000.0 * len(list_intersect(gb.g, ga.g)) /
        |      greatest(len(gb.g), 1)) AS BIGINT) AS cont_x1000,
        |    CAST(floor(1000.0 * len(list_intersect(ga.g, gb.g)) /
        |      greatest(len(list_distinct(ga.g || gb.g)), 1)) AS BIGINT) AS jacc_x1000
        |  FROM ga JOIN gb USING (doc_id))
        |SELECT lang, count(*) AS n_pairs,
        |  CAST(sum(cont_x1000) AS BIGINT) AS sum_cont_x1000,
        |  CAST(sum(jacc_x1000) AS BIGINT) AS sum_jacc_x1000,
        |  CAST(sum(CASE WHEN cont_x1000 >= 700 AND jacc_x1000 < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_subdoc_only
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,
    "q79_quality_calibration" ->
      """WITH b AS (
        |  SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
        |    greatest(CAST(n_chars AS BIGINT), 1) AS score,
        |    CAST(length(bin(greatest(CAST(n_chars AS BIGINT), 1))) AS BIGINT) AS bin
        |  FROM documents),
        |h AS (SELECT source, bin, count(*) AS cnt FROM b GROUP BY source, bin),
        |c AS (
        |  SELECT source, bin, cnt,
        |    SUM(cnt) OVER (PARTITION BY source ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY source) AS n
        |  FROM h),
        |t AS (
        |  SELECT source, CAST(min(CASE WHEN cum * 2 >= n THEN bin END) AS BIGINT) AS p50_bin
        |  FROM c GROUP BY source)
        |SELECT b.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN b.bin >= t.p50_bin THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(min(CASE WHEN b.bin >= t.p50_bin THEN b.score END) AS BIGINT) AS min_kept_score,
        |  CAST(sum(CASE WHEN b.bin >= t.p50_bin THEN b.doc_id END) AS BIGINT) AS kept_checksum,
        |  CAST(max(t.p50_bin) AS BIGINT) AS p50_bin
        |FROM b JOIN t USING (source)
        |GROUP BY b.source ORDER BY b.source""".stripMargin,
    // q80: the oracle replays the excision with the window STRING as
    // the shared-window key (DuckDB cannot compute xxhash64 over a
    // token slice, and does not need to: the hash is engine-local, and
    // a Spark-side collision would merge two distinct windows and shift
    // the md5-based clean_sig — the compare catches it instead of
    // hiding it).
    "q80_substring_excise" ->
      """WITH d0 AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |    list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '') AS toks
        |  FROM documents),
        |mx AS (SELECT max(doc_id) + 1 AS off FROM d0),
        |d AS (
        |  SELECT doc_id, lang, toks, CAST(len(toks) AS BIGINT) AS n FROM d0
        |  UNION ALL
        |  SELECT d0.doc_id + mx.off, 'planted', d0.toks[1:20],
        |    CAST(len(d0.toks[1:20]) AS BIGINT)
        |  FROM d0, mx WHERE d0.doc_id % 97 = 0),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS w
        |  FROM d, unnest(generate_series(1, n - 7)) AS t(i)
        |  WHERE n >= 8),
        |shared AS (
        |  SELECT w FROM (SELECT DISTINCT doc_id, w FROM wins)
        |  GROUP BY w HAVING count(*) > 1),
        |dup AS (
        |  SELECT wins.doc_id, list(wins.pos ORDER BY wins.pos) AS p
        |  FROM wins JOIN shared USING (w) GROUP BY wins.doc_id),
        |c AS (
        |  SELECT d.lang, d.n,
        |    list_transform(
        |      list_filter(list_zip(d.toks, generate_series(0, n - 1)),
        |        z -> len(list_filter(coalesce(dup.p, []),
        |          q -> q <= z[2] AND z[2] <= q + 7)) = 0),
        |      z -> z[1]) AS kept
        |  FROM d LEFT JOIN dup ON d.doc_id = dup.doc_id),
        |e AS (
        |  SELECT lang, n, CAST(len(kept) AS BIGINT) AS n_after,
        |    coalesce(array_to_string(kept, ' '), '') AS clean
        |  FROM c)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS sum_tokens_before,
        |  CAST(sum(n_after) AS BIGINT) AS sum_tokens_after,
        |  CAST(sum(CASE WHEN n_after < n THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_changed,
        |  CAST(sum(CAST('0x' || substr(md5(clean), 1, 8) AS BIGINT)) AS BIGINT) AS clean_sig
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
