package graft.queries

import graft.SparkEntry.SynthRoot
import graft.queries.Query.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN and index queries: cosine top-k, LSH/IVF/PQ approximate
  * neighbours, BM25 and phrase retrieval, and the persisted IVF,
  * postings and dedup-band indexes. */
object Indexes {
  /** q13's plan and oracle. q21 is the same query under its own name:
    * the declared query set is driver-facing, so the name stays. */
  private val cosineTopK: (SparkSession, String) => DataFrame = (s, dir) => {
    // r6: scored by the native codegen CosineSim expression (one
    // fused loop, no per-row intermediate arrays) instead of the
    // interpreted aggregate(zip_with(...)) composition. Bit-identical
    // to the old form: CosineSim accumulates dot/na/nb over the
    // float-widened doubles in the same ascending index order and
    // divides by sqrt(na)*sqrt(nb) through the same expression shape
    // — value+hash green against its oracle since r2.
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
  }
  private val cosineTopKOracle =
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
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The three two-term queries of q44, x31 and x32: (query_id, term,
    * tidx = the term's position in its query). */
  private def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "spark", 1), (1L, "window", 2), (2L, "merge", 1), (2L, "key", 2),
      (3L, "vector", 1), (3L, "batch", 2)).toDF("query_id", "term", "tidx")
  }

  val all: Seq[Query] = Seq(
    Query("q13_cosine_topk", cosineTopK, oracle = Some(cosineTopKOracle)),
    Query("q21_cosine_native", cosineTopK, oracle = Some(cosineTopKOracle)),
    Query("q22_embed_neardup", (s, dir) => {
      // embedding-cosine near-duplicate pairs (dedup family, SURVEY
      // training-data ops). Brute-force pairwise here is the ORACLE
      // semantics; the 10^9-vector scale path is the LSH-bucketed
      // variant (x10): hyperplane-bucket join, then this same
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
    }, oracle = Some(
      """WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |e AS (SELECT * FROM base
        |      UNION ALL
        |      SELECT vec_id + 100000 AS vec_id, v FROM base WHERE vec_id < 50)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.92
        |ORDER BY vec_a, vec_b""".stripMargin)),
    Query("q44_bm25_topk", (s, dir) => {
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
      val queryTerms = bm25Queries(s)
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
    }, oracle = Some(
      // q44: every float literal is CAST(... AS DOUBLE) so DuckDB never
      // routes through DECIMAL arithmetic — the Spark side's lit(2.2) is a
      // double, and bit-exactness needs the identical IEEE tree.
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
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin)),
    Query("q54_phrase_search", (s, dir) => {
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
    }, oracle = Some(
      // q54: the oracle scans each doc's token array directly (the
      // semantic definition of a phrase hit); Spark answers the same
      // question with the distributed positional-index join.
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
        |FROM hits GROUP BY phrase ORDER BY phrase""".stripMargin)),
    Query("x10_ann_lsh", (s, dir) =>
      graft.functions.TextSketch.annTopK(t(s, dir, "embeddings")),
      planNote = "Review point: bucket-key Exchange + ObjectHashAggregate partial/" +
        "final for the bounded top-k; no per-query full sort."),
    Query("x15_ann_ivf", (s, dir) =>
      graft.functions.TextSketch.ivfTopK(t(s, dir, "embeddings")),
      planNote = "Review point: centroids are a broadcast-sized local array (fit = " +
        "2 tiny groupBy iterations, not in this plan); the query phase is " +
        "a map + bounded top-k aggregate, no all-pairs join."),
    Query("x21_ann_ivf_index", (s, dir) => {
      // the persisted form of the IVF scale path: index written once as a
      // cell-partitioned table, queries scan ONLY their probed cell
      // partitions (Catalyst partition pruning)
      val emb = t(s, dir, "embeddings")
      val idx = s"$SynthRoot/ivf_index_${math.abs(dir.hashCode)}"
      if (!graft.functions.IvfIndex.isCurrent(s, idx, emb))
        graft.functions.IvfIndex.build(emb, idx)
      graft.functions.IvfIndex.query(s, idx, emb.filter(col("vec_id") < 5))
    }),
    Query("x26_ann_pq", (s, dir) =>
      // product-quantization ADC top-k: 16-byte codes instead of
      // 256-byte float vectors at scan time (16x compression),
      // broadcast codebooks + per-query lookup tables, map-only scan,
      // bounded TopKAgg shuffle — the memory-bound half of
      // billion-scale ANN
      graft.functions.PqSketch.adcTopK(t(s, dir, "embeddings"))),
    Query("x27_ann_ivfpq", (s, dir) => {
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
    Query("x31_bm25_index", (s, dir) => {
      // the persisted form of q44's text-retrieval scale path: the
      // inverted index written once as a term-bucket-partitioned table;
      // a query scans ONLY the bucket partitions its terms hash into
      // (PartitionFilters pruning — the IvfIndex cells discipline
      // applied to text) and shares q44's exact scoring expression, so
      // PostingsIndexSpec pins index-served == scan-computed scores
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val idx = s"$SynthRoot/postings_index_${math.abs(dir.hashCode)}"
      if (!graft.functions.PostingsIndex.isCurrent(s, idx, docs))
        graft.functions.PostingsIndex.build(docs, idx)
      val queryTerms = bm25Queries(s)
      graft.functions.PostingsIndex.query(s, idx, queryTerms)
    }),
    Query("x32_postings_upsert", (s, dir) => {
      // incremental index maintenance under crawl churn: q42's snapshot
      // delta applied to the x31 postings index as a delta segment +
      // tombstones (the Lucene segment model as plain parquet) — cost
      // scales with the DELTA, never the corpus; queries merge segments
      // and a tombstone kills only earlier segments. The spec pins
      // upserted == full-rebuild bit-for-bit and that the incrementally
      // XOR-maintained manifest matches the full post-delta corpus.
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
      val queryTerms = bm25Queries(s)
      graft.functions.PostingsIndex.query(s, idx, queryTerms)
    }),
    Query("x33_dedup_delta", (s, dir) => {
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
  )
}
