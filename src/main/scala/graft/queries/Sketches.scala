package graft.queries

import graft.queries.Query.t
import org.apache.spark.sql.functions._

/** Sketch and sampling queries: stratified and weighted samples,
  * histogram quantiles, distinct-count and Count-Min sketches. */
object Sketches {
  val all: Seq[Query] = Seq(
    Query("q30_stratified_sample", (s, dir) => {
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
    }, oracle = Some(
      """WITH k AS (
        |  SELECT lang, n_chars,
        |    substring(md5(text), 1, 2) <
        |      CASE lang WHEN 'en' THEN '40' WHEN 'zh' THEN '80' ELSE '20' END AS keep
        |  FROM documents)
        |SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q65_histogram_quantiles", (s, dir) => {
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
    }, oracle = Some(
      // q65: bin index = length of the unpadded binary rendering —
      // DuckDB's bin() is unpadded like Spark's, so the bin assignment
      // is the same integer in both engines; quantile selection is the
      // same integer ceil-rank compare.
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
        |FROM c GROUP BY host ORDER BY host""".stripMargin)),
    Query("q66_distinct_sketch", (s, dir) => {
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
    }, oracle = Some(
      // q66: both engines hash the same UTF-8 word bytes to the same
      // lowercase hex, and '04' is the same 1/64 threshold under the
      // same byte-wise string order.
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
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q67_countmin_sketch", (s, dir) => {
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
    }, oracle = Some(
      // q67: the oracle recomputes the whole Count-Min sketch in SQL —
      // identical universal hashes ((a*item+b) % 8191 % 32), identical
      // counters, identical min-estimate — plus exact counts, so `over`
      // pins never-undercount per item.
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
        |FROM est e JOIN ex x USING (item) ORDER BY e.item""".stripMargin)),
    Query("q71_weighted_sample", (s, dir) => {
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
    }, oracle = Some(
      // q71: same hash, same single-division priority, same (desc, id)
      // order as the bounded TopK aggregator — the oracle uses the
      // row_number window the aggregator provably replaces.
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
        |FROM p WHERE rank <= 10 ORDER BY lang_code, rank""".stripMargin)),
  )
}
