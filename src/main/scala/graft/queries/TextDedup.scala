package graft.queries

import graft.functions.DecontamBloom
import graft.queries.Query.t
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text and dedup queries: tokenization, language id, quality and
  * repetition filters, PII scrubbing, packing, exact and near-duplicate
  * detection, decontamination and BPE. */
object TextDedup {
  val all: Seq[Query] = Seq(
    Query("q09_dedup_exact", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique"))
        .orderBy("lang")
    }, oracle = Some(
      """SELECT lang, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q10_minhash_band", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM bk GROUP BY b ORDER BY b""".stripMargin)),
    Query("q12_ngram_jaccard", (s, dir) => {
      // r6: trigrams via the codegen word_ngrams expression (one fused
      // loop) instead of the interpreted transform/element_at lambda;
      // size<3 yields an empty gram array in both forms.
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
    }, oracle = Some(
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
        |GROUP BY a.lang ORDER BY a.lang""".stripMargin)),
    Query("q14_langid", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.withColumn("predicted",
          when(col("text").rlike("[一-龥]"), "zh")
            .when((length(col("text")) - length(replace(col("text"), lit(" the "), lit("")))) >= 10, "en")
            .otherwise("other"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }, oracle = Some(
      """SELECT lang,
        |  CASE WHEN regexp_matches(text, '[一-龥]') THEN 'zh'
        |       WHEN (length(text) - length(replace(text, ' the ', ''))) >= 10 THEN 'en'
        |       ELSE 'other' END AS predicted,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin)),
    Query("q15_quality_score", (s, dir) => {
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
    }, oracle = Some(
      """SELECT source,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(sum(length(text) - length(replace(text, '.', ''))) AS BIGINT) AS sum_punct,
        |  CAST(sum(CAST((length(text) - length(replace(text, ' the ', ' '))) / 4 AS BIGINT)) AS BIGINT) AS sum_the,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),
    Query("q16_token_count", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("lang"),
          size(split(col("text"), "\\s+")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
            .cast("long").as("bpeish_tokens"))
        .groupBy(col("lang"))
        .agg(sum(col("ws_tokens")).as("sum_ws"), sum(col("bpeish_tokens")).as("sum_bpeish"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }, oracle = Some(
      """SELECT lang,
        |  CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS sum_ws,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_bpeish,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q24_quality_filter", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q25_dedup_clusters", (s, dir) => {
      // Oracle for the connected-components dedup-clustering operator
      // (x19's family, previously tests-only): a deterministic planted
      // edge list over documents — chains of five consecutive doc_ids
      // (multi-hop, so label propagation must actually iterate) plus
      // isolated singleton nodes — closed by
      // TextSketch.connectedComponents vs DuckDB's WITH RECURSIVE
      // min-label closure over the same edges.
      Query.chainClusters(t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("doc_id")))
        .orderBy("doc_id")
    }, oracle = Some(
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
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),
    Query("q27_repetition_filter", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q28_decontamination", (s, dir) => {
      // Benchmark decontamination (training-data pipeline op): flag
      // corpus documents sharing >= 3 distinct word 5-grams with a held
      // "benchmark" set (the GPT-3/PaLM-style n-gram overlap rule).
      // Scale shape: the benchmark gram set is SMALL (eval suites are
      // thousands of docs) -> distinct once and BROADCAST; the corpus
      // side explodes its per-doc distinct grams map-side and the hash
      // join is shuffle-free, so the only shuffle is the per-doc overlap
      // count — never a corpus x corpus comparison.
      // benchmark = doc_id % 101 == 0 (Query.benchGrams); planted
      // contaminated docs keep the >= 3 branch non-vacuous — natural
      // random-word docs share no 5-grams (Query.decontamCorpus).
      val d = t(s, dir, "documents")
      val benchGrams = Query.benchGrams(d)
      val corpus = Query.decontamCorpus(d)
      // r6: 5-grams via the codegen word_ngrams expression (one fused
      // loop) instead of the interpreted transform/slice lambda; both
      // branches only evaluate grams under a size >= 5 filter, where
      // the forms are identical.
      val grams = expr("word_ngrams(split(text, ' '), 5)")
      val overlaps = corpus.filter(size(split(col("text"), " ")) >= 5)
        .select(col("doc_id"), explode(array_distinct(grams)).as("g"))
        .join(broadcast(benchGrams), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
      Query.decontamAudit(corpus.join(overlaps, Seq("doc_id"), "left")
        .select(col("lang"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap")))
    }, oracle = Some(
      s"""WITH corpus AS (
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
        |  CAST(sum(CASE WHEN coalesce(n_overlap, 0) >= ${DecontamBloom.MinOverlap} THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(sum(coalesce(n_overlap, 0)) AS BIGINT) AS sum_overlap
        |FROM corpus LEFT JOIN ov USING (doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q29_pii_scrub", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q32_token_packing", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM c GROUP BY lang, shard ORDER BY lang, shard""".stripMargin)),
    Query("q34_packing_sharded", (s, dir) => {
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
    }, oracle = Some(
      // q34: reset-form greedy packing stepped by a recursive CTE — the
      // same recurrence the flatMapGroups runs (pack += 1 when the doc
      // would overflow; the doc goes whole into the new pack).
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
        |ORDER BY lang, input_shard, pack""".stripMargin)),
    Query("q35_rare_term_idf", (s, dir) => {
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
    }, oracle = Some(
      // q35: identical parenthesization/operand order as the Spark
      // expression — only IEEE-exact ops (+ - * / floor), no ln.
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
        |FROM sc GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q37_window_dedup", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q38_nfc_normalize", (s, dir) => {
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
    }, oracle = Some(
      // q38: DuckDB's utf8proc nfc_normalize vs the JVM Normalizer —
      // canonical mappings are Unicode-stability-frozen, so they agree.
      // Combining marks built via chr() so no invisible codepoints hide
      // in this source string.
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
        |FROM n GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q41_boilerplate_lines", (s, dir) => {
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
    }, oracle = Some(
      // q41: list_contains(NULL-coalesced set) mirrors the Spark
      // array_contains over an empty typed array; array_to_string on a
      // possibly-empty kept list still yields '' here because every page
      // keeps at least its unique body line.
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
        |FROM cleaned GROUP BY host ORDER BY host""".stripMargin)),
    Query("q43_cluster_retention", (s, dir) => {
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
      Query.chainClusters(t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars")))
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
    }, oracle = Some(
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
        |GROUP BY n.lang ORDER BY n.lang""".stripMargin)),
    Query("q45_script_mix", (s, dir) => {
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
    }, oracle = Some(
      // q45: RE2 script classes \p{Xxx} match Java's \p{IsXxx} on these
      // four scripts (stable BMP assignments).
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
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q47_paragraph_dedup", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM cleaned GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q49_lm_bucket", (s, dir) => {
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
    }, oracle = Some(
      // q49: integer-only scoring — DuckDB // is floor division, Spark div
      // truncates toward zero; all operands here are non-negative so the
      // two agree. Single-token docs yield no bigrams and drop from
      // scoring in both engines (explode/unnest of an empty list).
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
        |FROM bk GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)),
    Query("q55_quality_retention", (s, dir) => {
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
      val members = Query.chainClusters(docs)
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
    }, oracle = Some(
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
        |GROUP BY m.lang ORDER BY m.lang""".stripMargin)),
    Query("q63_bpe_encode", (s, dir) => {
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
    }, oracle = Some(
      // q63: the merge table (e,s),(es,t),(l,o),(lo,w) is a deterministic
      // fact of the pinned training vocab, so each word's segmentation is
      // closed-form.
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
        |FROM e GROUP BY word ORDER BY word""".stripMargin)),
    Query("q64_simhash_hamming", (s, dir) => {
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
    }, oracle = Some(
      // q64: the oracle BRUTE-FORCES every O(n^2) pair — feasible only
      // because the oracle runs at test SF — so equality proves the
      // Spark side's block-combination candidate generation is COMPLETE
      // (a missed candidate would drop a pair and change n_pairs /
      // checksum). Signatures are the same closed-form arithmetic.
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
        |FROM p GROUP BY dist ORDER BY dist""".stripMargin)),
    Query("q72_hashed_classifier", (s, dir) => {
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
    }, oracle = Some(
      // q72: same md5-hex bucket (DuckDB parses '0x'-prefixed strings as
      // BIGINT), same integer weight map, same sum — list_transform +
      // list_sum mirror the Spark higher-order aggregate.
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
        |FROM d GROUP BY lang, kept ORDER BY lang, kept""".stripMargin)),
    Query("q73_decontam_excise", (s, dir) => {
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
    }, oracle = Some(
      // q73: the oracle does NOT reimplement excision — it states each
      // doc's expected cleaned text in closed form from the planted
      // layout (marker tokens vanish, the partial marker survives) and
      // checksums it, so any kernel deviation shifts clean_sig.
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
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q78_containment", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q79_quality_calibration", (s, dir) => {
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
    }, oracle = Some(
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
        |GROUP BY b.source ORDER BY b.source""".stripMargin)),
    Query("q80_substring_excise", (s, dir) => {
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
    }, oracle = Some(
      // q80: the oracle replays the excision with the window STRING as
      // the shared-window key (DuckDB cannot compute xxhash64 over a
      // token slice, and does not need to: the hash is engine-local, and
      // a Spark-side collision would merge two distinct windows and shift
      // the md5-based clean_sig — the compare catches it instead of
      // hiding it).
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
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("x07_simhash_dedup", (s, dir) => {
      // native codegen expression (SimHash64Expr): no object
      // serialization boundary — the sketch stays inside whole-stage
      // codegen (the Dataset.map form broke the span with
      // DeserializeToObject/MapElements)
      t(s, dir, "documents")
        .select(col("doc_id"), expr("simhash64(text)").as("simhash"))
        .withColumn("band", shiftrightunsigned(col("simhash"), 48).cast("int"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_docs"),
          countDistinct(col("simhash")).as("n_distinct"))
        .orderBy("band")
    }),
    Query("x08_minhash_lsh_pairs", (s, dir) => {
      // the operator returns UNORDERED pairs (no global sort at scale);
      // the deterministic ordering for the verify sink is applied HERE
      graft.functions.TextSketch.lshCandidatePairs(t(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")
    }),
    Query("x19_dedup_clusters", (s, dir) => {
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
    Query("x13_langid_ngram", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .map { case (_, lang, text) => (lang, graft.functions.LangId.detect(text)) }
        .toDF("lang", "predicted")
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),
    Query("x14_fingerprints", (s, dir) => {
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
    Query("x24_decontam_bloom", (s, dir) => {
      // Decontamination, map-only scale path: q28's eval-set gram table
      // compresses into a BROADCAST Bloom filter and each corpus doc
      // checks its grams in a map — no explode, no join, no shuffle of
      // corpus grams AT ALL (the only shuffle is the per-lang audit agg).
      // FPP errs in the safe direction (may flag extra docs, never
      // misses contamination); at fpp 1e-6 over this corpus the result
      // is exactly q28's (DecontamBloomSpec asserts equality). Spark's
      // sketch BloomFilter is seed-fixed — deterministic across runs.
      val d = t(s, dir, "documents")
      val bc = DecontamBloom.broadcastFilter(Query.benchGrams(d))
      Query.decontamAudit(DecontamBloom.overlaps(Query.decontamCorpus(d), bc))
    },
      planNote = "Review point: the corpus side is SerializeFromObject over ONE map " +
        "(gram membership checked against the broadcast Bloom filter inside " +
        "the closure) — no Generate/explode, no join; the only Exchange is " +
        "the per-lang audit aggregate with a partial HashAggregate below it. " +
        "The eval-set side (explode+distinct) runs once at filter-build time, " +
        "not per corpus row."),
    Query("x29_bpe_merges", (s, dir) => {
      // distributed BPE merge learning over the corpus vocabulary (the
      // tokenizer-training stage): word frequencies from one agg, then
      // k greedy argmax rounds — deterministic tie-break makes the
      // merge table partitioning-invariant (BpeSpec pins it against
      // the single-threaded reference bit-for-bit).
      import s.implicits._
      val words = graft.functions.Bpe.vocabulary(t(s, dir, "documents"))
      graft.functions.Bpe.learnMerges(s, words, 12).toDF()
        .select(col("rank"), col("left"), col("right"), col("pair_count"))
        .orderBy("rank")
    }),
    Query("x30_bpe_encode", (s, dir) => {
      // BPE tokenization with the learned merge table — the APPLY half
      // of x29's tokenizer training (what actually counts tokens for
      // q32/q34's packing budgets in a real pretraining pipeline). The
      // merge table is learned once from the distributed vocabulary,
      // then broadcast inside a map-only encode pass over the corpus;
      // per-lang audit reports word->piece compression. BpeSpec pins
      // encode against the trained segmentation and the concatenation
      // invariant; determinism follows from x29's total-order argmax.
      import s.implicits._
      val words = graft.functions.Bpe.vocabulary(t(s, dir, "documents"))
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
  )
}
