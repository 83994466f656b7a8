package graft.queries

import graft.SparkEntry.microTables
import graft.extract.ExtractMode
import graft.icelite.IceLite
import graft.pipeline.{Metrics, Pipeline}
import graft.queries.Query.{scd2Rollup, scd2Snapshots, t}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational and evaluation queries: TPC-H-shaped aggregates and joins,
  * windows, as-of and range joins, funnels, SCD2 history, and the
  * reference's evaluation stages. */
object Relational {
  /** The per-doc metrics x05 and x17 average, in column order. */
  private val evalMetrics =
    Seq("bleu", "meteor", "f_measure", "precision", "recall", "edit_dist", "chrf")

  val all: Seq[Query] = Seq(
    Query("q01_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long")).as("revenue_cents"),
          sum(floor(col("l_discount") * 10000).cast("long")).as("disc_bp"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | count(*) AS n_rows,
        | CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        | CAST(sum(CAST(floor(l_discount * 10000) AS BIGINT)) AS BIGINT) AS disc_bp
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Query("q02_nation_revenue", (s, dir) => {
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
    }, oracle = Some(
      """SELECT n_name,
        | count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    Query("q03_anti_join_resume", (s, dir) => {
      val cust = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      cust.join(orders.filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_no_order"),
          sum(floor(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
        .orderBy("c_mktsegment")
    }, oracle = Some(
      """SELECT c_mktsegment,
        | count(*) AS n_no_order,
        | CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("q04_union_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      val a = docs.filter(col("lang") === "en")
      val b = docs.filter(col("lang") =!= "en")
      a.unionByName(b)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    }, oracle = Some(
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM (
        |  SELECT * FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT * FROM documents WHERE lang <> 'en'
        |) GROUP BY source ORDER BY source""".stripMargin)),
    Query("q05_first_event", (s, dir) => {
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
    }, oracle = Some(
      """SELECT event_type, count(*) AS n_first FROM (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |) WHERE rn = 1 GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("q06_edit_distance", (s, dir) => {
      val docs = t(s, dir, "documents")
      val d1 = docs.select(col("doc_id"), col("lang"), substring(col("text"), 1, 64).as("t1"))
      val d2 = docs.select((col("doc_id") - 1).as("doc_id"), substring(col("text"), 1, 64).as("t2"))
      d1.join(d2, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(levenshtein(col("t1"), col("t2"))).cast("long").as("sum_dist"),
          count(lit(1)).as("n_pairs"))
        .orderBy("lang")
    }, oracle = Some(
      """SELECT d1.lang,
        | CAST(sum(levenshtein(substring(d1.text, 1, 64), substring(d2.text, 1, 64))) AS BIGINT) AS sum_dist,
        | count(*) AS n_pairs
        |FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |GROUP BY d1.lang ORDER BY d1.lang""".stripMargin)),
    Query("q07_category_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.withColumn("category",
          when(col("text").contains("\\begin{tabular}"), "table")
            .when(col("text").contains("\\(") || col("text").contains("\\["), "math")
            .otherwise("text"))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("category")
    }, oracle = Some(
      """SELECT CASE
        |  WHEN position('\begin{tabular}' IN text) > 0 THEN 'table'
        |  WHEN position('\(' IN text) > 0 OR position('\[' IN text) > 0 THEN 'math'
        |  ELSE 'text' END AS category,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY category""".stripMargin)),
    Query("q08_token_prf", (s, dir) => {
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
    }, oracle = Some(
      """WITH t AS (
        |  SELECT lang,
        |    list_distinct(string_split(substring(text, 1, CAST(floor(n_chars / 2) AS INT)), ' ')) AS hyp,
        |    list_distinct(string_split(text, ' ')) AS ref
        |  FROM documents)
        |SELECT lang,
        |  CAST(sum(len(list_intersect(ref, hyp))) AS BIGINT) AS sum_inter,
        |  CAST(sum(len(ref)) AS BIGINT) AS sum_ref,
        |  CAST(sum(len(hyp)) AS BIGINT) AS sum_hyp
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q11_filename_routing", (s, dir) => {
      // P12: the reference's filename routing (append extension, zero-pad
      // numeric ids — eval_GOT_ocr.py:179-184 zfill) as concat/lpad/printf
      // built-ins; value-compared verbatim against the oracle.
      t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          concat(col("source"), lit("/"),
            lpad(col("doc_id").cast("string"), 9, "0"), lit(".jpg")).as("filename"),
          format_string("%s_%05d", col("lang"), col("doc_id")).as("tag"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
        |  source || '/' || lpad(CAST(doc_id AS VARCHAR), 9, '0') || '.jpg' AS filename,
        |  printf('%s_%05d', lang, doc_id) AS tag
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin)),
    Query("q17_hourly_events", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("value_cents"))
        .orderBy("hour", "event_type")
    }, oracle = Some(
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),
    Query("q18_cube_docs", (s, dir) => {
      t(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("sum_chars"))
        .orderBy("lang", "source")
    }, oracle = Some(
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY lang, source""".stripMargin)),
    Query("q19_running_sum", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .filter(col("user_id") < 10)
        .select(col("user_id"), col("event_id"),
          sum(floor(col("value") * 100).cast("long")).over(w).as("running_cents"))
        .orderBy("user_id", "event_id")
    }, oracle = Some(
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM events WHERE user_id < 10
        |ORDER BY user_id, event_id""".stripMargin)),
    Query("q20_segment_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long")).as("revenue_cents"))
        .orderBy("c_mktsegment")
    }, oracle = Some(
      """SELECT c_mktsegment, count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("q23_category_eval", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM j GROUP BY category ORDER BY category""".stripMargin)),
    Query("q26_session_gaps", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin)),
    Query("q46_host_len_percentiles", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM r GROUP BY host ORDER BY host""".stripMargin)),
    Query("q68_asof_join", (s, dir) => {
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
    }, oracle = Some(
      // q68: DuckDB's native ASOF LEFT JOIN is an independent
      // implementation of the most-recent-revision-<=-ts semantics —
      // agreement checks our window formulation against a second engine's
      // operator, not against our own algebra restated.
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
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),
    Query("q69_range_join", (s, dir) => {
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
    }, oracle = Some(
      // q69: the oracle evaluates the containment predicate DIRECTLY
      // (the naive theta join) — equality proves the bucket-expansion
      // equi-join neither drops nor duplicates matches.
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
        |GROUP BY g.r ORDER BY g.r""".stripMargin)),
    Query("q70_range_shards", (s, dir) => {
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
    }, oracle = Some(
      // q70: same histogram, same integer boundary rule (min bin where
      // cum*8 >= s*n), same strictly-below shard count.
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
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin)),
    Query("q74_event_funnel", (s, dir) => {
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
      // Conversion window: 6 hours per stage (Query.purchaseFunnel).
      val per = graft.functions.Funnel.matchStages(
        t(s, dir, "events").select(col("user_id").cast("long").as("u"),
          unix_millis(col("ts").cast("timestamp")).as("tsm"),
          col("event_type")),
        Query.purchaseFunnel, keyCol = "u", tsCol = "tsm", typeCol = "event_type")
      per.groupBy((col("u") % 5).as("cohort"))
        .agg(count(lit(1)).as("n_users"),
          count(col("t_view")).as("n_viewed"),
          count(col("t_click")).as("n_clicked"),
          count(col("t_purchase")).as("n_purchased"),
          coalesce(sum(col("t_purchase") - col("t_view")), lit(0L)).as("sum_funnel_ms"),
          coalesce(max(col("t_purchase") - col("t_view")), lit(-1L)).as("max_funnel_ms"))
        .orderBy("cohort")
    }, oracle = Some(
      // q74: the oracle runs the cascade as THREE grouped join passes —
      // an independent formulation of the same first-match semantics.
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
        |GROUP BY cohort ORDER BY cohort""".stripMargin)),
    Query("q75_salted_distinct", (s, dir) => {
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
    }, oracle = Some(
      // q75: the oracle is the SINGLE-phase truth (plain COUNT DISTINCT,
      // no salt) — equality proves the two-phase salted rewrite lossless.
      // The salt uses Spark's xxhash64, which DuckDB cannot compute, and
      // does not need to: every salt-invariant output column is checked.
      """WITH w AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT lang, w FROM w WHERE w <> '')
        |SELECT lang, count(*) AS n_words,
        |  CAST(count(DISTINCT w) AS BIGINT) AS n_distinct
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q77_scd2_history", (s, dir) => {
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
      scd2Rollup(intervals)
    }, oracle = Some(
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
        |FROM pu GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("x05_eval_metrics", (s, _) => {
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
        .toDF("url" +: evalMetrics: _*)
        .agg(count(lit(1)).as("n_docs"), evalMetrics.map(m => avg(m).as(m)): _*)
    }),
    Query("x17_category_eval", (s, _) => {
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
        .toDF("category" +: evalMetrics: _*)
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n_docs"), evalMetrics.map(m => avg(m).as(m)): _*)
        .orderBy("category")
    }),
  )
}
