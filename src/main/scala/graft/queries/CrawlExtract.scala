package graft.queries

import graft.SparkEntry.{SynthRoot, entry, microTables}
import graft.extract.ExtractMode
import graft.icelite.IceLite
import graft.pipeline.{Pipeline, Render}
import graft.queries.Query.{hostGaps, runDir, t}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl and extraction queries: the extraction pipeline over the micro
  * corpus, URL canonicalization, robots and sitemaps, link graphs,
  * frontier and recrawl policy, snapshots, tables, PDFs and page metadata. */
object CrawlExtract {
  /** The micro corpus's host link edges, one row per extracted outlink:
    * (src_host, dst_host, external). Map-side link extraction (streaming
    * tokenizer, no DOM); external, protocol-relative and relative hrefs
    * all resolve; PDF payloads contribute nothing (magic-byte dispatch). */
  private def hostLinks(s: SparkSession): DataFrame = {
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
  }

  val all: Seq[Query] = Seq(
    Query("q31_url_canonical", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM c3 GROUP BY site ORDER BY site""".stripMargin)),
    Query("q33_outlink_hosts", (s, dir) => {
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
    }, oracle = Some(
      // q33: the oracle states each href shape's expected resolution in
      // CLOSED FORM (lowercased host, port/userinfo stripped, relative ->
      // base, non-navigational -> dropped) — the Spark side runs the real
      // parser, so equality checks the parser against the spec.
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
        |FROM r GROUP BY kind ORDER BY kind""".stripMargin)),
    Query("q36_robots_rules", (s, dir) => {
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
    }, oracle = Some(
      // q36: closed-form RFC 9309 expectations — every doc contributes one
      // path per case kind; allowed/disallowed is fixed per kind by the
      // spec semantics the Spark side's real evaluator implements.
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
        |ORDER BY kind""".stripMargin)),
    Query("q39_crawl_politeness", (s, dir) => {
      // Per-host crawl politeness audit — the fetch-scheduler feedback
      // signal (is any host hit faster than the politeness floor?):
      // ordered inter-arrival gaps per host (Query.hostGaps), gap stats
      // in integer millis, violations = gaps under the 60s floor. The
      // window partitions by HOST — 10^8 hosts at crawl scale, the
      // scale-safe window shape (q26's sessionization key, NOT q32's
      // bounded-lang key).
      hostGaps(s, dir)
        .groupBy(col("host_id"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_ms")).as("min_gap_ms"),
          max(col("gap_ms")).as("max_gap_ms"),
          sum(col("gap_ms")).as("sum_gap_ms"),
          sum(when(col("gap_ms") < 60000L, 1L).otherwise(0L)).as("n_violations"))
        .orderBy("host_id")
    }, oracle = Some(
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
        |GROUP BY host_id ORDER BY host_id""".stripMargin)),
    Query("q40_sitemap_parse", (s, dir) => {
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
    }, oracle = Some(
      // q40: closed-form expected frontier entries per doc (the entity in
      // loc b decodes, the CDATA body of loc c extracts, the locless
      // fourth entry drops).
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
        |FROM e GROUP BY grp ORDER BY grp""".stripMargin)),
    Query("q42_snapshot_delta", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q48_frontier_filter", (s, dir) => {
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
    }, oracle = Some(
      // q48: closed-form allowed set — /a<id> allowed, /private<id>/secret
      // blocked by the prefix rule, /private<id>/ok/page re-allowed by the
      // longer Allow, /report<id>.pdf blocked by the $-anchored wildcard.
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
        |FROM e GROUP BY grp ORDER BY grp""".stripMargin)),
    Query("q50_blocklist_filter", (s, dir) => {
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
    }, oracle = Some(
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
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q51_anchor_text", (s, dir) => {
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
    }, oracle = Some(
      // q51: closed-form expected links per page — internal /about resolves
      // to the page host; hub gets two anchors (one with &amp; decoding to
      // '&'); partner fans over 10 hosts. Term counts are whitespace words
      // of the DECODED anchor.
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
        |FROM e GROUP BY kind ORDER BY kind""".stripMargin)),
    Query("q52_table_markdown", (s, dir) => {
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
    }, oracle = Some(
      // q52: the EXPECTED markdown per case, stated in closed form — the
      // whole rendered table string is value-compared per doc (min/
      // distinct aggregates over strings that differ only in the id).
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
        |FROM e GROUP BY kind ORDER BY kind""".stripMargin)),
    Query("q53_registrable_domain", (s, dir) => {
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
    }, oracle = Some(
      // q53: the identical longest-known-suffix algorithm over the same
      // curated suffix list (UrlCanon.twoLevelSuffixes).
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
        |FROM r GROUP BY kind ORDER BY kind""".stripMargin)),
    Query("q56_crawl_delay_audit", (s, dir) => {
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
      hostGaps(s, dir).join(declared, Seq("host_id"))
        .groupBy(col("host_id"))
        .agg(max(col("declared_ms")).as("declared_ms"),
          count(lit(1)).as("n_gaps"),
          sum(when(col("gap_ms") < col("declared_ms"), 1L).otherwise(0L))
            .as("n_violations"),
          min(col("gap_ms")).as("min_gap_ms"))
        .orderBy("host_id")
    }, oracle = Some(
      // q56: the closed form asserts the PARSED delay — the graftbot
      // group's 5+(h%7) seconds, not the wildcard group's 1s — so group
      // selection is value-verified, then reuses q39's gap arithmetic.
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
        |GROUP BY host_id ORDER BY host_id""".stripMargin)),
    Query("q57_pdf_table", (s, dir) => {
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
    }, oracle = Some(
      // q57: each battery case's table set stated in closed form (the
      // layout case's veto = zero tables, empty markdown).
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
        |FROM e GROUP BY kind ORDER BY kind""".stripMargin)),
    Query("q58_page_meta", (s, dir) => {
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
    }, oracle = Some(
      // q58: every extracted metadata string stated in closed form per
      // battery case (first-wins, head scoping, truncation all visible in
      // which fields are empty).
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
        |FROM e GROUP BY kind ORDER BY kind""".stripMargin)),
    Query("q59_snapshot_compact", (s, dir) => {
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
    }, oracle = Some(
      // q59: the latest revision is the one with max fetch_ms (rev
      // doc_id%3), so the compacted state is stated per url in closed
      // form, then aggregated identically.
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
        |FROM u GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("q60_recrawl_priority", (s, dir) => {
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
    }, oracle = Some(
      // q60: DuckDB steps the same fetch recurrence via generate_series
      // and the same integer-rational estimator (// = integer division).
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
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)),
    Query("q61_robots_sitemaps", (s, dir) => {
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
    }, oracle = Some(
      // q61: the surviving sitemap-url list per doc in closed form — the
      // second declaration dedups away exactly when id%3==1.
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
        |FROM e GROUP BY n_sitemaps ORDER BY n_sitemaps""".stripMargin)),
    Query("q62_crawl_budget", (s, dir) => {
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
    }, oracle = Some(
      // q62: identical largest-remainder recurrence — integer DIV/mod and
      // the same (remainder DESC, source ASC) rank.
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
        |FROM r, x ORDER BY source""".stripMargin)),
    Query("q76_pagerank", (s, dir) => {
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
    }, oracle = Some {
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
    }),
    Query("x01_extract_plain", (s, _) => {
      val (pagesDir, _) = microTables(s)
      Pipeline.extract(IceLite.read(s, pagesDir), ExtractMode.Plain).toDF()
        .select(col("url"), col("mode"), col("status"), col("text"),
          col("metrics.blocks_kept").as("blocks_kept"))
        .orderBy("url")
    }),
    Query("x02_golden_match", (s, _) => entry(s)),
    Query("x03_multipage", (s, _) => {
      val (pagesDir, _) = microTables(s)
      val pages = IceLite.read(s, pagesDir)
      val parts = Pipeline.extract(pages.filter(col("url").contains("?part=")), ExtractMode.Plain)
      Pipeline.reassembleMultiPage(parts.toDF()).orderBy("url")
    }),
    Query("x04_chunked_identity", (s, _) => {
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
    Query("x06_render_html", (s, _) => {
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
    Query("x22_outlinks", (s, _) =>
      // host link-graph construction: ONE shuffle keyed by (src_host,
      // dst_host) over the map-side edges — the standard webgraph build
      // at crawl scale
      hostLinks(s)
        .groupBy(col("src_host"), col("dst_host"), col("external"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy("src_host", "dst_host"),
      planNote = "Review point: link extraction is a map-side SerializeFromObject " +
        "over the kernel flatMap (no payload shuffle); the ONE hash-partitioned " +
        "Exchange is the (src_host, dst_host, external) edge aggregate with " +
        "partial HashAggregate below it; the only other Exchange is the range " +
        "partitioning of the final orderBy, above the aggregate."),
    Query("x23_host_pagerank", (s, _) => {
      // PageRank over the x22 host link graph (crawl-quality prior):
      // one shuffle per power iteration, quantized contribution sums so
      // ranks are bit-identical under any partitioning (HostRank).
      val edges = hostLinks(s).groupBy(col("src_host").as("src"), col("dst_host").as("dst"))
        .agg(count(lit(1)).cast("double").as("weight"))
      graft.functions.HostRank.pageRank(edges)
        .select(col("host"), floor(col("rank") * 1e9).cast("long").as("rank_x1e9"))
        .orderBy(desc("rank_x1e9"), col("host"))
    }),
    Query("x11_multimodal_features", (s, _) =>
      graft.functions.Multimodal.featureStats(s, 2000L)),
    Query("x16_warc_ingest", (s, _) => {
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
    Query("x18_crawl_health", (s, _) => {
      // crawl-health report (VERDICT r1 next-steps #10): per-host
      // extraction stats (perHostStats — map-side partial agg, only tiny
      // per-host rows shuffle) published together with the run's lineage
      // cross-check: the __ALL__ summary row asserts that what the hosts
      // sum to is exactly what the lineage table committed — the
      // invariant an operator pages through when a 100 TB run finishes.
      val (pagesDir, _) = microTables(s)
      val out = runDir("health")
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
    Query("x09_resume_lineage", (s, _) => {
      val (pagesDir, _) = microTables(s)
      val out = runDir("run")
      graft.pipeline.ResumableRun.run(s, pagesDir, s"$out/extracted", s"$out/lineage",
        nShards = 8, batchSize = 4)
      s.read.parquet(s"$out/lineage")
        .select(col("snapshot_id"), col("partition_hash"), col("row_count_in"),
          col("row_count_out"), col("bytes_in"))
        .orderBy("partition_hash")
    }),
  )
}
