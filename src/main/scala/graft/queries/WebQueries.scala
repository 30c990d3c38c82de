package graft.queries

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Web crawl inputs: WARC/WET/WAT ingest, URL normalization, link
  * graphs and interchange-format round trips. */
object WebQueries {
  import Inputs._

  /** Staged MIXED-RECORD crawl shards, one set per scale dir. */
  private val warcMixedStageDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Stage (once per scale dir) a REAL-SHAPED crawl fixture: each shard
    * opens with a `warcinfo` record (no WARC-Target-URI — the record
    * that kills a strict response-only reader on byte one of any real
    * Common Crawl file), then per doc a `request` record and a
    * `response` record whose payload is a full HTTP/1.1 MESSAGE
    * (status line varied by doc_id residue, Content-Length or chunked
    * framing, charset declared in the header for even ids only), plus
    * a `revisit` record for every 10th doc. Written from executors,
    * member-per-record — splittable by construction. */
  private def warcMixedStagedDir(s: SparkSession, dir: String): String =
    warcMixedStageDirs.getOrElseUpdate(dir, {
      import s.implicits._
      val d = TempDirs.create("graft_warc_mixed")
      t(s, dir, "documents")
        .repartition(4, pmod(col("doc_id"), lit(4L)))
        .select(col("doc_id").cast("long"),
          encode(htmlPage(col("doc_id"), col("text")), "UTF-8").as("__b"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          import graft.sources.{Http, Warc}
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val out = new java.io.ByteArrayOutputStream()
          def member(b: Array[Byte]): Unit = out.write(Warc.gzipMember(b))
          // shard header record, like a real crawler writes — emitted
          // even for a docless shard, so the warcinfo census is exactly
          // one per partition (hash repartition may leave some of the 4
          // residue classes sharing a partition)
          member(Warc.recordBytesOf("warcinfo", Seq(
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "WARC-Record-ID" -> s"<urn:uuid:info-$pid>",
            "Content-Type" -> "application/warc-fields"),
            "software: graft/1.0\r\n".getBytes("US-ASCII")))
          it.foreach { case (id, b) =>
            val url = s"https://corpus.example/doc/$id"
            member(Warc.recordBytesOf("request", Seq(
              "WARC-Target-URI" -> url,
              "WARC-Date" -> "2026-01-01T00:00:00Z",
              "WARC-Record-ID" -> s"<urn:uuid:req-$id>",
              "Content-Type" -> "application/http; msgtype=request"),
              s"GET /doc/$id HTTP/1.1\r\nHost: corpus.example\r\n\r\n"
                .getBytes("US-ASCII")))
            val (st, reason) =
              if (id % 7 == 0) (404, "Not Found")
              else if (id % 7 == 3) (301, "Moved Permanently")
              else (200, "OK")
            val ct = if (id % 2 == 0) "text/html; charset=UTF-8"
                     else "text/html"
            member(Warc.recordBytes(url, "2026-01-01T00:00:00Z",
              "application/http; msgtype=response", s"<urn:uuid:doc-$id>",
              Http.responseBytes(st, reason, Seq(
                "Content-Type" -> ct, "Server" -> "graft/1.0",
                "X-Crawl-Id" -> id.toString), b,
                chunkSize = if (id % 5 == 0) 257 else 0)))
            if (id % 10 == 0)
              member(Warc.recordBytesOf("revisit", Seq(
                "WARC-Target-URI" -> url,
                "WARC-Date" -> "2026-01-02T00:00:00Z",
                "WARC-Record-ID" -> s"<urn:uuid:rev-$id>",
                "Content-Type" -> "message/http"), Array.emptyByteArray))
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, f"part-$pid%04d.warc.gz"),
            out.toByteArray)
          Iterator.single(1)
        }.count()
      d
    })

  /** Staged WET-style sidecar shards, one set per scale dir. */
  private val wetStageDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Stage (once per scale dir) the EXTRACTED-TEXT sidecar the rest of
    * the crawl ecosystem consumes (`.wet.gz` shape): the pipeline_web
    * funnel's content text — the same htmlBlocks → boilerplate-drop →
    * join chain — written back as member-per-record `conversion`
    * records (splittable by construction, like everything this engine
    * writes). Executors compute the content via the pure expression
    * chain and serialize their own shards — no driver bottleneck. */
  private def wetStagedDir(s: SparkSession, dir: String): String =
    wetStageDirs.getOrElseUpdate(dir, {
      import s.implicits._
      val d = TempDirs.create("graft_wet")
      t(s, dir, "documents")
        .repartition(4, pmod(col("doc_id"), lit(4L)))
        .select(col("doc_id").cast("long"),
          encode(graft.text.TextFunctions.htmlContentText(
            graft.text.TextFunctions.htmlBlocks(
              htmlPage(col("doc_id"), col("text")))), "UTF-8").as("__b"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          val recs = it.map { case (id, b) =>
            (s"https://corpus.example/doc/$id", "2026-01-01T00:00:00Z",
              "text/plain", s"<urn:uuid:wet-$id>", b)
          }.toSeq
          if (recs.nonEmpty) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            java.nio.file.Files.write(
              java.nio.file.Paths.get(d, f"part-$pid%04d.wet.warc.gz"),
              graft.sources.Warc.writeGz(recs, warcType = "conversion"))
          }
          Iterator.single(1)
        }.count()
      d
    })

  /** Staged WAT-style metadata sidecar shards, one set per scale dir. */
  private val watStageDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Stage (once per scale dir) the WAT-style sidecar: one WARC
    * `metadata` record per doc whose JSON payload carries the page URL
    * and the RAW extracted outlink hrefs (the envelope summary a WAT
    * generator records so consumers never re-parse the HTML). The JSON
    * is built by expressions (to_json over the same href extraction the
    * HTML path runs), serialized member-per-record. */
  private def watStagedDir(s: SparkSession, dir: String): String =
    watStageDirs.getOrElseUpdate(dir, {
      import s.implicits._
      val d = TempDirs.create("graft_wat")
      t(s, dir, "documents")
        .repartition(4, pmod(col("doc_id"), lit(4L)))
        .select(col("doc_id").cast("long"),
          encode(to_json(struct(
            concat(lit("https://corpus.example/doc/"), col("doc_id"))
              .as("url"),
            regexp_extract_all(htmlLinkPage(col("doc_id")),
              lit("(?i)<a[^>]*href=\"([^\"]*)\""), lit(1)).as("links"))),
            "UTF-8").as("__b"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          val recs = it.map { case (id, b) =>
            graft.sources.Warc.recordBytesOf("metadata", Seq(
              "WARC-Target-URI" -> s"https://corpus.example/doc/$id",
              "WARC-Date" -> "2026-01-01T00:00:00Z",
              "WARC-Record-ID" -> s"<urn:uuid:wat-$id>",
              "Content-Type" -> "application/json"), b)
          }.toSeq
          if (recs.nonEmpty) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val out = new java.io.ByteArrayOutputStream()
            recs.foreach(r => out.write(graft.sources.Warc.gzipMember(r)))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(d, f"part-$pid%04d.wat.warc.gz"),
              out.toByteArray)
          }
          Iterator.single(1)
        }.count()
      d
    })

  /** Staged torn-shard fixture dirs, one set per scale dir. */
  private val warcTornStageDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Stage (once per scale dir) four RESIDUE-KEYED response shards —
    * file r holds exactly the docs with doc_id%4 == r, sorted, so the
    * oracle can derive per-file counts — and then TRUNCATE shard 1
    * five bytes short: the file a crawler was writing when it died,
    * cut mid-trailer of its final member. */
  private def warcTornStagedDir(s: SparkSession, dir: String): String =
    warcTornStageDirs.getOrElseUpdate(dir, {
      import s.implicits._
      val d = TempDirs.create("graft_warc_torn")
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"),
          encode(col("text"), "UTF-8").as("__b"))
        .as[(Long, Array[Byte])]
        .groupByKey(_._1 % 4)
        .flatMapGroups { (r, docs) =>
          val sorted = docs.toArray.sortBy(_._1)
          val blob = graft.sources.Warc.writeGz(sorted.toSeq.map {
            case (id, b) =>
              (s"https://corpus.example/doc/$id", "2026-01-01T00:00:00Z",
                "text/plain", s"<urn:uuid:doc-$id>", b)
          })
          val bytes = if (r == 1) blob.dropRight(5) else blob
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, f"part-$r%04d.warc.gz"), bytes)
          Iterator.single(1)
        }.count()
      d
    })

  /** Deterministic LINK-PAGE fixture: 1 + doc_id%4 anchors whose hrefs
    * arrive in messy spellings (cased host + default port, tracking
    * params, fragments, unsorted params); anchor k targets page
    * `(doc_id + 31(k+1)) % 401`. The oracle derives the same canonical
    * edges from the arithmetic alone. */
  private def htmlLinkPage(docId: Column): Column = {
    val cnt = pmod(docId, lit(4L)) + lit(1L)
    def tnum(k: Int) = pmod(docId + lit(31L * (k + 1)), lit(401L))
    def target(k: Int) = tnum(k).cast("string")
    val a0 = concat(lit("<a href=\"https://corpus.example/page/"),
      target(0), lit("\">l0</a>"))
    // anchors 1 and 3 target SUBDOMAINS of multi-label-suffix sites —
    // blog.siteN.co.uk and www.siteN.co.uk must roll up to ONE
    // registrable domain in the link graph
    val a1 = concat(
      lit("<a class='nav' href=\"HTTPS://Blog.Site"),
      pmod(tnum(1), lit(5L)).cast("string"), lit(".CO.UK:443/page/"),
      target(1), lit("?utm_source=nav\">l1</a>"))
    val a2 = concat(lit("<a href=\"https://corpus.example/page/"),
      target(2), lit("?b=2&a=1\">l2</a>"))
    val a3 = concat(lit("<a href=\"https://www.site"),
      pmod(tnum(3), lit(5L)).cast("string"), lit(".co.uk/page/"),
      target(3), lit("#sec\">l3</a>"))
    concat(lit("<html><body><p>see "), a0,
      when(cnt >= 2, a1).otherwise(lit("")),
      when(cnt >= 3, a2).otherwise(lit("")),
      when(cnt >= 4, a3).otherwise(lit("")),
      lit("</p></body></html>"))
  }

  /** Deterministic MULTI-HOST messy URL: cased subdomain + site + public
    * suffix from doc_id residues, default port attached — the suffixes
    * include MULTI-LABEL rules (co.uk, com.au, github.io), so rollup by
    * raw last-two-labels would wrongly key on `co.uk`; 30 registrable
    * domains × 2 subdomain shapes after normalization. */
  private def messyHostUrl(docId: Column): Column = {
    val sub = when(pmod(docId, lit(2L)) === 0, lit("WWW."))
      .otherwise(lit("cdn.Assets."))
    val m6 = pmod(docId, lit(6L))
    val tld = when(m6 === 0, lit("COM")).when(m6 === 1, lit("org"))
      .when(m6 === 2, lit("Net")).when(m6 === 3, lit("CO.UK"))
      .when(m6 === 4, lit("com.au")).otherwise(lit("GitHub.IO"))
    concat(lit("HTTPS://"), sub, lit("Site"),
      pmod(docId, lit(5L)).cast("string"), lit("."), tld,
      lit(":443/p/"), docId.cast("string"))
  }
  /** Staged manifest files (shard paths, 2 per micro-batch) for the
    * continuous-ingestion stream, one set per scale dir. */
  private val warcManifestDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Oracle of the WARC round trip, shared by the batch read and the
    * manifest-stream drain (stream ≡ batch is the pin). */
  /** The domain-rolled link-graph oracle — shared by the HTML
    * extraction path (web_link_graph) and the WAT JSON sidecar
    * round trip (wat_link_graph): two wire formats, one truth. */
  private val WebLinkGraphSql: String =
    raw"""WITH l AS (SELECT doc_id,
              unnest(range(1 + doc_id % 4)) AS k FROM documents),
            tt AS (SELECT doc_id, k,
              (doc_id + 31*(k+1)) % 401 AS tgt FROM l),
            e AS (SELECT doc_id,
              CASE WHEN k = 1 THEN 'blog.site' || (tgt % 5) || '.co.uk'
                WHEN k = 3 THEN 'www.site' || (tgt % 5) || '.co.uk'
                ELSE 'corpus.example' END AS host,
              CASE WHEN k = 0 THEN 'https://corpus.example/page/' || tgt
                WHEN k = 1 THEN 'https://blog.site' || (tgt % 5)
                  || '.co.uk/page/' || tgt
                WHEN k = 2 THEN 'https://corpus.example/page/' || tgt
                  || '?a=1&b=2'
                ELSE 'https://www.site' || (tgt % 5) || '.co.uk/page/'
                  || tgt END AS dst_url
              FROM tt),
            sp AS (SELECT doc_id, host, dst_url,
              string_split(host, '.') AS ls FROM e),
            dd AS (SELECT doc_id, host, dst_url,
              ${graft.text.PublicSuffix.sqlRegistrableDomain("host", "ls")}
              AS dst_domain FROM sp)
            SELECT dst_domain, count(*) AS n_inlinks,
              count(DISTINCT host) AS n_hosts,
              count(DISTINCT dst_url) AS n_urls,
              CAST(min(doc_id) AS BIGINT) AS first_src
            FROM dd GROUP BY 1"""

  private val WarcRoundtripSql: String =
    raw"""SELECT doc_id,
          CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
          md5(text) AS payload_md5,
          'text/plain' AS content_type
        FROM documents"""
  /** Interchange round-trip plumbing (fmt_* queries). */
  private val FmtDdl = "doc_id BIGINT, text STRING, lang STRING, source STRING"
  /** Oracle twin of [[fmtDigest]] over the parquet originals. */
  private val FmtDigestSql =
    """SELECT source, lang, count(*) AS n_docs,
       CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
       count(DISTINCT md5(text)) AS n_text_md5,
       CAST(sum(doc_id) AS BIGINT) AS sum_id
       FROM documents GROUP BY source, lang"""
  private def fmtCols(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"), col("source"))
  private def fmtDigest(df: DataFrame): DataFrame =
    df.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("text")).cast("long")).as("sum_bytes"),
        countDistinct(md5(col("text").cast("binary"))).as("n_text_md5"),
        sum(col("doc_id")).as("sum_id"))

  val all: Seq[Query] = Seq(
    // RFC 3986-lite URL normalization — the crawl pipeline's first,
    // cheapest dedup key: five deterministic spellings of the same page
    // URL (cased host, default port, tracking params, fragment, unsorted
    // params) collapse to one canonical form. Pure RE2-safe expression
    // chain; the oracle replays the identical parse/fold/sort
    Query("url_normalize", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), messyUrl(col("doc_id")).as("url"))
        .select(col("doc_id"), col("url"),
          graft.text.TextFunctions.urlNormalize(col("url")).as("url_norm")), oracle =
      // the URL normalizer replayed: same fragment/scheme/host/port/
      // param arithmetic, same RE2 patterns, same sort
      s"""$UrlNormCtes
            SELECT doc_id, url, url_norm FROM un"""),

    // OUTLINK extraction → normalization → DOMAIN-ROLLED LINK GRAPH:
    // each doc's page carries 1..4 anchors whose hrefs arrive in messy
    // spellings (cased host + default port, tracking params) and target
    // subdomains of multi-label-suffix sites — the query extracts hrefs
    // with the attr regex, normalizes each, and KEYS the in-degree
    // aggregation on the REGISTRABLE domain (pinned public-suffix
    // table), so blog.siteN.co.uk and www.siteN.co.uk roll up to one
    // row: the per-site edge build real link analysis runs. Still one
    // shuffle. The oracle derives the same edges from the fixture
    // arithmetic and replays the same suffix table
    Query("web_link_graph", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(regexp_extract_all(htmlLinkPage(col("doc_id")),
            lit("(?i)<a[^>]*href=\"([^\"]*)\""), lit(1))).as("__href"))
        .select(col("doc_id"),
          graft.text.TextFunctions.urlNormalize(col("__href")).as("dst_url"))
        .select(col("doc_id"), col("dst_url"),
          regexp_extract(col("dst_url"), "^https://([^/?]*)", 1)
            .as("__host"))
        .select(col("doc_id"), col("dst_url"),col("__host"),
          graft.text.PublicSuffix.registrableDomain(col("__host"))
            .as("dst_domain"))
        .groupBy(col("dst_domain"))
        .agg(count(lit(1)).as("n_inlinks"),
          countDistinct(col("__host")).as("n_hosts"),
          countDistinct(col("dst_url")).as("n_urls"),
          min(col("doc_id")).as("first_src")), oracle =
      // the link graph from arithmetic alone: anchor k of doc d targets
      // page (d + 31(k+1)) % 401 on corpus.example (k=0,2) or a
      // co.uk subdomain (k=1,3); only the k=2 anchor keeps (sorted)
      // params after normalization. The rollup key replays the SAME
      // pinned public-suffix table the engine resolves eTLD+1 with
      WebLinkGraphSql),

    // Per-DOMAIN corpus rollup — the crawl data card's first table:
    // REGISTRABLE domain (eTLD+1 via the pinned public-suffix table)
    // from the normalized URL, doc and distinct-host counts per domain.
    // Hosts arrive cased with default ports and include multi-label
    // suffixes (co.uk, com.au, github.io) — a raw last-two-labels key
    // would wrongly pool every .co.uk site into one row
    Query("url_domain_stats", (s, dir) => {
      val host = regexp_extract(
        graft.text.TextFunctions.urlNormalize(messyHostUrl(col("doc_id"))),
        "^https://([^/]*)/", 1)
      t(s, dir, "documents")
        .select(col("doc_id"), host.as("__host"))
        .select(col("doc_id"), col("__host"),
          graft.text.PublicSuffix.registrableDomain(col("__host"))
            .as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("__host")).as("n_hosts"))
    }, oracle =
      raw"""WITH h AS (SELECT doc_id,
              (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'cdn.assets.' END)
                || 'site' || (doc_id % 5) || '.' ||
                (CASE CAST(doc_id % 6 AS INTEGER) WHEN 0 THEN 'com'
                  WHEN 1 THEN 'org' WHEN 2 THEN 'net' WHEN 3 THEN 'co.uk'
                  WHEN 4 THEN 'com.au' ELSE 'github.io' END) AS host
              FROM documents),
            sp AS (SELECT doc_id, host, string_split(host, '.') AS ls
              FROM h),
            dd AS (SELECT doc_id, host,
              ${graft.text.PublicSuffix.sqlRegistrableDomain("host", "ls")}
              AS domain FROM sp)
            SELECT domain, count(*) AS n_docs,
              count(DISTINCT host) AS n_hosts
            FROM dd GROUP BY 1"""),

    // HTTP-message extraction over the mixed-record crawl fixture — the
    // decode a real Common Crawl response record needs: tolerant record
    // walk past the warcinfo/request/revisit records, then status line /
    // headers / body split (Content-Length AND chunked framing both
    // live in the fixture) and the charset resolution chain (header
    // param for even ids, windows-1252 fallback for odd — the fixture
    // pages carry no meta tag). The oracle re-derives status, reason,
    // header count, charset decision, and the body's md5 from the
    // documents arithmetic alone
    Query("warc_http_extract", (s, dir) => {
      val staged = warcMixedStagedDir(s, dir)
      graft.sources.WarcSource.readHttp(s, staged, splitBytes = 64L * 1024)
        .select(
          expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("http_status"), col("http_reason"), col("n_headers"),
          col("http_content_type").as("content_type_hdr"),
          col("charset"), col("charset_src"),
          length(col("body")).cast("long").as("body_bytes"),
          md5(col("body")).as("body_md5"))
    }, oracle =
      // the HTTP extraction replayed from arithmetic: status/reason by
      // doc_id%7, charset decision by doc_id%2 (header param vs
      // fallback), body = the html page whose md5 DuckDB recomputes —
      // a de-chunking or framing slip on the Spark side hash-mismatches
      s"""WITH $HtmlPageCtes
            SELECT doc_id,
              CAST(CASE WHEN doc_id % 7 = 0 THEN 404
                WHEN doc_id % 7 = 3 THEN 301 ELSE 200 END AS INTEGER)
                AS http_status,
              CASE WHEN doc_id % 7 = 0 THEN 'Not Found'
                WHEN doc_id % 7 = 3 THEN 'Moved Permanently'
                ELSE 'OK' END AS http_reason,
              CAST(4 AS INTEGER) AS n_headers,
              CASE WHEN doc_id % 2 = 0 THEN 'text/html; charset=UTF-8'
                ELSE 'text/html' END AS content_type_hdr,
              CASE WHEN doc_id % 2 = 0 THEN 'utf-8'
                ELSE 'windows-1252' END AS charset,
              CASE WHEN doc_id % 2 = 0 THEN 'header'
                ELSE 'fallback' END AS charset_src,
              CAST(octet_length(encode(html)) AS BIGINT) AS body_bytes,
              md5(html) AS body_md5
            FROM h"""),

    // Record-type survey over the same mixed shards — the scan-cost
    // census (mm_format_survey discipline) a crawl audit runs before
    // deciding what to decode: every record classified and counted,
    // none thrown
    Query("warc_type_survey", (s, dir) => {
      val staged = warcMixedStagedDir(s, dir)
      graft.sources.WarcSource.readAll(s, staged, splitBytes = 64L * 1024)
        .groupBy(col("warc_type"))
        .agg(count(lit(1)).as("n_records"),
          count(col("url")).as("n_with_url"))
    }, oracle =
      // per-type census re-derived from the fixture arithmetic: one
      // warcinfo per staged shard (4 pmod partitions), request+response
      // per doc, revisit per 10th doc; warcinfo carries no Target-URI
      raw"""WITH d AS (SELECT doc_id FROM documents)
            SELECT 'warcinfo' AS warc_type,
              CAST(count(DISTINCT doc_id % 4) AS BIGINT) AS n_records,
              CAST(0 AS BIGINT) AS n_with_url FROM d
            UNION ALL SELECT 'request', CAST(count(*) AS BIGINT),
              CAST(count(*) AS BIGINT) FROM d
            UNION ALL SELECT 'response', CAST(count(*) AS BIGINT),
              CAST(count(*) AS BIGINT) FROM d
            UNION ALL SELECT 'revisit',
              CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
              FROM d"""),

    // WAT-style sidecar → LINK GRAPH: the JSON metadata records (one
    // per doc, carrying url + raw outlink hrefs) are read back through
    // the tolerant source, parsed with from_json, and rolled into the
    // SAME domain-keyed link graph the HTML extraction path builds —
    // the query shares web_link_graph's oracle verbatim, so the sidecar
    // provably carries exactly the extraction (two wire formats, one
    // truth)
    Query("wat_link_graph", (s, dir) => {
      val staged = watStagedDir(s, dir)
      val schema = "url STRING, links ARRAY<STRING>"
      graft.sources.WarcSource.readAll(s, staged, splitBytes = 64L * 1024)
        .filter(col("warc_type") === "metadata")
        .select(from_json(decode(col("payload"), "UTF-8"),
          org.apache.spark.sql.types.StructType.fromDDL(schema)).as("__j"))
        .select(
          expr("CAST(substring_index(__j.url, '/', -1) AS BIGINT)")
            .as("doc_id"),
          explode(col("__j.links")).as("__href"))
        .select(col("doc_id"),
          graft.text.TextFunctions.urlNormalize(col("__href")).as("dst_url"))
        .select(col("doc_id"), col("dst_url"),
          regexp_extract(col("dst_url"), "^https://([^/?]*)", 1)
            .as("__host"))
        .select(col("doc_id"), col("dst_url"), col("__host"),
          graft.text.PublicSuffix.registrableDomain(col("__host"))
            .as("dst_domain"))
        .groupBy(col("dst_domain"))
        .agg(count(lit(1)).as("n_inlinks"),
          countDistinct(col("__host")).as("n_hosts"),
          countDistinct(col("dst_url")).as("n_urls"),
          min(col("doc_id")).as("first_src"))
    }, oracle =
      // the WAT sidecar must carry EXACTLY the HTML-derived edges: the
      // JSON metadata round trip shares the link graph's oracle, so a
      // serialization or parse slip breaks the hash even though the
      // wire format is entirely different
      WebLinkGraphSql),

    // robots.txt politeness gate over the crawl frontier: per-host
    // robots TEXT (with a host-varied extra rule) is PARSED by the
    // engine into a rules table, then every URL is judged by RFC 9309
    // longest-prefix-match with Allow winning ties and default-allow —
    // broadcast join + one verdict fold. The oracle derives the
    // expected verdicts INDEPENDENTLY from the residue arithmetic (it
    // never replays the parser), so a parse or ranking slip anywhere
    // hash-mismatches
    Query("url_robots_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(7L)).as("__h"),
          pmod(col("doc_id"), lit(5L)).as("__p"))
      val path = when(col("__p") === 0,
          concat(lit("/page/"), col("doc_id")))
        .when(col("__p") === 1, concat(lit("/private/p"), col("doc_id")))
        .when(col("__p") === 2,
          concat(lit("/private/pub/q"), col("doc_id")))
        .when(col("__p") === 3, concat(lit("/tmp/t"), col("doc_id")))
        .otherwise(lit("/"))
      val urls = docs.select(col("doc_id"),
        concat(lit("https://site"), col("__h"), lit(".com"), path)
          .as("url"))
      val robots = docs.select(col("__h")).distinct()
        .select(concat(lit("site"), col("__h"), lit(".com")).as("host"),
          concat(
            lit("User-agent: *\nDisallow: /private/\n" +
              "Allow: /private/pub/\nDisallow: /tmp/\n"),
            when(pmod(col("__h"), lit(2L)) === 0,
              lit("Disallow: /page/\n")).otherwise(lit("")))
            .as("robots_txt"))
      graft.text.Robots.filterUrls(urls, robots)
    }, oracle =
      // the robots verdicts derived INDEPENDENTLY from arithmetic: the
      // oracle states what RFC 9309 longest-match must decide for each
      // (path shape, host parity), without replaying the parser
      raw"""WITH u AS (SELECT doc_id,
              CAST(doc_id % 7 AS INTEGER) AS h,
              CAST(doc_id % 5 AS INTEGER) AS p FROM documents)
            SELECT doc_id,
              'https://site' || h || '.com' ||
                (CASE p WHEN 0 THEN '/page/' || doc_id
                  WHEN 1 THEN '/private/p' || doc_id
                  WHEN 2 THEN '/private/pub/q' || doc_id
                  WHEN 3 THEN '/tmp/t' || doc_id ELSE '/' END) AS url,
              CASE p WHEN 0 THEN (h % 2 = 1) WHEN 1 THEN false
                WHEN 2 THEN true WHEN 3 THEN false ELSE true
                END AS allowed,
              CASE p WHEN 0 THEN (CASE WHEN h % 2 = 0 THEN '/page/' END)
                WHEN 1 THEN '/private/' WHEN 2 THEN '/private/pub/'
                WHEN 3 THEN '/tmp/' ELSE NULL END AS matched_prefix
            FROM u"""),

    // Shard-health census over a crawl dir where one shard is
    // EOF-truncated (a crawler died mid-write, the most common damage
    // in a real crawl bucket): the tolerant walk counts every COMPLETE
    // member and reports the torn-tail offset instead of killing the
    // scan — while mid-file CRC damage still throws by name. The
    // oracle re-derives each shard's surviving record count from the
    // residue arithmetic (shard 1 loses exactly its final member)
    Query("warc_torn_survey", (s, dir) => {
      val staged = warcTornStagedDir(s, dir)
      graft.sources.WarcSource.tornSurvey(s, staged)
        .select(
          regexp_extract(col("path"), "part-(\\d+)", 1).cast("int")
            .as("shard"),
          col("n_members").as("n_records"),
          col("torn_offset").isNotNull.as("torn"))
    }, oracle =
      // the shard-health census replayed: residue-keyed shards, the
      // truncated one loses exactly its final (max-doc_id) member
      raw"""WITH r AS (SELECT CAST(doc_id % 4 AS INTEGER) AS shard,
              count(*) AS n FROM documents GROUP BY 1)
            SELECT shard,
              CAST(n - CASE WHEN shard = 1 THEN 1 ELSE 0 END AS BIGINT)
                AS n_records,
              (shard = 1) AS torn
            FROM r"""),

    // WET-style sidecar round trip: the funnel's extracted CONTENT text
    // written back as member-per-record `conversion` records (the
    // interchange shape the crawl ecosystem consumes) and re-read
    // through the splittable source; the digest compares md5/length per
    // doc against DuckDB's replay of the same content chain
    Query("fmt_wet_roundtrip", (s, dir) => {
      val staged = wetStagedDir(s, dir)
      graft.sources.WarcSource.readAll(s, staged, splitBytes = 64L * 1024)
        .filter(col("warc_type") === "conversion")
        .select(
          expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("warc_type"),
          length(col("payload")).cast("long").as("content_length"),
          md5(col("payload")).as("payload_md5"))
    }, oracle =
      // the WET digest replayed: the same block/boilerplate chain ends
      // in c(doc_id, ..., text); md5 + octet_length over ITS utf-8
      // bytes must equal what came back through the conversion records
      s"""$HtmlContentCtes
            SELECT doc_id, 'conversion' AS warc_type,
              CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
              md5(text) AS payload_md5
            FROM c"""),

    // Interchange-format round-trips (sources/Formats): export the corpus
    // as line-JSON / quote-all CSV / ORC shards and read it back with an
    // EXPLICIT schema (no inference scan), then fold to per-(source, lang)
    // content digests — row count, text byte sum, DISTINCT text-md5 count,
    // id sum. Matching the oracle computed from the parquet originals
    // proves byte-level fidelity of the whole write+read path; BOTH
    // directions run live per invocation (the export is the op)
    // WARC ingestion — the crawl-native container of web-scale training
    // data: documents staged ONCE per scale dir as member-per-record
    // .warc.gz shards (each record its own gzip member, written from
    // EXECUTORS — nothing corpus-scale touches the driver), then read
    // back through the real two-layer decode: per-member RFC 1952 walk
    // (header flags, raw-deflate inflate, CRC-32 + ISIZE verified) and
    // the strict WARC/1.0 record grammar. Member-per-record is what
    // makes a multi-GB crawl file SPLITTABLE — each record carries its
    // member's byte offset, the boundary a distributed reader hands the
    // next task (mid-file resume spec-pinned in WarcSpec). The oracle
    // re-derives every record from the documents table
    Query("fmt_warc_roundtrip", (s, dir) => {
      val staged = warcStagedDir(s, dir)
      // SPLITTABLE read (WarcSource): member-offset index built once per
      // staged dir, then one task per ~64 KiB member range — a production
      // 1 GB shard fans across ~8k tasks instead of ONE whole-blob task
      // holding the file on heap (64 KiB keeps the fan-out real at test
      // scale; production callers take the 128 MiB default)
      graft.sources.WarcSource.read(s, staged, splitBytes = 64L * 1024)
        .select(
          expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          octet_length(col("payload")).cast("long").as("content_length"),
          md5(col("payload")).as("payload_md5"), col("content_type"))
    }, oracle =
      // the round-trip digests must equal the same fold over the parquet
      // originals — one oracle body for all three formats
      // WARC round trip: every record field is an exact function of the
      // documents row — a reader that tore a member, skipped a record,
      // or mis-measured Content-Length hash-mismatches
      WarcRoundtripSql),

    // CONTINUOUS crawl ingestion — the manifest-stream shape a production
    // crawl runs (shard paths arrive on a queue as crawlers finish them):
    // a file-stream of manifest rows (one micro-batch per manifest file,
    // maxFilesPerTrigger=1) drains through foreachBatch, and each batch
    // decodes ONLY its newly-arrived shards via the splittable reader
    // (offset index built in-flight per batch — a batch's shards are
    // read once, so nothing persists). Stream ≡ batch: the oracle is
    // fmt_warc_roundtrip's, verbatim
    Query("warc_ingest_stream", (s, dir) => {
      val staged = warcStagedDir(s, dir)
      val manifest = warcManifestDirs.getOrElseUpdate(dir, {
        import s.implicits._
        val d = TempDirs.create("graft_warc_manifest")
        val shards = new java.io.File(staged).listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".warc.gz"))
          .map(_.getAbsolutePath).sorted.toSeq
        val batches = shards.grouped(2).toSeq
          .map(g => g.map(Tuple1(_)).toDF("path"))
        graft.streaming.StatefulSessions.stageOrderedFiles(s,
          java.nio.file.Paths.get(d), batches.head, batches.tail)
        d
      })
      val outDir = TempDirs.create("graft_warc_ingest")
      val ckpt = TempDirs.create("graft_warc_ingest_ck")
      val q = s.readStream.schema("path STRING")
        .option("maxFilesPerTrigger", 1).parquet(manifest)
        .writeStream
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          val paths = batch.collect().map(_.getString(0)).toSeq // shard list
          if (paths.nonEmpty)
            graft.sources.WarcSource.readFiles(s, paths, splitBytes = 64L * 1024)
              .select(
                expr("CAST(substring_index(url, '/', -1) AS BIGINT)")
                  .as("doc_id"),
                octet_length(col("payload")).cast("long").as("content_length"),
                md5(col("payload")).as("payload_md5"), col("content_type"))
              .write.mode("append").parquet(outDir)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
    }, streaming = true, oracle =
      // stream ≡ batch: the manifest drain must reproduce the batch
      // round-trip row for row
      WarcRoundtripSql),

    Query("fmt_jsonl_roundtrip", (s, dir) => {
      val out = TempDirs.create("graft_fmt_jsonl")
      graft.sources.Formats.writeJsonl(fmtCols(s, dir), out, shards = 8)
      fmtDigest(graft.sources.Formats.readJsonl(s, out, FmtDdl))
    }, oracle = FmtDigestSql),
    Query("fmt_csv_roundtrip", (s, dir) => {
      val out = TempDirs.create("graft_fmt_csv")
      graft.sources.Formats.writeCsv(fmtCols(s, dir), out, shards = 8)
      fmtDigest(graft.sources.Formats.readCsv(s, out, FmtDdl))
    }, oracle = FmtDigestSql),
    Query("fmt_orc_roundtrip", (s, dir) => {
      val out = TempDirs.create("graft_fmt_orc")
      graft.sources.Formats.writeOrc(fmtCols(s, dir), out, shards = 8)
      fmtDigest(graft.sources.Formats.readOrc(s, out, FmtDdl))
    }, oracle = FmtDigestSql)
  )
}
