package graft.queries

import graft.core._
import graft.incr._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What more than one query family reads: the input tables ([[t]],
  * [[sources]]), the flagship pipelines, notification-sized change
  * batches, the memoized bucketed stores, the staged WARC and HTML
  * fixtures, and the oracle SQL fragments several families share. A
  * helper that only one family uses lives in that family's file. */
object Inputs {
  import MrSchema.{Key, SourceId}

  /** One bucketed state store per (scale dir, query variant) — init writes
    * the recomputed state hash-bucketed once per process, exactly like a
    * production pipeline's cold start; every query invocation afterwards is
    * a live bucket-scoped batch (fresh batch ids, never the replay no-op). */
  val bucketedStores =
    scala.collection.concurrent.TrieMap.empty[String, BucketedStateStore]

  def bucketedStore(dir: String, variant: String, pipeline: Pipeline,
                    keepSnapshots: Int = 8)
                   (init: => IncrementalRun.Sources): BucketedStateStore =
    bucketedStores.getOrElseUpdate(s"$dir#$variant", {
      // 64 buckets: notification-sized batches (tens of keys) then touch a
      // strict subset of buckets, so the per-batch IO demonstrably scales
      // with the batch, not the state. At real scale size buckets to
      // ≥128 MB instead.
      val st = new BucketedStateStore(
        TempDirs.create(s"graft_incr_$variant"),
        numBuckets = 64, keepSnapshots = keepSnapshots)
      BucketedRun.initialize(pipeline, init, st)
      st
    })

  val tableCount = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** One batch of same-typed changes over `table` ids `≡ residue (mod mod)`
    * — a notification-queue-sized batch (tens of ids at sf0.1) built in
    * driver memory, the shape a notification poll hands the engine (the ids
    * arrive as messages; deriving them costs no table scan). Ids in the
    * driver-generated testdata are dense 0..N-1 (TESTDATA.md), so the id
    * set is arithmetic; N comes from one memoized metadata-only count. */
  def idBatch(s: SparkSession, dir: String, table: String, mod: Int,
              change: String, seqOffset: Long = 0L,
              residue: Long = 0L): Seq[Change] = {
    val n = tableCount.getOrElseUpdate(s"$dir/$table", t(s, dir, table).count())
    (residue to (n - 1) by mod.toLong)
      .map(k => Change(k + seqOffset, change, table, k.toString))
  }
  def ordersBatch(s: SparkSession, dir: String, mod: Int, change: String,
                  seqOffset: Long = 0L, residue: Long = 0L): Seq[Change] =
    idBatch(s, dir, "orders", mod, change, seqOffset, residue)

  /** Analyzed input-table handles, one per (session, dir, table).
    *
    * Contract: an input table directory (`$dir/$name.parquet`) is
    * immutable for the life of a session. Queries only read it, so the
    * ANALYZED handle — file listing + parquet footer schema inside its
    * InMemoryFileIndex / LogicalRelation — is shared per (session, dir,
    * table) instead of being re-listed and re-footer-read on every call
    * (guide §6: file listing / metadata is driver-side planning cost; at
    * sf0.1 it is a visible slice of the ~0.4 s per-query session floor, at
    * 100 TB it is the multi-second listing the
    * filesourcePartitionFileCacheSize knob exists for). A file added to
    * such a directory mid-session is not seen by that session; a new
    * session re-lists from disk. No DATA is cached or persisted: every
    * action still scans the parquet.
    *
    * Every lookup, hit or miss, first drops the handles of sessions that
    * `live` rejects, so a long multi-session run (the test suite) does not
    * pin stopped contexts and their plan trees. */
  final class TableHandles(live: SparkSession => Boolean) {
    private val handles = scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String, String), DataFrame]

    def apply(s: SparkSession, dir: String, name: String): DataFrame = {
      handles.keys.foreach(k => if (!live(k._1)) handles.remove(k))
      handles.getOrElseUpdate((s, dir, name), {
        val df = s.read.parquet(s"$dir/$name.parquet")
        if (name == "events") normalizeEventTs(df) else df
      })
    }

    /** The sessions that own at least one handle. */
    private[queries] def owners: Set[SparkSession] = handles.keySet.map(_._1).toSet
  }

  private val tableHandles = new TableHandles(!_.sparkContext.isStopped)

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    tableHandles(s, dir, name)

  /** events.ts contract: long ns since epoch. Early testdata wrote parquet
    * TIMESTAMP(NANOS), surfaced as long via nanosAsLong; later driver
    * generations write TIMESTAMP(MICROS), which that flag ignores — it
    * arrives as TIMESTAMP_NTZ and every ns-arithmetic query breaks.
    * ONE shared normalization (session tz is pinned UTC, so the NTZ cast
    * is exact) — the batch and streaming reads of the table must never
    * desynchronize on this again. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    if (df.schema.fields.exists(f => f.name == "ts" &&
        f.dataType != org.apache.spark.sql.types.LongType))
      df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000)
    else df

  /** lineitem has no single-column id; derive one for provenance. */
  def sources(s: SparkSession, dir: String): IncrementalRun.Sources = {
    case "lineitem" => t(s, dir, "lineitem")
      .withColumn("li_id", concat_ws("-", col("l_orderkey"), col("l_linenumber")))
    case n => t(s, dir, n)
  }

  // ---- pipelines (the reference's flagship config shapes) -----------------

  /** Two-source join materialization — the reference's `company_reports`
    * shape (README.rst:74-106, tests/test_mapreduce.py:128-195). */
  val joinPipeline = Pipeline(
    maps = Seq(
      MapSpec("customer", "co_map", 1, idCol = "c_custkey",
        fn = df => df.select(col("c_custkey").as(Key), col("c_name"),
          col("c_acctbal"), col("c_custkey"))),
      MapSpec("orders", "co_map", 1, idCol = "o_orderkey",
        fn = df => df.select(col("o_custkey").as(Key), col("o_totalprice"),
          col("o_orderkey")))),
    reduces = Seq(
      ReduceSpec("co_map", "customer_report", 1, JoinReduce(
        mapping = Map(
          "customer" -> Map("c_name" -> "customer_name", "c_acctbal" -> "acctbal"),
          "orders" -> Map("o_totalprice" -> "last_totalprice")),
        orderBy = SourceId))))

  /** Scalar-sum reduce over orders keyed by customer (A6/A8). */
  val ordersSumPipeline = Pipeline(
    maps = Seq(MapSpec("orders", "orders_map", 1, idCol = "o_orderkey",
      fn = MapFns.item("o_custkey", Some("o_totalprice"), idCol = "o_orderkey"))),
    reduces = Seq(ReduceSpec("orders_map", "orders_sum", 1, ExprReduce(sum))))
  /** Staged member-per-record .warc.gz shards, one set per scale dir. */
  val warcStageDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Stage (once per scale dir) the documents table as member-per-record
    * `.warc.gz` shards written from EXECUTORS — the crawl-native fixture
    * behind fmt_warc_roundtrip and dedup_url. */
  def warcStagedDir(s: SparkSession, dir: String): String =
    warcStageDirs.getOrElseUpdate(dir, {
      import s.implicits._
      val d = TempDirs.create("graft_warc")
      t(s, dir, "documents")
        .repartition(4, pmod(col("doc_id"), lit(4L)))
        .select(col("doc_id").cast("long"),
          encode(col("text"), "UTF-8").as("__b"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          val recs = it.map { case (id, b) =>
            (s"https://corpus.example/doc/$id", "2026-01-01T00:00:00Z",
              "text/plain", s"<urn:uuid:doc-$id>", b)
          }.toSeq
          if (recs.nonEmpty) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            java.nio.file.Files.write(
              java.nio.file.Paths.get(d, f"part-$pid%04d.warc.gz"),
              graft.sources.Warc.writeGz(recs))
          }
          Iterator.single(1)
        }.count()
      d
    })

  /** The deterministic MESSY-URL fixture: five spellings of the same
    * canonical page URL (plain, cased host + default port, tracking
    * params, fragment, unsorted params + tracking), keyed by
    * `doc_id % 401` so distinct docs collide on the canonical form —
    * what urlNormalize + dedup_url exist to collapse. Re-derived by the
    * oracle from the same arithmetic. */
  def messyUrl(docId: Column): Column = {
    val key = pmod(docId, lit(401L)).cast("string")
    val base = concat(lit("https://corpus.example/page/"), key)
    when(pmod(docId, lit(5L)) === 0, base)
      .when(pmod(docId, lit(5L)) === 1,
        concat(lit("HTTPS://Corpus.EXAMPLE:443/page/"), key))
      .when(pmod(docId, lit(5L)) === 2,
        concat(base, lit("?utm_source=feed&utm_campaign=x")))
      .when(pmod(docId, lit(5L)) === 3, concat(base, lit("#frag-2")))
      .otherwise(concat(base, lit("?b=2&a=1&utm_medium=m")))
  }

  /** The deterministic HTML page fixture shared by `text_html_extract`
    * and `pipeline_web` (and re-derived by their oracles): title,
    * style + script subtrees (the script carries a raw '<'), nav/footer
    * boilerplate, entity-escaped body. */
  def htmlPage(id: Column, text: Column): Column = {
    val esc = Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;")
      .foldLeft(text) { case (c, (f, t2)) => replace(c, lit(f), lit(t2)) }
    concat(
      lit("<html><head><title>Doc "), id.cast("string"),
      lit("</title><style type=\"text/css\">body { margin: 0; }</style>" +
        "<script>var n = 1 < 2 && 3 > 2;</script></head><body>" +
        "<nav>Home | <a href=\"/about\">About</a></nav><p>"),
      esc,
      lit("</p><footer>&copy; corpus &amp; co.</footer></body></html>"))
  }

  /** DuckDB CTE chain re-deriving [[htmlPage]] + the htmlExtract clean
    * over `documents`, ending in a relation `c(doc_id, text)` whose
    * `text` column is the CLEANED text — named `text` so downstream
    * oracle fragments (langHits/quality) apply unchanged. */
  val HtmlPageCtes: String =
    raw"""h AS (SELECT doc_id,
          '<html><head><title>Doc ' || doc_id ||
          '</title><style type="text/css">body { margin: 0; }</style>' ||
          '<script>var n = 1 < 2 && 3 > 2;</script></head><body>' ||
          '<nav>Home | <a href="/about">About</a></nav><p>' ||
          replace(replace(replace(text,
            '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
          '</p><footer>&copy; corpus &amp; co.</footer></body></html>'
          AS html FROM documents),
        s1 AS (SELECT doc_id, regexp_replace(html,
          '(?s)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        s2 AS (SELECT doc_id, regexp_replace(t,
          '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1)"""

  /** DuckDB CTE chain re-deriving the messy-URL fixture + the
    * TextFunctions.urlNormalize parse/fold/sort, ending in
    * `un(doc_id, url, url_norm)`. */
  val UrlNormCtes: String =
    raw"""WITH u AS (SELECT doc_id, CASE CAST(doc_id % 5 AS INTEGER)
          WHEN 0 THEN 'https://corpus.example/page/' || (doc_id % 401)
          WHEN 1 THEN 'HTTPS://Corpus.EXAMPLE:443/page/' || (doc_id % 401)
          WHEN 2 THEN 'https://corpus.example/page/' || (doc_id % 401)
            || '?utm_source=feed&utm_campaign=x'
          WHEN 3 THEN 'https://corpus.example/page/' || (doc_id % 401)
            || '#frag-2'
          ELSE 'https://corpus.example/page/' || (doc_id % 401)
            || '?b=2&a=1&utm_medium=m' END AS url FROM documents),
        n1 AS (SELECT doc_id, url,
          regexp_replace(url, '#.*', '', 'g') AS nofrag FROM u),
        n2 AS (SELECT *, lower(regexp_extract(nofrag,
            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '')
            AS rest FROM n1),
        n3 AS (SELECT *, CASE
            WHEN scheme = 'http' THEN regexp_replace(
              lower(regexp_extract(rest, '^([^/?]*)', 1)), ':80$$', '')
            WHEN scheme = 'https' THEN regexp_replace(
              lower(regexp_extract(rest, '^([^/?]*)', 1)), ':443$$', '')
            ELSE lower(regexp_extract(rest, '^([^/?]*)', 1)) END AS host,
          regexp_replace(rest, '^[^/?]*', '') AS pathq FROM n2),
        n4 AS (SELECT *, CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = ''
            THEN '/' ELSE regexp_extract(pathq, '^([^?]*)', 1) END AS path,
          regexp_extract(pathq, '^[^?]*\?(.*)$$', 1) AS query FROM n3),
        n5 AS (SELECT *, coalesce(array_to_string(list_sort(list_filter(
            string_split(query, '&'), p -> p <> '' AND NOT regexp_matches(p,
              '^(utm_[^=]*|fbclid|gclid)(=|$$)'))), '&'), '') AS qs FROM n4),
        un AS (SELECT doc_id, url, CASE WHEN scheme = '' THEN nofrag
          ELSE scheme || '://' || host || path ||
            (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) END AS url_norm
          FROM n5)"""

  /** One block's clean chain as a SQL fragment over expression `x`:
    * entity decode (&amp; LAST) + explicit-class whitespace collapse —
    * the exact [[graft.text.TextFunctions]] cleanFragment order. */
  def htmlSqlClean(x: String): String =
    raw"""trim(regexp_replace(replace(replace(replace(replace(replace(
         $x,
         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         '&amp;', '&'), '[ \t\n\r\f]+', ' ', 'g'))"""

  /** DuckDB CTE chain re-deriving the BLOCK classification
    * (TextFunctions.htmlBlocks + isContentBlock + htmlContentText):
    * split at block tags, clean each block, pair with its link text,
    * drop empties, classify by length + integer link density. Ends in
    * `c(doc_id, n_blocks, n_boiler, text)` with `text` = the kept
    * blocks joined, so langHits/quality fragments apply unchanged. */
  val HtmlContentCtes: String =
    raw"""WITH $HtmlPageCtes,
        bl AS (SELECT doc_id, string_split_regex(t,
          '(?i)</?(?:p|div|nav|footer|header|h[1-6]|li|ul|ol|table|title|head|body|html)[^>]*>')
          AS blocks FROM s2),
        cb AS (SELECT doc_id, list_filter(list_transform(blocks,
          x -> struct_pack(
            clean := ${htmlSqlClean("regexp_replace(x, '<[^>]*>', ' ', 'g')")},
            link := ${htmlSqlClean(
              "coalesce(array_to_string(regexp_extract_all(x, '(?i)<a[^>]*>([^<]*)</a>', 1), ' '), '')")})),
          s -> s.clean <> '') AS bs FROM bl),
        kp AS (SELECT doc_id, bs, list_filter(bs,
          s -> length(s.clean) >= 25 AND 10 * length(s.link) <= 3 * length(s.clean))
          AS keep FROM cb),
        c AS (SELECT doc_id, len(bs) AS n_blocks,
          len(bs) - len(keep) AS n_boiler,
          coalesce(array_to_string(list_transform(keep, s -> s.clean), ' '),
            '') AS text FROM kp)"""

  /** Unigram-LM piece inventory per scale dir — train once, encode many. */
  val unigramModelCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[graft.text.Unigram.Piece]]
  def unigramModel(s: SparkSession, dir: String): Seq[graft.text.Unigram.Piece] =
    unigramModelCache.getOrElseUpdate(dir,
      graft.text.Unigram.learn(t(s, dir, "documents"), "text", vocabMulti = 64))

  /** The HLL estimator CTEs over an arbitrary `(group?, h)` source select —
    * `h0Select` must yield an md5 digest column `h` (and the group column
    * when `groupCol` is set). */
  def hllOracleSqlOver(h0Select: String, groupCol: Option[String]): String = {
    val nibAt = (src: String, k: String) =>
      s"(strpos('0123456789abcdef', substr($src, $k, 1)) - 1)::BIGINT"
    val grp = groupCol.map(_ + ", ").getOrElse("")
    val grpBy = groupCol.map("GROUP BY " + _).getOrElse("")
    val grpBy12 = if (groupCol.isDefined) "GROUP BY 1, 2" else "GROUP BY 1"
    s"""WITH h0 AS ($h0Select),
        rr AS (SELECT $grp
            ${nibAt("h", "1")} * 16 + ${nibAt("h", "2")} AS reg,
            8 - length(ltrim(substr(h, 3, 8), '0')) AS zn,
            (strpos('0123456789abcdef', substr(substr(h, 3, 8),
              (8 - length(ltrim(substr(h, 3, 8), '0'))) + 1, 1)) - 1) AS nib
          FROM h0),
        rho AS (SELECT ${grp}reg,
            CASE WHEN zn = 8 THEN 33 ELSE zn * 4 + 1 +
              CASE WHEN nib >= 8 THEN 0 WHEN nib >= 4 THEN 1
                   WHEN nib >= 2 THEN 2 ELSE 3 END END AS rho
          FROM rr),
        regs AS (SELECT ${grp}reg, max(rho) AS mx FROM rho $grpBy12),
        agg AS (SELECT ${grp}count(*) AS n_set,
            sum(1::BIGINT << (33 - mx)) AS isum FROM regs $grpBy),
        raw AS (SELECT ${grp}n_set,
            (0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * 8589934592.0) /
              CAST(isum + (256 - n_set)::BIGINT * (1::BIGINT << 33) AS DOUBLE)
              AS raw
          FROM agg)
        SELECT ${grp}n_set,
          round(CASE WHEN raw <= 640.0 AND (256 - n_set) > 0
            THEN 256.0 * ln(256.0 / (256 - n_set))
            ELSE raw END, 4) AS est_distinct
        FROM raw"""
  }

  // lightweight-coreset CTE chain (quantized mean, integer micro-unit
  // costs, exact HUGEINT draw, div-truncated nano weights) — shared by
  // sample_coreset and the coreset-trained k-means
  val coresetCtes = {
    val sim =
      """CASE WHEN e.vn * c.cn = 0 THEN 0.0
           ELSE list_reduce(list_transform(range(64),
             j -> e.v[j+1] * c.cv[j+1]), (a, b) -> a + b)
             / (e.vn * c.cn) END"""
    def hx(src: String, i: Int) =
      s"(strpos('0123456789abcdef', substr($src, $i, 1)) - 1)"
    val h = "md5('coreset:' || vec_id)"
    val u20 =
      s"((((${hx(h, 1)} * 16 + ${hx(h, 2)}) * 16 + ${hx(h, 3)}) * 16" +
        s" + ${hx(h, 4)}) * 16 + ${hx(h, 5)})"
    s"""e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
            sqrt(list_reduce(list_transform(embedding::DOUBLE[],
              x -> x * x), (a, b) -> a + b)) AS vn
            FROM embeddings),
          ex AS (SELECT vec_id, unnest(v) AS x,
            generate_subscripts(v, 1) AS i FROM e),
          mu AS (SELECT i, round(avg(x), 6) AS m FROM ex GROUP BY 1),
          muv AS (SELECT list(m ORDER BY i) AS cv,
            sqrt(list_reduce(list_transform(list(m ORDER BY i),
              x -> x * x), (a, b) -> a + b)) AS cn FROM mu),
          k AS MATERIALIZED (SELECT e.vec_id,
            CAST(greatest(0, floor((1.0 - $sim) * 1000000.0)) AS BIGINT)
              AS cost
            FROM e CROSS JOIN muv c),
          agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(coalesce(sum(cost), 0) AS BIGINT) AS phi FROM k),
          cw AS MATERIALIZED (SELECT vec_id,
            CASE WHEN phi = 0
              THEN CAST((n::HUGEINT * 1000000000) // 64 AS BIGINT)
              ELSE CAST((2::HUGEINT * n * phi * 1000000000)
                // (64::HUGEINT * (phi + n * cost)) AS BIGINT)
            END AS weight_nano
            FROM k CROSS JOIN agg
            WHERE CASE WHEN phi = 0
              THEN $u20::HUGEINT * n < 64::HUGEINT * 1048576
              ELSE $u20::HUGEINT * (2::HUGEINT * n * phi)
                < 64::HUGEINT * (phi + n * cost) * 1048576 END)"""
  }
  // shared DuckDB snippets replicating TextFunctions' tokenization
  val toks = raw"string_split_regex(trim(lower(text)), '\s+')"
  // Unigram-LM tokenizer replay — shared by text_unigram_vocab and
  // text_unigram_encode (mirrors graft.text.Unigram exactly): piece
  // inventory = all length-1..4 substrings of the word table weighted
  // by word count; vocab = ALL singles + top-64 multis (cnt DESC,
  // piece); cost = 1000000000 + rank (Unigram.CostBase). Segmentation
  // cost per DISTINCT word
  // via 8 Bellman-Ford relaxation rounds (max word length at the oracle
  // scale is 8; each round extends best-known costs by one piece), the
  // SQL twin of the Scala Viterbi DP — the converged minimum cost is a
  // unique integer, so tie-breaks never surface.
  val uniTrainCtes =
    raw"""utk AS (SELECT unnest($toks) AS w FROM documents),
          uwc AS MATERIALIZED (SELECT w, count(*)::BIGINT AS cnt
            FROM utk WHERE len(w) > 0 GROUP BY 1),
          upc AS MATERIALIZED (SELECT piece, sum(cnt)::BIGINT AS cnt FROM (
            SELECT cnt, unnest(flatten(list_transform(range(1, len(w) + 1),
              s -> list_transform(range(1, least(4, len(w) - s + 1) + 1),
                l -> substr(w, s::INT, l::INT))))) AS piece
            FROM uwc) GROUP BY 1),
          uvoc AS MATERIALIZED (SELECT piece, cnt,
            row_number() OVER (ORDER BY cnt DESC, piece) AS rank,
            1000000000 + row_number() OVER (ORDER BY cnt DESC, piece) AS cost
            FROM (SELECT piece, cnt FROM upc WHERE len(piece) = 1
                  UNION ALL
                  SELECT piece, cnt FROM
                    (SELECT piece, cnt FROM upc WHERE len(piece) >= 2
                     ORDER BY cnt DESC, piece LIMIT 64)))"""
  // Greedy token-ID replay — the [[text_wordpiece_encode]] walk
  // accumulating the rank LISTS instead of counts (shared by
  // text_greedy_ids and pack_token_ids): at each active (w, pos) the
  // longest matching piece is a UNIQUE string (one substring per
  // length), so arg_max(rank, len) is deterministic; terminal rows pass
  // through, non-termination errors loudly like uwe/uge
  val greedyIdsCtes = {
    val round = (t: Int) =>
      s"""ugi$t AS MATERIALIZED (
              SELECT w, pos, ids FROM ugi${t - 1} WHERE pos >= len(w)
              UNION ALL
              SELECT s.w AS w, s.pos + s.l AS pos,
                list_append(b.ids, s.rank) AS ids
              FROM (SELECT b.w AS w, b.pos AS pos,
                      max(len(v.piece)) AS l,
                      arg_max(v.rank, len(v.piece)) AS rank
                    FROM ugi${t - 1} b JOIN uvoc v
                      ON b.pos + len(v.piece) <= len(b.w)
                     AND substr(b.w, (b.pos + 1)::INT, len(v.piece)::INT)
                       = v.piece
                    WHERE b.pos < len(b.w)
                    GROUP BY 1, 2) s
              JOIN ugi${t - 1} b ON b.w = s.w AND b.pos = s.pos)"""
    raw"""$uniTrainCtes,
          ugi0 AS (SELECT w, 0 AS pos, []::BIGINT[] AS ids
            FROM (SELECT DISTINCT w FROM utk)),
          ${(1 to 8).map(round).mkString(",\n")},
          ugid AS (
            SELECT dw.w AS w,
              CASE WHEN g.ids IS NULL THEN error('greedy id replay: word "'
                || dw.w || '" did not terminate in 8 rounds')
              ELSE g.ids END AS ids
            FROM (SELECT DISTINCT w FROM utk) dw
            LEFT JOIN (SELECT w, ids FROM ugi8 WHERE pos >= len(w)) g
              ON g.w = dw.w),
          dtok AS (SELECT doc_id, $toks AS l FROM documents),
          udw AS (SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
              i -> {'pos': i, 'w': l[i::INT]})) AS t FROM dtok),
          docids AS (SELECT u.doc_id AS doc_id,
              flatten(list(g.ids ORDER BY u.pos)) AS ids
            FROM (SELECT doc_id, t.pos AS pos, t.w AS w FROM udw) u
            JOIN ugid g ON g.w = u.w
            GROUP BY 1)"""
  }
  val shingles =
    raw"""CASE WHEN len($toks) < 3 THEN [array_to_string($toks, ' ')]
            ELSE list_distinct(list_transform(range(len($toks) - 2),
              i -> $toks[i+1] || ' ' || $toks[i+2] || ' ' || $toks[i+3])) END"""
  val langMarkers = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "zh" -> Seq("的", "是", "了", "在", "我"))
  def langHits(code: String) = {
    val lst = langMarkers(code).map(w => s"'$w'").mkString(", ")
    s"len(list_filter($toks, t -> t IN ($lst)))"
  }
  // the UNROUNDED quality score (TextFunctions.qualityScore's exact
  // term order, so the summed doubles are bit-identical across engines)
  val qualityExpr =
    s"""(CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 0.4 ELSE 0.0 END) +
          (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
             ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
               / length(text) END) < 0.2 THEN 0.2 ELSE 0.0 END) +
          (CASE WHEN (CASE WHEN length(trim(text)) = 0 OR len($toks) = 0 THEN 0.0
             ELSE list_sum(list_transform($toks, t -> length(t)))::DOUBLE / len($toks) END)
             BETWEEN 2.0 AND 12.0 THEN 0.2 ELSE 0.0 END) +
          (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0.0
             ELSE len(list_filter($toks, t -> t IN ('the','a','of','and','is','to','in')))::DOUBLE
               / len($toks) END) > 0.01 THEN 0.2 ELSE 0.0 END)"""
}
