package graft.queries

import graft.core._
import graft.text.TextFunctions
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Probabilistic sketches: HyperLogLog, count-min, heavy hitters and
  * their incremental and streamed forms. */
object SketchQueries {
  import Inputs._

  private val hllStores = scala.collection.concurrent.TrieMap.empty[String, String]
  private val cmsStreamStores = scala.collection.concurrent.TrieMap.empty[String, String]

  /** The HLL oracle, shared by the per-source sketch and the global merge
    * (register-wise max merge ≡ the direct global sketch — so the merge
    * oracle IS the direct computation, which is exactly the claim). */
  private def hllOracleSql(perSource: Boolean): String =
    hllOracleSqlOver(
      "SELECT source, md5('graft-hll:' || text) AS h FROM documents WHERE text IS NOT NULL",
      if (perSource) Some("source") else None)

  // Oracle of sketch_freq_cms and sketch_cms_stream: the streamed CMS
  // drain must equal the one-shot build, so they share one oracle.
  // Sketches.cmsSketch/cmsEstimate: 4 salted md5 rows, column = hex
  // nibbles 6-8 mod 1024 (the DSIR bucket identity), estimate = min
  // over rows with absent cells as 0
  private val CmsOracleSql: String = {
    val nibAt = (src: String, k: String) =>
      s"(strpos('0123456789abcdef', substr($src, $k, 1)) - 1)::BIGINT"
    // column from the salted digest aliased `h` in the enclosing select
    val colOfH =
      s"(${nibAt("h", "6")} * 256 + ${nibAt("h", "7")} * 16 + " +
        s"${nibAt("h", "8")}) % 1024"
    raw"""WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)),
                  '\s+')) AS tok FROM documents),
              rs AS (SELECT unnest(range(4)) AS r),
              rc AS (SELECT r, $colOfH AS c FROM (
                  SELECT r, md5('graft-cms:' || r || ':' || tok) AS h
                  FROM t CROSS JOIN rs)),
              cells AS (SELECT r, c, count(*) AS cnt FROM rc GROUP BY 1, 2),
              probes AS (SELECT unnest(['fast','table','scan','join','merge',
                  'the','zzz_unseen']) AS term),
              pc AS (SELECT term, r, $colOfH AS c FROM (
                  SELECT term, r, md5('graft-cms:' || r || ':' || term) AS h
                  FROM probes CROSS JOIN rs)),
              est AS (SELECT term, min(coalesce(cnt, 0)) AS est_cnt
                FROM pc LEFT JOIN cells USING (r, c) GROUP BY 1),
              tru AS (SELECT term, count(*) AS cnt FROM t
                JOIN probes ON tok = term GROUP BY 1)
            SELECT probes.term, coalesce(tru.cnt, 0) AS cnt, est.est_cnt
            FROM probes LEFT JOIN tru USING (term) JOIN est USING (term)"""
  }

  val all: Seq[Query] = Seq(
    // MERGEABLE equi-width histogram sketch: 64 fixed bins over the
    // token-count domain (width 16, overflow clamps to the last bin) —
    // all-integer cells, so per-shard histograms merge into the global one
    // by plain addition (SketchesSpec pins the merge identity; the
    // quantile-from-histogram estimate is a deterministic interpolation
    // over those integers). Map-side partial agg: ≤ sources×64 rows shuffle
    Query("sketch_histogram", (s, dir) => {
      val ntok = TextFunctions.tokenCount(col("text")).cast("long")
      t(s, dir, "documents")
        .select(col("source"),
          least((ntok / 16).cast("long"), lit(63L)).cast("int").as("bin"))
        .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("cnt"))
    }, oracle =
      raw"""WITH d AS (SELECT source,
              CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tok
              FROM documents)
            SELECT source, CAST(least(n_tok // 16, 63) AS INTEGER) AS bin,
              count(*) AS cnt
            FROM d GROUP BY 1, 2"""),

    // KMV sketch MERGE: per-source bottom-k draw sets fold into the global
    // estimate exactly (the distributed-aggregate property; the oracle
    // computes the direct global sketch — merged must equal it)
    Query("sketch_kmv_merge", (s, dir) =>
      graft.text.Sketches.kmvMerge(t(s, dir, "documents"), "source",
        col("text"), k = 64), oracle =
      // the DIRECT global sketch: merged-per-source must equal it exactly
      {
        val nib = (k: Int) =>
          s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)::BIGINT"
        val u32 = (1 to 8).map(k => s"${nib(k)} * ${1L << (4 * (8 - k))}")
          .mkString(" + ")
        s"""WITH h0 AS (SELECT md5('graft-kmv:' || text) AS h FROM documents),
            d AS (SELECT DISTINCT ($u32) / 4294967296.0 AS u FROM h0),
            r AS (SELECT u, row_number() OVER (ORDER BY u) AS rn FROM d)
            SELECT count(*) AS n_kept,
              round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                ELSE 63.0 / max(u) END, 4) AS est_distinct
            FROM r WHERE rn <= 64"""
      }),

    // KMV distinct-count sketch: per-source distinct-text cardinality from
    // a 64-draw sketch — the mergeable k-row answer that replaces COUNT
    // (DISTINCT) full shuffles at corpus scale. Deterministic md5 draws, so
    // the estimate (false error and all) is hash-checked by the oracle
    Query("sketch_distinct_kmv", (s, dir) =>
      graft.text.Sketches.kmvDistinct(t(s, dir, "documents"),
        "source", col("text"), k = 64), oracle = {
      // Sketches.kmvDistinct: k=64 minimum md5-uniform draws over
      // DISTINCT texts per source; estimator (k-1)/u_k, exact below k
      val nib = (k: Int) =>
        s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)::BIGINT"
      val u32 = (1 to 8).map(k => s"${nib(k)} * ${1L << (4 * (8 - k))}")
        .mkString(" + ")
      s"""WITH h0 AS (SELECT source, md5('graft-kmv:' || text) AS h FROM documents),
            d AS (SELECT DISTINCT source, ($u32) / 4294967296.0 AS u FROM h0),
            r AS (SELECT source, u,
                row_number() OVER (PARTITION BY source ORDER BY u) AS rn FROM d)
            SELECT source, count(*) AS n_kept,
              round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                ELSE 63.0 / max(u) END, 4) AS est_distinct
            FROM r WHERE rn <= 64 GROUP BY source"""
    }),

    // Theta-sketch set algebra: pairwise source-overlap estimates
    // (intersection / union / Jaccard) computed ENTIRELY from the k-row
    // KMV sketches — the scale path for corpus_source_overlap's exact
    // key join: at 100 TB the sketches are one map-side WindowGroupLimit
    // pass, and every pairwise estimate below touches k×sources control
    // rows. Deterministic md5 draws, so estimates hash-check exactly
    Query("sketch_kmv_intersect", (s, dir) =>
      graft.text.Sketches.kmvIntersect(t(s, dir, "documents"),
        "source", col("text"), k = 64), oracle =
      // Sketches.kmvIntersect: theta-style set algebra over the same
      // 64-draw sketches — θ = kth draw (1.0 when exhaustive), pair θ =
      // min, intersection |common u ≤ θ| / θ, union from the re-merged
      // bottom-64; Jaccard divides the UNROUNDED estimates
      {
        val nib = (k: Int) =>
          s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)::BIGINT"
        val u32 = (1 to 8).map(k => s"${nib(k)} * ${1L << (4 * (8 - k))}")
          .mkString(" + ")
        s"""WITH h0 AS (SELECT source, md5('graft-kmv:' || text) AS h FROM documents),
            d AS (SELECT DISTINCT source, ($u32) / 4294967296.0 AS u FROM h0),
            r AS (SELECT source, u,
                row_number() OVER (PARTITION BY source ORDER BY u) AS rn FROM d),
            sk AS (SELECT source, u FROM r WHERE rn <= 64),
            st AS (SELECT source, count(*) AS n_kept, max(u) AS uk
                FROM sk GROUP BY source),
            stt AS (SELECT source,
                CASE WHEN n_kept < 64 THEN 1.0 ELSE uk END AS theta FROM st),
            pr AS (SELECT a.source AS src_a, b.source AS src_b,
                LEAST(a.theta, b.theta) AS th
                FROM stt a, stt b WHERE a.source < b.source),
            cm AS (SELECT x.source AS src_a, y.source AS src_b, x.u
                FROM sk x JOIN sk y ON x.u = y.u AND x.source < y.source),
            cj AS (SELECT pr.src_a, pr.src_b, pr.th, count(cm.u) AS n_common
                FROM pr LEFT JOIN cm ON cm.src_a = pr.src_a
                  AND cm.src_b = pr.src_b AND cm.u <= pr.th
                GROUP BY 1, 2, 3),
            un AS (SELECT DISTINCT pr.src_a, pr.src_b, sk.u
                FROM pr JOIN sk ON sk.source = pr.src_a OR sk.source = pr.src_b),
            ur AS (SELECT src_a, src_b, u, row_number()
                OVER (PARTITION BY src_a, src_b ORDER BY u) AS rn FROM un),
            ug AS (SELECT src_a, src_b, count(*) AS n_u, max(u) AS uku
                FROM ur WHERE rn <= 64 GROUP BY 1, 2),
            ue AS (SELECT src_a, src_b,
                CASE WHEN n_u < 64 THEN n_u::DOUBLE ELSE 63.0 / uku END AS eu
                FROM ug),
            nax AS (SELECT pr.src_a, pr.src_b, count(*)::BIGINT AS na
                FROM pr JOIN sk ON sk.source = pr.src_a AND sk.u <= pr.th
                GROUP BY 1, 2),
            nbx AS (SELECT pr.src_a, pr.src_b, count(*)::BIGINT AS nb
                FROM pr JOIN sk ON sk.source = pr.src_b AND sk.u <= pr.th
                GROUP BY 1, 2)
            SELECT cj.src_a, cj.src_b, cj.n_common::BIGINT AS n_common,
              round(CASE WHEN cj.th < 1.0 THEN cj.n_common / cj.th
                ELSE cj.n_common::DOUBLE END, 4) AS est_intersect,
              round(ue.eu, 4) AS est_union,
              round((CASE WHEN cj.th < 1.0 THEN cj.n_common / cj.th
                ELSE cj.n_common::DOUBLE END) / ue.eu, 4) AS est_jaccard,
              round(CASE WHEN cj.th < 1.0
                THEN (coalesce(nax.na, 0) - cj.n_common) / cj.th
                ELSE (coalesce(nax.na, 0) - cj.n_common)::DOUBLE END, 4)
                AS est_only_a,
              round(CASE WHEN cj.th < 1.0
                THEN (coalesce(nbx.nb, 0) - cj.n_common) / cj.th
                ELSE (coalesce(nbx.nb, 0) - cj.n_common)::DOUBLE END, 4)
                AS est_only_b
            FROM cj JOIN ue ON cj.src_a = ue.src_a AND cj.src_b = ue.src_b
            LEFT JOIN nax ON cj.src_a = nax.src_a AND cj.src_b = nax.src_b
            LEFT JOIN nbx ON cj.src_a = nbx.src_a AND cj.src_b = nbx.src_b"""
      }),

    // Mergeable bottom-k quantile sketch: each source keeps its 64
    // smallest md5-uniform draws (a deterministic uniform doc sample);
    // p50/p90 of n_chars are EXACT order statistics over the sample —
    // integer picks, no interpolation (engines disagree on interpolated
    // quantiles). Rank-≤-k compiles to a map-side WindowGroupLimit.
    Query("sketch_quantile_bottomk", (s, dir) =>
      graft.text.Sketches.bottomKQuantiles(t(s, dir, "documents"),
        "source", col("n_chars"), "doc_id", k = 64), oracle =
      // Sketches.bottomKQuantiles: 64 smallest md5-uniform draws per
      // source, quantiles as exact order statistics with pure-integer
      // ceil indices ((n+1)//2, (9n+9)//10 — FP ceil(0.9n) sits on
      // rounding boundaries); DuckDB lists are 1-based like element_at
      {
        val nib = (k: Int) =>
          s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)::BIGINT"
        val u32 = (1 to 8).map(k => s"${nib(k)} * ${1L << (4 * (8 - k))}")
          .mkString(" + ")
        s"""WITH d0 AS (SELECT source, n_chars::BIGINT AS v,
                doc_id::VARCHAR AS id,
                md5('graft-quant:' || doc_id::VARCHAR) AS h FROM documents),
            d AS (SELECT source, v, id, ($u32) / 4294967296.0 AS u FROM d0),
            r AS (SELECT source, v,
                row_number() OVER (PARTITION BY source ORDER BY u, id) AS rn
                FROM d),
            g AS (SELECT source, count(*) AS n_sample, list_sort(list(v)) AS vs
                FROM r WHERE rn <= 64 GROUP BY source)
            SELECT source, n_sample,
              vs[((n_sample + 1) // 2)::INT] AS p50,
              vs[((n_sample * 9 + 9) // 10)::INT] AS p90
            FROM g"""
      }),

    // The merge path: global p50/p90 by re-taking the global bottom-k
    // from the per-source samples — per-shard sketches fold into the
    // exact global sample without a rescan (the KMV merge property)
    Query("sketch_quantile_merge", (s, dir) =>
      graft.text.Sketches.bottomKQuantilesMerged(t(s, dir, "documents"),
        "source", col("n_chars"), "doc_id", k = 64), oracle =
      // the merged sketch must equal the sketch over the whole table:
      // global bottom-64 of the per-source bottom-64s = global bottom-64
      {
        val nib = (k: Int) =>
          s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)::BIGINT"
        val u32 = (1 to 8).map(k => s"${nib(k)} * ${1L << (4 * (8 - k))}")
          .mkString(" + ")
        s"""WITH d0 AS (SELECT n_chars::BIGINT AS v, doc_id::VARCHAR AS id,
                md5('graft-quant:' || doc_id::VARCHAR) AS h FROM documents),
            d AS (SELECT v, id, ($u32) / 4294967296.0 AS u FROM d0),
            r AS (SELECT v, row_number() OVER (ORDER BY u, id) AS rn FROM d),
            g AS (SELECT count(*) AS n_sample, list_sort(list(v)) AS vs
                FROM r WHERE rn <= 64)
            SELECT n_sample,
              vs[((n_sample + 1) // 2)::INT] AS p50,
              vs[((n_sample * 9 + 9) // 10)::INT] AS p90
            FROM g"""
      }),

    // HyperLogLog distinct-count sketch: per-source cardinality from 256
    // md5-derived registers — unlike KMV it needs NO distinct pass (HLL is
    // multiplicity-insensitive) and its shuffle is capped at 256 rows per
    // group per task. Exact-integer register algebra end to end, so the
    // estimate hash-checks against the oracle, bias and all
    Query("sketch_distinct_hll", (s, dir) =>
      graft.text.Sketches.hllDistinct(t(s, dir, "documents"),
        "source", col("text")), oracle =
      // Sketches.hllDistinct / hllMerge: 256 md5 registers, rho from hex
      // nibbles (ltrim counts zero nibbles, a 4-way CASE the bits inside
      // the first non-zero one), integer 2^(33-rho) harmonic sum, linear
      // counting below 2.5m — the merge is register-wise max, which must
      // equal the direct global sketch computed here
      hllOracleSql(perSource = true)),

    // Count-min frequency sketch: 4×1024 md5 counters over the token
    // stream, probed for a fixed term set next to the exact counts — the
    // mergeable point-frequency answer (est ≥ true always, bounded
    // overestimate) that replaces a full vocabulary count at corpus scale.
    // Deterministic cells, so estimates hash-check, collisions and all
    Query("sketch_freq_cms", (s, dir) => {
      import s.implicits._
      val toks = graft.ops.Caches.track(t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok")))
      val sketch = graft.text.Sketches.cmsSketch(toks, col("tok"))
      val probes = Seq("fast", "table", "scan", "join", "merge", "the",
        "zzz_unseen").toDF("term")
      val est = graft.text.Sketches.cmsEstimate(sketch, probes, "term")
      val tru = toks.join(broadcast(probes), col("tok") === col("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      est.join(tru, Seq("term"), "left")
        .select(col("term"), coalesce(col("cnt"), lit(0L)).as("cnt"), col("est_cnt"))
    }, oracle = CmsOracleSql),

    // INCREMENTAL HLL maintenance: the register table is the persisted
    // state; a new-document batch sketches ONLY its own rows and merges by
    // register-wise max — nothing already sketched is ever rescanned, the
    // exact shape a 100 TB rolling-cardinality job takes. Bootstrap (2/3
    // of the corpus → parquet state, once per process) + live 1/3 batch;
    // maintained must equal the direct full-corpus sketch (same oracle as
    // sketch_distinct_hll)
    Query("sketch_hll_incr", (s, dir) => {
      val stateDir = hllStores.getOrElseUpdate(dir, {
        val d = TempDirs.create("graft_hll")
        graft.text.Sketches.hllSketch(
            t(s, dir, "documents").filter(col("doc_id") % 3 =!= 0),
            Seq(col("source")), col("text"))
          .write.mode("overwrite").parquet(d)
        d
      })
      val batch = graft.text.Sketches.hllSketch(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0),
        Seq(col("source")), col("text"))
      val merged = s.read.parquet(stateDir).unionByName(batch)
        .groupBy(col("source"), col("__reg")).agg(max(col("__mx")).as("__mx"))
      graft.text.Sketches.hllFold(merged, Seq(col("source")))
    }, oracle =
      // maintained-registers == direct-sketch: identical oracle by design
      hllOracleSql(perSource = true)),

    // STREAM-MAINTAINED CMS: the counter table folded forward by a real
    // readStream (one parquet file per micro-batch) — each batch sketches
    // only its own rows and ADDS cell-wise into the durable state under
    // foreachBatch, the additive twin of sketch_hll_incr's max-merge.
    // Drained counts must equal the direct one-shot build, so this shares
    // sketch_freq_cms's exact oracle (collisions and all)
    Query("sketch_cms_stream", (s, dir) => {
      import s.implicits._
      val stateDir = cmsStreamStores.getOrElseUpdate(dir, {
        val root = TempDirs.create("graft_cmss")
        val docs = t(s, dir, "documents")
        val streamDir = TempDirs.create("graft_cmss_in")
        docs.select(col("doc_id"), col("text"))
          .repartition(4).write.mode("overwrite").parquet(streamDir)
        var cur: Option[String] = None
        val q = s.readStream.schema(s.read.parquet(streamDir).schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir)
          .writeStream
          .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
            val toks = b.toDF()
              .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
            val batchSketch = graft.text.Sketches.cmsSketch(toks, col("tok"))
            val merged = cur match {
              case Some(p) => s.read.parquet(p).unionByName(batchSketch)
                .groupBy(col("r"), col("c")).agg(sum(col("cnt")).as("cnt"))
              case None => batchSketch
            }
            val out = s"$root/b$id"
            merged.write.mode("overwrite").parquet(out)
            cur = Some(out)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        cur.getOrElse(sys.error("empty stream"))
      })
      val sketch = s.read.parquet(stateDir)
      val toks = graft.ops.Caches.track(t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok")))
      val probes = Seq("fast", "table", "scan", "join", "merge", "the",
        "zzz_unseen").toDF("term")
      val est = graft.text.Sketches.cmsEstimate(sketch, probes, "term")
      val tru = toks.join(broadcast(probes), col("tok") === col("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      est.join(tru, Seq("term"), "left")
        .select(col("term"), coalesce(col("cnt"), lit(0L)).as("cnt"), col("est_cnt"))
    }, streaming = true, oracle = CmsOracleSql),

    // JOIN-SIZE estimation from CMS inner products (AMS/CMS sketch
    // estimators, Cormode & Muthukrishnan): |A ⋈ B| ≈ min over hash rows
    // of Σ_c cmsA[r,c]·cmsB[r,c] — never an underestimate. Each side folds
    // to 4096 counters, so two corpus-sized join inputs reduce to a
    // control-data product: the planner-side cardinality answer that costs
    // two narrow scans instead of the join itself
    Query("sketch_join_size", (s, dir) => {
      val ords = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val skA = graft.text.Sketches.cmsSketch(ords, col("k"))
        .withColumnRenamed("cnt", "__ca")
      val skB = graft.text.Sketches.cmsSketch(cust, col("k"))
        .withColumnRenamed("cnt", "__cb")
      val est = skA.join(skB, Seq("r", "c"))
        .groupBy(col("r")).agg(sum(col("__ca") * col("__cb")).as("__ip"))
        .agg(min(col("__ip")).as("est_size"))
      val tru = ords.join(cust, Seq("k")).agg(count(lit(1)).as("true_size"))
      tru.crossJoin(est)
    }, oracle =
      // CMS join-size: per-side 4x1024 counters, est = min_r of the row
      // inner product, true size exact from the key join
      {
        val nibAt = (src: String, k: String) =>
          s"(strpos('0123456789abcdef', substr($src, $k, 1)) - 1)::BIGINT"
        val colOfH =
          s"(${nibAt("h", "6")} * 256 + ${nibAt("h", "7")} * 16 + " +
            s"${nibAt("h", "8")}) % 1024"
        s"""WITH a0 AS (SELECT o_custkey::VARCHAR AS k FROM orders),
            b0 AS (SELECT c_custkey::VARCHAR AS k FROM customer
                   WHERE c_mktsegment = 'BUILDING'),
            rs AS (SELECT unnest(range(4)) AS r),
            ra AS (SELECT r, $colOfH AS c, count(*) AS ca FROM (
                SELECT r, md5('graft-cms:' || r || ':' || k) AS h
                FROM a0 CROSS JOIN rs) GROUP BY 1, 2),
            rb AS (SELECT r, $colOfH AS c, count(*) AS cb FROM (
                SELECT r, md5('graft-cms:' || r || ':' || k) AS h
                FROM b0 CROSS JOIN rs) GROUP BY 1, 2),
            ip AS (SELECT r, sum(ca * cb) AS ip
              FROM ra JOIN rb USING (r, c) GROUP BY 1)
            SELECT (SELECT count(*) FROM a0 JOIN b0 USING (k)) AS true_size,
                   (SELECT CAST(min(ip) AS BIGINT) FROM ip) AS est_size"""
      }),

    // HLL sketch MERGE: per-source register sets fold by register-wise max
    // into the global estimate exactly (the HLL union property — the
    // oracle computes the direct global sketch; merged must equal it)
    Query("sketch_hll_merge", (s, dir) =>
      graft.text.Sketches.hllMerge(t(s, dir, "documents"),
        "source", col("text")), oracle = hllOracleSql(perSource = false))
  )
}
