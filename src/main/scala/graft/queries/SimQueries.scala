package graft.queries

import graft.core._
import graft.dedup.Components
import graft.sim.{Ivf, Similarity}
import graft.text.Curation
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Vector similarity: exact, LSH, IVF and PQ top-k, recall dashboards,
  * embedding analytics and semantic dedup. */
object SimQueries {
  import Inputs._

  /** One persisted IVF index per scale dir (built on first probe). */
  private val ivfIndexes =
    scala.collection.concurrent.TrieMap.empty[String, Ivf.Index]

  /** Fixed PQ codebooks for the oracle-checked queries: 8 subspaces × 16
    * codes seeded from the first 16 vectors (memoized per scale dir). */
  private val pqCodebookCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.sim.Pq.Codebooks]
  /** One persisted IVF-PQ code index per scale dir (built on first probe). */
  private val pqIndexPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Flat (un-celled) PQ code table per scale dir — encode once, probe
    * many (the 8-bytes-per-vector "index" of the brute-force ADC scan). */
  private val pqFlatCodePaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Log-structured-maintained IVF-PQ index (perturbed build + converging
    * generation-stamped batches) per scale dir. */
  private val pqIncrIndexes = scala.collection.concurrent.TrieMap
    .empty[String, (String, java.util.concurrent.atomic.AtomicLong)]
  private def pqCodebooks(s: SparkSession, dir: String): graft.sim.Pq.Codebooks =
    pqCodebookCache.getOrElseUpdate(dir,
      graft.sim.Pq.fixedCodebooks(t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 8, k = 16))

  /** Brute-force top-5 cosine ground truth for the recall dashboards
    * (`sim_recall_eval`, `sim_recall_lsh`), built ONCE per scale dir and
    * persisted — the engine's own build-once/probe-many index discipline
    * applied to the truth side: the exact scan is the expensive part of
    * a recall evaluation and it is invariant across every (nProbe,
    * nTables, nBits) configuration, so each invocation now pays only the
    * probe cost. */
  private val recallTruthPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def recallTruth(s: SparkSession, dir: String): DataFrame = {
    val p = recallTruthPaths.getOrElseUpdate(dir, {
      val out = TempDirs.create("graft_recall_truth")
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(p)
  }

  /** Run independent Spark ACTIONS concurrently from a bounded driver
    * pool (guide §2.6: actions are only sequential because the driver
    * calls them sequentially — overlapping lets a later job's tasks
    * back-fill executors idled by the current job's straggler tail).
    * Results keep `items` order; any failure rethrows. Used by the
    * multi-lane dashboard queries whose lanes are independent counts. */
  private def inParallel[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futs = items.map(a => scala.concurrent.Future(f(a)))
      futs.map(scala.concurrent.Await.result(_,
        scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }

  /** Fixed IVF centroids (first 8 vectors by id — the oracle substrate),
    * memoized per scale dir. */
  private val fixedCentroidCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, Seq[Double])]]
  private def fixedCentroids(s: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    fixedCentroidCache.getOrElseUpdate(dir, {
      import s.implicits._
      t(s, dir, "embeddings").orderBy(col("vec_id")).limit(8)
        .select(transform(col("embedding"), _.cast("double")))
        .as[Seq[Double]].collect().toSeq
        .zipWithIndex.map { case (v, i) => i -> v }
    })

  /** The deterministic fixed-centroid cell assignment shared by
    * `sim_ivf_assign` and `sim_diverse_sample` (centroids = the 8 smallest
    * vec_ids' vectors; the tie rule is oracle-checked): THE single place
    * the centroid fixture is defined — its two oracles share one CTE too. */
  private def fixedCellAssignment(s: SparkSession, dir: String): DataFrame =
    Ivf.assignCells(t(s, dir, "embeddings"), "vec_id", "embedding",
      fixedCentroids(s, dir))

  /** Moment-maintained PCA model per dir (see embed_pca_incr). */
  private val pcaIncrCache =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[Long], Seq[Double])]

  /** PCA model (μ, v₁) per scale dir — fit once, project many. */
  private val pcaModelCache =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[Double], Seq[Double])]
  private def pcaModel(s: SparkSession, dir: String): (Seq[Double], Seq[Double]) =
    pcaModelCache.getOrElseUpdate(dir,
      graft.sim.Pca.fitPc1(t(s, dir, "embeddings"), "vec_id", "embedding",
        iters = 8))

  // fixed-centroid nearest-cell assignment incl. the tie rule — ONE copy,
  // shared by the sim_ivf_assign and sim_diverse_sample oracles (mirrors
  // the single fixedCellAssignment helper on the Spark side)
  private val ivfAssignCtes =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
               (a, b) -> a + b)) AS vn
           FROM embeddings),
         c0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
         c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv,
               sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS cn
               FROM c0),
         sc AS (SELECT e.vec_id, c.cell,
               CASE WHEN e.vn * c.cn = 0 THEN 0.0
                 ELSE list_reduce(list_transform(range(64), j -> e.v[j+1] * c.cv[j+1]),
                   (a, b) -> a + b) / (e.vn * c.cn) END AS sc
               FROM e CROSS JOIN c),
         asn AS (SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM sc
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY sc DESC, cell DESC) = 1)"""
  private val ivfPqSql =
    s"""WITH $ivfAssignCtes,
            cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
                embedding::DOUBLE[] AS cv
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
            ms AS (SELECT unnest(range(8)) AS m),
            psc AS (SELECT e2.vec_id, ms.m, cb.j,
                list_reduce(list_transform(range(8), i ->
                  (e2.v[ms.m*8 + i + 1] - cb.cv[ms.m*8 + i + 1])
                  * (e2.v[ms.m*8 + i + 1] - cb.cv[ms.m*8 + i + 1])),
                  (a, b) -> a + b) AS d
              FROM e e2 CROSS JOIN ms CROSS JOIN cbv cb),
            code AS (SELECT vec_id, m, j AS c FROM psc
              QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
            probe AS (SELECT vec_id AS query_id, cell FROM sc
              WHERE vec_id % 50 = 0
              QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY sc DESC, cell DESC) <= 3),
            cand AS (SELECT p.query_id, a.vec_id AS neighbor_id, a.cell
              FROM probe p JOIN asn a
                ON a.cell = p.cell AND a.vec_id <> p.query_id),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
            dm AS (SELECT c2.query_id, c2.neighbor_id, c2.cell, k2.m,
                list_reduce(list_transform(range(8), i ->
                  (q.qv[k2.m*8 + i + 1] - cb.cv[k2.m*8 + i + 1])
                  * (q.qv[k2.m*8 + i + 1] - cb.cv[k2.m*8 + i + 1])),
                  (a, b) -> a + b) AS d
              FROM cand c2 JOIN code k2 ON k2.vec_id = c2.neighbor_id
              JOIN cbv cb ON cb.j = k2.c
              JOIN q ON q.query_id = c2.query_id),
            tot AS (SELECT query_id, neighbor_id, cell,
                list_reduce(list(d ORDER BY m), (a, b) -> a + b) AS dist
              FROM dm GROUP BY 1, 2, 3)
            SELECT query_id, neighbor_id, cell, round(dist, 6) AS adc_dist, rank
            FROM (SELECT query_id, neighbor_id, cell, dist,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY dist, neighbor_id) AS INTEGER) AS rank
              FROM tot) WHERE rank <= 5"""

  val all: Seq[Query] = Seq(
    // Same resolution over the EMBEDDING near-dup pair family: cosine
    // pairs → components → one vector per cluster
    Query("embed_neardup_resolve", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val pairs = Similarity.bruteForcePairs(e, "vec_id", "embedding",
        threshold = 0.45)
      Components.survivors(e, "vec_id", pairs).select(col("vec_id"))
    }, oracle =
      """WITH RECURSIVE ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM ev a JOIN ev b ON a.vec_id < b.vec_id
                 WHERE list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45),
           ed AS (SELECT id_a AS src, id_b AS dst FROM p
                  UNION SELECT id_b, id_a FROM p),
           walk(id, reach) AS (
             SELECT src, dst FROM ed
             UNION
             SELECT w.id, e2.dst FROM walk w JOIN ed e2 ON w.reach = e2.src),
           lab AS (SELECT id, min(reach) AS m FROM walk GROUP BY id)
           SELECT x.vec_id FROM embeddings x LEFT JOIN lab ON x.vec_id = lab.id
           WHERE lab.id IS NULL OR lab.m >= x.vec_id"""),

    // SemDeDup end to end: cell-scoped cosine pairs → connected components
    // → one surviving vector per semantic cluster (the embedding-space
    // analogue of pipeline_filter's near-dup drop)
    Query("semantic_dedup_filter", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val pairs = Similarity.cellScopedPairs(fixedCellAssignment(s, dir),
        e, "vec_id", "embedding", "cell", threshold = 0.4)
      Components.survivors(e, "vec_id", pairs).select(col("vec_id"))
    }, oracle =
      // SemDeDup resolution: cell-restricted pairs (same assignment CTEs
      // as embed_neardup_cell) → transitive closure → min-id survivor
      s"""WITH RECURSIVE $ivfAssignCtes,
           p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM asn aa JOIN asn bb
                   ON aa.cell = bb.cell AND aa.vec_id < bb.vec_id
                 JOIN e a ON a.vec_id = aa.vec_id
                 JOIN e b ON b.vec_id = bb.vec_id
                 WHERE list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) >= 0.4),
           ed AS (SELECT id_a AS src, id_b AS dst FROM p
                  UNION SELECT id_b, id_a FROM p),
           walk(id, reach) AS (
             SELECT src, dst FROM ed
             UNION
             SELECT w.id, e2.dst FROM walk w JOIN ed e2 ON w.reach = e2.src),
           lab AS (SELECT id, min(reach) AS m FROM walk GROUP BY id)
           SELECT x.vec_id FROM embeddings x LEFT JOIN lab ON x.vec_id = lab.id
           WHERE lab.id IS NULL OR lab.m >= x.vec_id"""),

    // Brute-force cosine top-k (the ANN baseline)
    Query("sim_topk_bruteforce", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    }, oracle =
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id % 50 = 0),
                c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings)
           SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank FROM (
             SELECT query_id, neighbor_id,
               CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) = 0
                 THEN 0.0 ELSE list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END AS cos,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
             FROM q JOIN c ON query_id <> neighbor_id) WHERE rank <= 5"""),

    // ANN index QUALITY dashboard: recall@5 of the IVF probe against the
    // exact brute-force ground truth, per probe budget (nProbe 1/2/4) —
    // the measurement that justifies a partition-pruned index at 100 TB
    // (how much recall does each pruned cell cost?). Both sides break
    // cosine ties by neighbor_id, so the top-5 SETS are deterministic and
    // the hit counts exact; recall is an integer-nano ladder. Output is
    // 3 control rows; the expensive parts are the same scans the probes
    // themselves run
    Query("sim_recall_eval", (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      val truth = recallTruth(s, dir)
      val index = ivfIndexes.getOrElseUpdate(dir, Ivf.buildIndexWith(
        fixedCentroids(s, dir), e, "vec_id", "embedding",
        TempDirs.create("graft_ivf_idx")))
      val nq = q.count()
      def lane(name: String, np: Int, probe: DataFrame) = {
        val hits = probe.select(col("query_id"), col("neighbor_id"))
          .join(truth, Seq("query_id", "neighbor_id")).count()
        (name, np, nq, hits,
          (BigInt(hits) * BigInt(1000000000L) / (BigInt(nq) * 5)).toLong)
      }
      // the quantized lane: ADC distances over the same cells — measures
      // what the 32× code compression costs in recall
      val pqIdx = pqIndexPaths.getOrElseUpdate(dir, {
        val p = TempDirs.create("graft_ivfpq")
        graft.sim.Pq.buildCodeIndex(e, "vec_id", "embedding",
          fixedCentroids(s, dir), pqCodebooks(s, dir), p)
        p
      })
      // the four lanes are independent partition-pruned probe+count jobs —
      // overlap them (guide §2.6) instead of paying four straggler tails
      val laneFns: Seq[() => (String, Int, Long, Long, Long)] =
        Seq(1, 2, 4).map(np => () => lane("ivf", np,
          Ivf.probe(index, q, "vec_id", "embedding", k = 5, nProbe = np))) :+
        (() => lane("ivfpq", 3,
          graft.sim.Pq.probeCodeIndex(q, "vec_id", "embedding",
            fixedCentroids(s, dir), pqCodebooks(s, dir), pqIdx,
            nProbe = 3, k = 5)))
      val rows = inParallel(laneFns, threads = 4)(_.apply())
      rows.toDF("lane", "n_probe", "n_queries", "hits", "recall_nano")
    }, oracle =
      // recall@5 of the IVF probe vs exact brute force at nProbe 1/2/4:
      // both sides break cosine ties by neighbor_id so the top-5 SETS
      // are deterministic; hits are exact joins, recall an integer-nano
      // truncated ladder
      {
        val cos =
          """CASE WHEN sqrt(list_dot_product(qe.v, qe.v))
                 * sqrt(list_dot_product(ne.v, ne.v)) = 0 THEN 0.0
             ELSE list_dot_product(qe.v, ne.v)
               / (sqrt(list_dot_product(qe.v, qe.v))
                  * sqrt(list_dot_product(ne.v, ne.v))) END"""
        def lane(np: Int) =
          s"""probe$np AS (SELECT vec_id AS query_id, cell FROM sc
                WHERE vec_id % 50 = 0
                QUALIFY row_number() OVER (PARTITION BY vec_id
                  ORDER BY sc DESC, cell DESC) <= $np),
              cand$np AS (SELECT p.query_id, a.vec_id AS neighbor_id
                FROM probe$np p JOIN asn a
                  ON a.cell = p.cell AND a.vec_id <> p.query_id),
              top$np AS (SELECT query_id, neighbor_id FROM (
                SELECT c.query_id, c.neighbor_id,
                  row_number() OVER (PARTITION BY c.query_id
                    ORDER BY $cos DESC, c.neighbor_id) AS rank
                FROM cand$np c JOIN e qe ON qe.vec_id = c.query_id
                     JOIN e ne ON ne.vec_id = c.neighbor_id)
                WHERE rank <= 5),
              hit$np AS (SELECT count(*) AS hits FROM top$np t
                JOIN truth g ON g.query_id = t.query_id
                  AND g.neighbor_id = t.neighbor_id)"""
        // the IVF-PQ lane replays the ADC scoring (codes from the fixed
        // 16-entry codebook, per-subvector distance tables) and counts
        // its top-5 hits against the same exact truth
        val pqLane =
          s"""cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
                  embedding::DOUBLE[] AS cv
                FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
              ms AS (SELECT unnest(range(8)) AS m),
              psc AS (SELECT e2.vec_id, ms.m, cb.j,
                  list_reduce(list_transform(range(8), i ->
                    (e2.v[ms.m*8 + i + 1] - cb.cv[ms.m*8 + i + 1])
                    * (e2.v[ms.m*8 + i + 1] - cb.cv[ms.m*8 + i + 1])),
                    (a, b) -> a + b) AS d
                FROM e e2 CROSS JOIN ms CROSS JOIN cbv cb),
              code AS (SELECT vec_id, m, j AS c FROM psc
                QUALIFY row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY d, j) = 1),
              probePq AS (SELECT vec_id AS query_id, cell FROM sc
                WHERE vec_id % 50 = 0
                QUALIFY row_number() OVER (PARTITION BY vec_id
                  ORDER BY sc DESC, cell DESC) <= 3),
              candPq AS (SELECT p.query_id, a.vec_id AS neighbor_id
                FROM probePq p JOIN asn a
                  ON a.cell = p.cell AND a.vec_id <> p.query_id),
              qv AS (SELECT vec_id AS query_id, v AS qv FROM e
                WHERE vec_id % 50 = 0),
              dm AS (SELECT c2.query_id, c2.neighbor_id, k2.m,
                  list_reduce(list_transform(range(8), i ->
                    (q.qv[k2.m*8 + i + 1] - cb.cv[k2.m*8 + i + 1])
                    * (q.qv[k2.m*8 + i + 1] - cb.cv[k2.m*8 + i + 1])),
                    (a, b) -> a + b) AS d
                FROM candPq c2 JOIN code k2 ON k2.vec_id = c2.neighbor_id
                JOIN cbv cb ON cb.j = k2.c
                JOIN qv q ON q.query_id = c2.query_id),
              topPq AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY dist, neighbor_id) AS rank
                FROM (SELECT query_id, neighbor_id,
                    list_reduce(list(d ORDER BY m), (a, b) -> a + b) AS dist
                  FROM dm GROUP BY 1, 2)) WHERE rank <= 5),
              hitPq AS (SELECT count(*) AS hits FROM topPq t
                JOIN truth g ON g.query_id = t.query_id
                  AND g.neighbor_id = t.neighbor_id)"""
        s"""WITH $ivfAssignCtes,
            qs AS (SELECT count(*) AS nq FROM e WHERE vec_id % 50 = 0),
            truth AS (SELECT query_id, neighbor_id FROM (
              SELECT qe.vec_id AS query_id, ne.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY qe.vec_id
                  ORDER BY $cos DESC, ne.vec_id) AS rank
              FROM e qe JOIN e ne ON qe.vec_id % 50 = 0
                AND ne.vec_id <> qe.vec_id)
              WHERE rank <= 5),
            ${lane(1)},
            ${lane(2)},
            ${lane(4)},
            $pqLane
            SELECT lane, CAST(n_probe AS INTEGER) AS n_probe,
              CAST(nq AS BIGINT) AS n_queries,
              CAST(hits AS BIGINT) AS hits,
              CAST(hits * 1000000000 // (nq * 5) AS BIGINT) AS recall_nano
            FROM (SELECT 'ivf' AS lane, 1 AS n_probe, hits FROM hit1
              UNION ALL SELECT 'ivf', 2, hits FROM hit2
              UNION ALL SELECT 'ivf', 4, hits FROM hit4
              UNION ALL SELECT 'ivfpq', 3, hits FROM hitPq) CROSS JOIN qs"""
      }),

    // Recall dashboard for the HYPERPLANE-LSH lane — prices the
    // (nTables, nBits) production knobs the same way sim_recall_eval
    // prices IVF's nProbe: recall@5 of the hamming-1 bucket probe vs the
    // exact brute-force truth, per configuration. More tables buy recall
    // with extra index copies; more bits buy selectivity (smaller
    // candidate sets) at a recall cost — this lane measures both
    // directions of the trade. Output is 4 control rows
    Query("sim_recall_lsh", (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      val truth = recallTruth(s, dir)
      val nq = q.count()
      // ONE corpus signature + probe-join pass covers the three nested
      // 8-bit lanes (table seeds are prefix-stable, so `min_table < t`
      // slices the t-table candidate set exactly — Similarity
      // .lshCandidatesMd5); the 12-bit lane is a different hyperplane
      // family and keeps its own pass. The cached-candidate lane counts
      // and the 12-bit lane run OVERLAPPED (guide §2.6) so the second
      // pass back-fills the first pass's straggler tail.
      val cand = graft.ops.Caches.track(Similarity.lshCandidatesMd5(
        e, q, "vec_id", "embedding", dim = 64, nBits = 8, nTables = 4))
      def hitsOf(topk: DataFrame): Long = topk
        .select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id")).count()
      val lanes: Seq[() => Long] = Seq(
        () => hitsOf(Similarity.lshTopKFromCandidates(cand, tables = 1, k = 5)),
        () => hitsOf(Similarity.lshTopKFromCandidates(cand, tables = 2, k = 5)),
        () => hitsOf(Similarity.lshTopKFromCandidates(cand, tables = 4, k = 5)),
        () => hitsOf(Similarity.lshTopKMd5(e, q, "vec_id", "embedding",
          dim = 64, k = 5, nBits = 12, nTables = 2)))
      val hits = inParallel(lanes, threads = 4)(_.apply())
      val rows = Seq((1, 8), (2, 8), (4, 8), (2, 12)).zip(hits).map {
        case ((tables, bits), h) =>
          (tables, bits, nq, h,
            (BigInt(h) * BigInt(1000000000L) / (BigInt(nq) * 5)).toLong)
      }
      rows.toDF("n_tables", "n_bits", "n_queries", "hits", "recall_nano")
    }, oracle =
      // hyperplane-LSH recall replay: per (tables, bits) lane the oracle
      // re-derives every table's md5 hyperplanes (seed = t·bits — the
      // lshBucketMd5 convention), buckets the corpus, probes hamming<=1,
      // ranks the candidates by exact cosine, and counts top-5 hits
      // against the same brute-force truth as sim_recall_eval
      {
        val cos =
          """CASE WHEN sqrt(list_dot_product(qe.v, qe.v))
                 * sqrt(list_dot_product(ne.v, ne.v)) = 0 THEN 0.0
             ELSE list_dot_product(qe.v, ne.v)
               / (sqrt(list_dot_product(qe.v, qe.v))
                  * sqrt(list_dot_product(ne.v, ne.v))) END"""
        def nib(n: Int) =
          s"(strpos('0123456789abcdef', substr(h, $n, 1)) - 1)"
        def lane(l: String, tables: Int, bits: Int) = {
          val seeds = (0 until tables).map(_ * bits).mkString(", ")
          s"""hp$l AS (
                SELECT s, i, list(comp ORDER BY j) AS hl FROM (
                  SELECT s, i, j,
                    ((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})
                      % 1001 - 500) / 500.0 AS comp
                  FROM (SELECT s, i, j, md5('lsh:' || s::VARCHAR || ':' ||
                          i::VARCHAR || ':' || j::VARCHAR) AS h
                        FROM (SELECT unnest([$seeds]) AS s) ss
                        CROSS JOIN range($bits) t(i) CROSS JOIN range(64) u(j))
                ) GROUP BY s, i),
              b$l AS (SELECT vec_id, s,
                  CAST(sum(CASE WHEN proj > 0 THEN (1::BIGINT << i) ELSE 0 END)
                    AS BIGINT) AS bucket
                FROM (SELECT e.vec_id, hp.s, hp.i,
                    list_reduce(list_transform(range(64), j -> e.v[j+1] * hp.hl[j+1]),
                      (a, b) -> a + b) AS proj
                  FROM e CROSS JOIN hp$l hp)
                GROUP BY vec_id, s),
              cand$l AS (SELECT DISTINCT qb.vec_id AS query_id,
                  bc.vec_id AS neighbor_id
                FROM (SELECT * FROM b$l WHERE vec_id % 50 = 0) qb
                JOIN b$l bc ON qb.s = bc.s AND qb.vec_id <> bc.vec_id
                  AND bit_count(xor(qb.bucket, bc.bucket)) <= 1),
              top$l AS (SELECT query_id, neighbor_id FROM (
                  SELECT c.query_id, c.neighbor_id,
                    row_number() OVER (PARTITION BY c.query_id
                      ORDER BY $cos DESC, c.neighbor_id) AS rank
                  FROM cand$l c JOIN e qe ON qe.vec_id = c.query_id
                       JOIN e ne ON ne.vec_id = c.neighbor_id)
                WHERE rank <= 5),
              hit$l AS (SELECT count(*) AS hits FROM top$l t
                JOIN truth g ON g.query_id = t.query_id
                  AND g.neighbor_id = t.neighbor_id)"""
        }
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            qs AS (SELECT count(*) AS nq FROM e WHERE vec_id % 50 = 0),
            truth AS (SELECT query_id, neighbor_id FROM (
              SELECT qe.vec_id AS query_id, ne.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY qe.vec_id
                  ORDER BY $cos DESC, ne.vec_id) AS rank
              FROM e qe JOIN e ne ON qe.vec_id % 50 = 0
                AND ne.vec_id <> qe.vec_id)
              WHERE rank <= 5),
            ${lane("T1B8", 1, 8)},
            ${lane("T2B8", 2, 8)},
            ${lane("T4B8", 4, 8)},
            ${lane("T2B12", 2, 12)}
            SELECT CAST(n_tables AS INTEGER) AS n_tables,
              CAST(n_bits AS INTEGER) AS n_bits,
              CAST(nq AS BIGINT) AS n_queries,
              CAST(hits AS BIGINT) AS hits,
              CAST(hits * 1000000000 // (nq * 5) AS BIGINT) AS recall_nano
            FROM (SELECT 1 AS n_tables, 8 AS n_bits, hits FROM hitT1B8
              UNION ALL SELECT 2, 8, hits FROM hitT2B8
              UNION ALL SELECT 4, 8, hits FROM hitT4B8
              UNION ALL SELECT 2, 12, hits FROM hitT2B12) CROSS JOIN qs"""
      }),

    // Embedding DRIFT monitor: per-dimension mean shift between two
    // slices (here the even/odd vec_id halves standing in for two corpus
    // snapshots), top dims by absolute shift — integer-micro keys, exact
    // cross-engine ranking
    Query("embed_drift", (s, dir) =>
      Similarity.dimensionDrift(t(s, dir, "embeddings"), "embedding",
        isA = col("vec_id") % 2 === 0), oracle =
      // Similarity.dimensionDrift: even/odd halves, avg per dim, ranked
      // by the integer-micro absolute shift (ties dim asc)
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           x AS (SELECT vec_id % 2 = 0 AS a, unnest(v) AS x,
                   CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS dim FROM e),
           m AS (SELECT dim, avg(CASE WHEN a THEN x END) AS ma,
                   avg(CASE WHEN NOT a THEN x END) AS mb
                 FROM x GROUP BY 1)
           SELECT dim, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
             CAST(round((ma - mb) * 1000000) AS BIGINT) AS delta_micro
           FROM m
           ORDER BY abs(CAST(round((ma - mb) * 1000000) AS BIGINT)) DESC, dim
           LIMIT 10"""),

    // LSH-bucketed ANN top-k over the md5 hyperplane family: approximate
    // SEARCH, deterministic RESULT — candidates are exactly the pairs
    // within hamming 1 of the query's bucket in one of the 2 tables, so
    // the oracle re-derives the same buckets from its own md5 and the
    // top-k hash-checks end to end (the xxhash64 lshTopK stays the
    // throughput default, recall-pinned in DedupSimSpec). 2^8 buckets
    // sized for the test corpora; at 100 TB raise nBits so bucket
    // cardinality tracks corpus size
    Query("sim_topk_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      Similarity.lshTopKMd5(e, q, "vec_id", "embedding", dim = 64, k = 5, nBits = 8)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }, oracle =
      // md5-hyperplane LSH top-k: candidates = pairs within hamming 1 of
      // the query's bucket in one of the two tables (seeds 0 and 8 — the
      // Spark side's t * nBits family selectors), exact cosine + top-5
      // within. The hyperplane CTE re-derives Similarity.md5Hyperplanes
      {
        def nib(n: Int) =
          s"(strpos('0123456789abcdef', substr(h, $n, 1)) - 1)"
        s"""WITH hp AS (
              SELECT s, i, list(comp ORDER BY j) AS hl FROM (
                SELECT s, i, j,
                  ((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})
                    % 1001 - 500) / 500.0 AS comp
                FROM (SELECT s, i, j, md5('lsh:' || s::VARCHAR || ':' ||
                        i::VARCHAR || ':' || j::VARCHAR) AS h
                      FROM (SELECT unnest([0, 8]) AS s) ss
                      CROSS JOIN range(8) t(i) CROSS JOIN range(64) u(j))
              ) GROUP BY s, i),
            e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            b AS (SELECT vec_id, s,
                CAST(sum(CASE WHEN proj > 0 THEN (1::BIGINT << i) ELSE 0 END)
                  AS BIGINT) AS bucket
              FROM (SELECT e.vec_id, hp.s, hp.i,
                  list_reduce(list_transform(range(64), j -> e.v[j+1] * hp.hl[j+1]),
                    (a, b) -> a + b) AS proj
                FROM e CROSS JOIN hp)
              GROUP BY vec_id, s),
            cand AS (SELECT DISTINCT qb.vec_id AS query_id, b.vec_id AS neighbor_id
              FROM (SELECT * FROM b WHERE vec_id % 50 = 0) qb
              JOIN b ON qb.s = b.s AND qb.vec_id <> b.vec_id
                AND bit_count(xor(qb.bucket, b.bucket)) <= 1),
            scored AS (SELECT c.query_id, c.neighbor_id,
                CASE WHEN sqrt(list_dot_product(qe.v, qe.v))
                       * sqrt(list_dot_product(ne.v, ne.v)) = 0 THEN 0.0
                  ELSE list_dot_product(qe.v, ne.v)
                    / (sqrt(list_dot_product(qe.v, qe.v))
                       * sqrt(list_dot_product(ne.v, ne.v))) END AS cos
              FROM cand c JOIN e qe ON qe.vec_id = c.query_id
                   JOIN e ne ON ne.vec_id = c.neighbor_id)
            SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank FROM (
              SELECT query_id, neighbor_id, cos,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
              FROM scored) WHERE rank <= 5"""
      }),

    // IVF ANN top-k against the FIXED-centroid index (the sim_ivf_assign
    // substrate): with fixed centroids the probed cells and their members
    // are an exact function of the data, so the whole probe hash-checks —
    // approximate only vs brute force (recall pinned in IvfSpec; trained
    // k-means Ivf.buildIndex remains the production path). The index is
    // built ONCE per scale dir (assignment persisted partitioned by cell)
    // and every invocation probes it — a probe reads only the probed
    // cells' partitions.
    Query("sim_topk_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      val index = ivfIndexes.getOrElseUpdate(dir, Ivf.buildIndexWith(
        fixedCentroids(s, dir), e, "vec_id", "embedding",
        TempDirs.create("graft_ivf_idx")))
      Ivf.probe(index, q, "vec_id", "embedding", k = 5, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }, oracle =
      // fixed-centroid IVF probe: top-4 cells per query by the shared
      // assignment score (sc DESC, cell DESC — Ivf.probe's tie rule), exact
      // cosine top-5 within the probed cells' members
      s"""WITH $ivfAssignCtes,
            probe AS (SELECT vec_id AS query_id, cell FROM sc
              WHERE vec_id % 50 = 0
              QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY sc DESC, cell DESC) <= 4),
            cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
              FROM probe p JOIN asn a
                ON a.cell = p.cell AND a.vec_id <> p.query_id),
            scored AS (SELECT c.query_id, c.neighbor_id,
                CASE WHEN sqrt(list_dot_product(qe.v, qe.v))
                       * sqrt(list_dot_product(ne.v, ne.v)) = 0 THEN 0.0
                  ELSE list_dot_product(qe.v, ne.v)
                    / (sqrt(list_dot_product(qe.v, qe.v))
                       * sqrt(list_dot_product(ne.v, ne.v))) END AS cos
              FROM cand c JOIN e qe ON qe.vec_id = c.query_id
                   JOIN e ne ON ne.vec_id = c.neighbor_id)
            SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank FROM (
              SELECT query_id, neighbor_id, cos,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
              FROM scored) WHERE rank <= 5"""),

    // LSH bucket assignment — the DETERMINISTIC substrate under the
    // approximate sim_topk_lsh: md5-hyperplane family, hash-checked against
    // an oracle that re-derives the same hyperplanes from its own md5 (the
    // xxhash64 family stays the throughput path; DedupSimSpec pins both)
    Query("sim_lsh_bucket", (s, dir) =>
      t(s, dir, "embeddings").select(col("vec_id"),
        Similarity.lshBucketMd5(col("embedding"), dim = 64, nBits = 8).as("bucket")), oracle = {
      // hyperplane component (i, j): first 16 bits of md5('lsh:0:i:j')
      // mapped into [-1,1] — exactly Similarity.md5Hyperplanes
      def nib(n: Int) =
        s"(strpos('0123456789abcdef', substr(h, $n, 1)) - 1)"
      s"""WITH hp AS (
              SELECT i, list(comp ORDER BY j) AS hl FROM (
                SELECT i, j,
                  ((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})
                    % 1001 - 500) / 500.0 AS comp
                FROM (SELECT i, j, md5('lsh:0:' || i::VARCHAR || ':' || j::VARCHAR) AS h
                      FROM range(8) t(i) CROSS JOIN range(64) u(j))
              ) GROUP BY i)
            SELECT vec_id,
              CAST(sum(CASE WHEN proj > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
                AS bucket
            FROM (
              SELECT e.vec_id, hp.i,
                list_reduce(list_transform(range(64), j -> e.v[j+1] * hp.hl[j+1]),
                  (a, b) -> a + b) AS proj
              FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e
              CROSS JOIN hp)
            GROUP BY vec_id"""
    }),

    // IVF cell assignment — the deterministic substrate under sim_topk_ivf:
    // nearest-cell over a FIXED centroid set (the 8 smallest vec_ids'
    // vectors — k-means trained centroids are equally fixed at probe time),
    // hash-checked end to end including the tie rule
    Query("sim_ivf_assign", (s, dir) =>
      fixedCellAssignment(s, dir), oracle =
      s"""WITH $ivfAssignCtes
           SELECT vec_id, cell FROM asn"""),

    // Embedding-space diversity sampling: nearest-cell assignment (same
    // fixed centroids as sim_ivf_assign) then 4 deterministic reps per
    // cell — dense embedding regions can't dominate the sample
    Query("sim_diverse_sample", (s, dir) =>
      Curation.diverseSample(fixedCellAssignment(s, dir),
        "vec_id", "cell", perCell = 4), oracle = {
      val nib = (k: Int) =>
        s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)::BIGINT"
      val u32 = (1 to 8).map(k => s"${nib(k)} * ${1L << (4 * (8 - k))}")
        .mkString(" + ")
      s"""WITH $ivfAssignCtes,
           hh AS (SELECT vec_id, cell,
                  md5('graft-diverse:' || vec_id::VARCHAR) AS h FROM asn)
           SELECT vec_id, cell FROM hh
           QUALIFY row_number() OVER (PARTITION BY cell
             ORDER BY ($u32) / 4294967296.0, vec_id) <= 4"""
    }),

    // PQ codes under FIXED codebooks (first-16 subvectors — the same
    // oracle trick as sim_ivf_assign): 64 floats → 8 four-bit codes, a
    // pure narrow expression. The compression substrate of scan-time ANN
    Query("sim_pq_codes", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cbs = pqCodebooks(s, dir)
      graft.sim.Pq.encode(e, "vec_id", "embedding", cbs)
        .select(col("vec_id"),
          array_join(transform(col("codes"), _.cast("string")), ",").as("codes_csv"))
    }, oracle =
      // PQ: codes = per-subspace argmin sub-centroid (squared L2,
      // dim-sequential fold, ties to the lowest code) against the fixed
      // first-16 codebooks; ADC distance = ordered fold of per-subspace
      // lookup distances — both exact functions of the data
      """WITH cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
                embedding::DOUBLE[] AS cv
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
            ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            ms AS (SELECT unnest(range(8)) AS m),
            sc AS (SELECT e.vec_id, ms.m, cb.j,
                list_reduce(list_transform(range(8), i ->
                  (e.v[ms.m*8 + i + 1] - cb.cv[ms.m*8 + i + 1])
                  * (e.v[ms.m*8 + i + 1] - cb.cv[ms.m*8 + i + 1])),
                  (a, b) -> a + b) AS d
              FROM ev e CROSS JOIN ms CROSS JOIN cbv cb),
            code AS (SELECT vec_id, m, j AS c FROM sc
              QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1)
            SELECT vec_id, string_agg(c::VARCHAR, ',' ORDER BY m) AS codes_csv
            FROM code GROUP BY vec_id"""),

    // ADC top-k over the PQ codes: per-query lookup tables ride a
    // broadcast local relation, the corpus side touches ONLY its codes
    // (m lookups + a fold per pair). With fixed codebooks the ADC result
    // is an exact function of the codes — hash-checked even though the
    // search is approximate vs true distance (recall measured in PqSpec)
    Query("sim_topk_pq", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      // encode-once/probe-many: the flat code table persists per dir
      // (sim_pq_codes hash-checks the encoding itself); each invocation
      // measures the ADC probe over the 8-byte codes
      val codesPath = pqFlatCodePaths.getOrElseUpdate(dir, {
        val p = TempDirs.create("graft_pqflat")
        graft.sim.Pq.encode(e, "vec_id", "embedding", pqCodebooks(s, dir))
          .select(col("vec_id").as("neighbor_id"), col("codes"))
          .write.mode("overwrite").parquet(p)
        p
      })
      graft.sim.Pq.adcTopKFromCodes(s.read.parquet(codesPath), q,
          "vec_id", "embedding", pqCodebooks(s, dir), k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
    }, oracle =
      """WITH cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
                embedding::DOUBLE[] AS cv
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
            ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            ms AS (SELECT unnest(range(8)) AS m),
            sc AS (SELECT e.vec_id, ms.m, cb.j,
                list_reduce(list_transform(range(8), i ->
                  (e.v[ms.m*8 + i + 1] - cb.cv[ms.m*8 + i + 1])
                  * (e.v[ms.m*8 + i + 1] - cb.cv[ms.m*8 + i + 1])),
                  (a, b) -> a + b) AS d
              FROM ev e CROSS JOIN ms CROSS JOIN cbv cb),
            code AS (SELECT vec_id, m, j AS c FROM sc
              QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
            q AS (SELECT vec_id AS query_id, v AS qv FROM ev WHERE vec_id % 50 = 0),
            dm AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.m,
                list_reduce(list_transform(range(8), i ->
                  (q.qv[c.m*8 + i + 1] - cb.cv[c.m*8 + i + 1])
                  * (q.qv[c.m*8 + i + 1] - cb.cv[c.m*8 + i + 1])),
                  (a, b) -> a + b) AS d
              FROM code c JOIN cbv cb ON cb.j = c.c
              JOIN q ON q.query_id <> c.vec_id),
            tot AS (SELECT query_id, neighbor_id,
                list_reduce(list(d ORDER BY m), (a, b) -> a + b) AS dist
              FROM dm GROUP BY 1, 2)
            SELECT query_id, neighbor_id, round(dist, 6) AS adc_dist, rank FROM (
              SELECT query_id, neighbor_id, dist,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY dist, neighbor_id) AS INTEGER) AS rank
              FROM tot) WHERE rank <= 5"""),

    // IVF-PQ, the billion-scale composite: probe the 3 nearest coarse
    // cells per query, ADC re-rank only their members — candidate cost is
    // Σ probed-cell sizes. Fixed centroids + fixed codebooks make the
    // whole composite an exact function of the data (hash-checked)
    Query("sim_topk_ivfpq", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      // build-once/probe-many: the cell-partitioned code index persists per
      // process; each invocation measures the partition-pruned probe
      val idxPath = pqIndexPaths.getOrElseUpdate(dir, {
        val p = TempDirs.create("graft_ivfpq")
        graft.sim.Pq.buildCodeIndex(e, "vec_id", "embedding",
          fixedCentroids(s, dir), pqCodebooks(s, dir), p)
        p
      })
      graft.sim.Pq.probeCodeIndex(q, "vec_id", "embedding",
        fixedCentroids(s, dir), pqCodebooks(s, dir), idxPath, nProbe = 3, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cell"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
    }, oracle =
      // IVF-PQ: probe cells from the shared assignment scores (top-3 by
      // score DESC, cell DESC — the assignment tie rule), candidates =
      // probed cells' members, then the same PQ/ADC algebra as sim_topk_pq.
      // The log-structured-maintained index converges to the same state, so
      // sim_ivfpq_incr shares the oracle verbatim (ivfPqSql).
      ivfPqSql),

    // The SAME IVF-PQ composite served from a log-structured-MAINTAINED
    // code index: the index starts from a perturbed corpus (corrupted
    // vectors, a missing residue class, phantom rows); every invocation
    // applies the converging change batch under a FRESH generation
    // (upserts re-encode and append to their possibly-new cell, id
    // tombstones kill older rows wherever they live), and the probe must
    // match the fresh-build oracle exactly — maintained ≡ rebuilt
    Query("sim_ivfpq_incr", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val phantoms = e.filter(col("vec_id") % 13 === 7)
        .withColumn("vec_id", col("vec_id") + 10000000L)
      val (path, gen) = pqIncrIndexes.getOrElseUpdate(dir, {
        val p = TempDirs.create("graft_ivfpq_incr")
        val corrupted = e.withColumn("embedding",
          when(col("vec_id") % 13 === 0,
            transform(col("embedding"), x => x + lit(1.0f)))
            .otherwise(col("embedding")))
        graft.sim.Pq.buildCodeIndex(
          corrupted.filter(col("vec_id") % 13 =!= 5).unionByName(phantoms),
          "vec_id", "embedding", fixedCentroids(s, dir), pqCodebooks(s, dir), p)
        (p, new java.util.concurrent.atomic.AtomicLong(0L))
      })
      graft.sim.Pq.updateCodeIndex(path, fixedCentroids(s, dir),
        pqCodebooks(s, dir),
        upserts = e.filter(col("vec_id") % 13 === 0 || col("vec_id") % 13 === 5),
        idCol = "vec_id", vecCol = "embedding",
        deletes = phantoms.select(col("vec_id")), gen = gen.incrementAndGet())
      val q = e.filter(col("vec_id") % 50 === 0)
      graft.sim.Pq.probeCodeIndex(q, "vec_id", "embedding",
        fixedCentroids(s, dir), pqCodebooks(s, dir), path, nProbe = 3, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cell"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
    }, oracle = ivfPqSql),

    // The ANN code index kept fresh under a VECTOR CHANGE STREAM (the
    // bm25_stream shape for the similarity family): a cold index missing a
    // residue class and holding corrupted vectors for another converges
    // through a real readStream (one file per micro-batch, each applied
    // log-structured under its batch id) — and the probe must match the
    // fresh-build oracle
    Query("sim_ivfpq_stream", (s, dir) => {
      val path = pqIndexPaths.getOrElseUpdate(dir + "#stream", {
        val e = t(s, dir, "embeddings")
        val p = TempDirs.create("graft_ivfpqs")
        val stale = e.withColumn("embedding",
          when(pmod(col("vec_id"), lit(11)) === 5,
            transform(col("embedding"), x => -x)).otherwise(col("embedding")))
        graft.sim.Pq.buildCodeIndex(
          stale.filter(pmod(col("vec_id"), lit(11)) =!= 4),
          "vec_id", "embedding", fixedCentroids(s, dir), pqCodebooks(s, dir), p)
        val streamDir = TempDirs.create("graft_ivfpqs_in")
        e.filter(pmod(col("vec_id"), lit(11)).isin(4, 5))
          .select(col("vec_id"), col("embedding"))
          .repartition(3).write.mode("overwrite").parquet(streamDir)
        val noDeletes = e.filter(lit(false)).select(col("vec_id"))
        val cents = fixedCentroids(s, dir)
        val cbs = pqCodebooks(s, dir)
        val q = s.readStream.schema(s.read.parquet(streamDir).schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir)
          .writeStream
          .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
            graft.sim.Pq.updateCodeIndex(p, cents, cbs, b.toDF(), "vec_id",
              "embedding", noDeletes, gen = id + 1)
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        p
      })
      val q = t(s, dir, "embeddings").filter(col("vec_id") % 50 === 0)
      graft.sim.Pq.probeCodeIndex(q, "vec_id", "embedding",
        fixedCentroids(s, dir), pqCodebooks(s, dir), path, nProbe = 3, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cell"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
    }, streaming = true, oracle = ivfPqSql),

    // Binary (sign) quantization + exact Hamming top-k: 64 dims pack into
    // two 32-bit sign words, distance is two XOR+popcount ops — approximate
    // only in the REPRESENTATION, so given the packed bits the integer
    // top-k is exact and hash-checked end to end
    Query("sim_topk_hamming", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      Similarity.hammingTopK(e, q, "vec_id", "embedding", dim = 64, k = 5)
    }, oracle =
      """WITH p AS (SELECT vec_id,
             CAST(list_sum(list_transform(range(0, 32), i -> CASE
               WHEN embedding[(i+1)::INT] > 0 THEN (1::BIGINT << i::INT)
               ELSE 0 END)) AS BIGINT) AS h0,
             CAST(list_sum(list_transform(range(32, 64), i -> CASE
               WHEN embedding[(i+1)::INT] > 0 THEN (1::BIGINT << (i-32)::INT)
               ELSE 0 END)) AS BIGINT) AS h1
           FROM embeddings),
           q AS (SELECT vec_id AS query_id, h0 AS q0, h1 AS q1 FROM p
                 WHERE vec_id % 50 = 0)
           SELECT query_id, neighbor_id, hamming, rank FROM (
             SELECT query_id, p.vec_id AS neighbor_id,
               CAST(bit_count(xor(q0, p.h0)) + bit_count(xor(q1, p.h1))
                 AS BIGINT) AS hamming,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY hamming, p.vec_id) AS INTEGER) AS rank
             FROM q JOIN p ON query_id <> p.vec_id) WHERE rank <= 5"""),

    // Matryoshka-style two-stage retrieval: coarse rank on the PREFIX 16
    // components (a quarter of the vector bytes cross the corpus-wide
    // pass), exact full-dim re-rank of the 25 survivors — both stages are
    // double dot-products in element order, so the composite hash-checks
    Query("sim_topk_mrl", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      Similarity.mrlTopK(e, q, "vec_id", "embedding", prefixDim = 16, m = 25, k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }, oracle =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           p AS (SELECT vec_id, v[1:16] AS pv, v FROM e),
           q AS (SELECT vec_id AS query_id, pv AS qp, v AS qv FROM p
                 WHERE vec_id % 50 = 0),
           cand AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, p.vec_id AS neighbor_id,
               CASE WHEN sqrt(list_dot_product(qp, qp)) * sqrt(list_dot_product(pv, pv)) = 0
                 THEN 0.0 ELSE list_dot_product(qp, pv)
                   / (sqrt(list_dot_product(qp, qp)) * sqrt(list_dot_product(pv, pv))) END AS coarse,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY coarse DESC, p.vec_id) AS crk
             FROM q JOIN p ON query_id <> p.vec_id) WHERE crk <= 25)
           SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank FROM (
             SELECT c.query_id, c.neighbor_id,
               CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)) = 0
                 THEN 0.0 ELSE list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) END AS cos,
               CAST(row_number() OVER (PARTITION BY c.query_id
                 ORDER BY cos DESC, c.neighbor_id) AS INTEGER) AS rank
             FROM cand c JOIN e ON c.neighbor_id = e.vec_id
                  JOIN q ON c.query_id = q.query_id) WHERE rank <= 5"""),

    // Distributed GRAM matrix (the PCA/whitening substrate): Σ_rows x·xᵀ
    // as one exploded aggregate — per-term products quantize to integer
    // micro-units BEFORE the sum (house rule: no float summation whose
    // order could differ), and map-side partial aggregation bounds the
    // shuffle to partitions × 64² keys regardless of corpus size
    Query("embed_gram", (s, dir) => {
      val e = t(s, dir, "embeddings")
      e.select(col("embedding").as("__v"),
          posexplode(col("embedding")).as(Seq("i", "__xi")))
        .select(col("i"), col("__xi"),
          posexplode(col("__v")).as(Seq("j", "__xj")))
        .groupBy(col("i"), col("j"))
        .agg(sum(floor(col("__xi").cast("double") * col("__xj") * 1e6)
          .cast("long")).as("g_micro"))
    }, oracle =
      """WITH v AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
           a AS (SELECT v, unnest(v) AS xi,
                   CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS i FROM v),
           b AS (SELECT i, xi, unnest(v) AS xj,
                   CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS j FROM a)
           SELECT i, j,
             CAST(sum(CAST(floor(xi * xj * 1000000) AS BIGINT)) AS BIGINT)
               AS g_micro
           FROM b GROUP BY i, j"""),

    // Embedding-cosine near-dup pairs (brute-force exact baseline; the LSH
    // scale path is Similarity.cosineNearDupPairs, approximate by design)
    Query("embed_cos_neardup", (s, dir) =>
      Similarity.bruteForcePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine")), oracle =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45"""),

    // SemDeDup-style cell-scoped near-dup (Abbas et al. 2023): exact cosine
    // pairs only WITHIN each embedding cluster cell — Σ|cell|² instead of
    // corpus², one equi-join exchange on the cell key. Same fixed-centroid
    // assignment the sim_ivf_assign oracle re-derives.
    Query("embed_neardup_cell", (s, dir) =>
      Similarity.cellScopedPairs(fixedCellAssignment(s, dir),
        t(s, dir, "embeddings"), "vec_id", "embedding", "cell", threshold = 0.4)
        .select(col("id_a"), col("id_b"), col("cell"),
          round(col("cosine"), 6).as("cosine")), oracle =
      // same pair formulation as embed_cos_neardup, restricted to co-celled
      // vectors via the shared fixed-centroid assignment CTEs
      s"""WITH $ivfAssignCtes
           SELECT a.vec_id AS id_a, b.vec_id AS id_b, aa.cell,
             round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
           FROM asn aa JOIN asn bb ON aa.cell = bb.cell AND aa.vec_id < bb.vec_id
           JOIN e a ON a.vec_id = aa.vec_id JOIN e b ON b.vec_id = bb.vec_id
           WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4"""),

    // Embedding near-dup via LSH buckets — the scale path (approximate:
    // cross-bucket pairs are missed; every returned pair is exact-verified).
    // md5 hyperplane family ⇒ the bucket partition and therefore the pair
    // set are an exact function of the data — hash-checked against an
    // oracle re-deriving the buckets (xxhash64 cosineNearDupPairs stays the
    // throughput default, recall-pinned in DedupSimSpec)
    Query("embed_cos_neardup_lsh", (s, dir) =>
      // 2^3 buckets: sized for the test corpora (single-table collision P
      // at cosine 0.45 is ~(1-θ/π)^nBits ≈ 0.27, so tiny nBits keeps the
      // driver's check meaningful); at scale raise nBits with corpus size
      // and union multiple tables for recall
      Similarity.cosineNearDupPairsMd5(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.45, nBits = 3)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine")), oracle =
      // md5-LSH near-dup pairs: 3-bit bucket partition (seed 0), pairs
      // share a bucket, exact cosine >= threshold (unrounded filter, like
      // embed_cos_neardup)
      {
        def nib(n: Int) =
          s"(strpos('0123456789abcdef', substr(h, $n, 1)) - 1)"
        s"""WITH hp AS (
              SELECT i, list(comp ORDER BY j) AS hl FROM (
                SELECT i, j,
                  ((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})
                    % 1001 - 500) / 500.0 AS comp
                FROM (SELECT i, j, md5('lsh:0:' || i::VARCHAR || ':' || j::VARCHAR) AS h
                      FROM range(3) t(i) CROSS JOIN range(64) u(j))
              ) GROUP BY i),
            e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            b AS (SELECT vec_id,
                CAST(sum(CASE WHEN proj > 0 THEN (1::BIGINT << i) ELSE 0 END)
                  AS BIGINT) AS bucket
              FROM (SELECT e.vec_id, hp.i,
                  list_reduce(list_transform(range(64), j -> e.v[j+1] * hp.hl[j+1]),
                    (a, b) -> a + b) AS proj
                FROM e CROSS JOIN hp)
              GROUP BY vec_id)
            SELECT ba.vec_id AS id_a, bb.vec_id AS id_b,
              round(list_dot_product(a.v, c.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
            FROM b ba JOIN b bb ON ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id
            JOIN e a ON a.vec_id = ba.vec_id JOIN e c ON c.vec_id = bb.vec_id
            WHERE list_dot_product(a.v, c.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(c.v, c.v))) >= 0.45"""
      }),

    // Embedding int8 min-max quantization (the 4x storage compression an
    // embedding store applies before indexing; codes engine-reproducible)
    Query("embed_quantize", (s, dir) => {
      val q = Curation.quantizeInt8(col("embedding"))
      t(s, dir, "embeddings").select(col("vec_id"),
        array_join(transform(q, _.cast("string")), ",").as("q_csv"))
    }, oracle =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              m AS (SELECT vec_id, v, list_aggregate(v, 'min') AS mn,
                    list_aggregate(v, 'max') AS mx FROM e)
           SELECT vec_id, array_to_string(list_transform(v,
               x -> CASE WHEN mx = mn THEN '0'
                 ELSE ((round((x - mn) / (mx - mn) * 255) - 128)::INTEGER)::VARCHAR END),
             ',') AS q_csv
           FROM m"""),

    // Top-principal-component projection (dominant-direction probe /
    // ABTT de-biasing substrate): the centered Gram matrix aggregates
    // DISTRIBUTED (d² state, map-side combined — row count never touches
    // the driver), the 8-step power iteration runs on the collected 64×64
    // control matrix with index-ordered folds, and the projection is a
    // narrow literal expression. μ and G quantize after their distributed
    // sums; everything after is bit-identical cross-engine by op order
    Query("embed_pca", (s, dir) => {
      val (mu, v1) = pcaModel(s, dir)
      graft.sim.Pca.pc1ProjectionWith(t(s, dir, "embeddings"),
        "vec_id", "embedding", mu, v1)
    }, oracle = {
      // μ and G quantize after their sums (the cross-engine merge-order
      // seam); every fold afterwards is index-ordered, so the power
      // iteration replays Pca.powerIterate's op sequence EXACTLY
      // (list_reduce starts at elt 1; Scala starts at 0.0 — equal since
      // 0.0 + x == x). Sign fix: first nonzero coordinate positive.
      val iter = (k: Int) =>
        s"""y$k AS MATERIALIZED (SELECT g.i AS i, list_reduce(list_transform(range(64),
                j -> g.grow[j+1] * p.v[j+1]),
                (a, b) -> a + b) AS y FROM grows g CROSS JOIN v${k - 1} p),
              n$k AS MATERIALIZED (SELECT sqrt(list_reduce(list_transform(yl, x -> x * x),
                (a, b) -> a + b)) AS nrm
                FROM (SELECT list(y ORDER BY i) AS yl FROM y$k)),
              v$k AS MATERIALIZED (SELECT list(y / n.nrm ORDER BY i) AS v
                FROM y$k CROSS JOIN n$k n GROUP BY n.nrm)"""
      val iters = (1 to 8).map(iter).mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            ex AS (SELECT vec_id, unnest(v) AS x,
                generate_subscripts(v, 1) AS i FROM e),
            mu AS (SELECT i, round(avg(x), 6) AS m FROM ex GROUP BY 1),
            muv AS (SELECT list(m ORDER BY i) AS mv FROM mu),
            cent AS (SELECT e.vec_id, list_transform(range(64),
                i -> e.v[i+1] - m.mv[i+1]) AS cv
                FROM e CROSS JOIN muv m),
            cx AS (SELECT vec_id, unnest(cv) AS x,
                generate_subscripts(cv, 1) AS i FROM cent),
            g0 AS MATERIALIZED (SELECT (a.i - 1) * 64 + (b.i - 1) AS k,
                round(sum(a.x * b.x), 6) AS gv
                FROM cx a JOIN cx b USING (vec_id) GROUP BY 1),
            grows AS MATERIALIZED (SELECT k // 64 AS i, list(gv ORDER BY k) AS grow
                FROM g0 GROUP BY 1),
            v0 AS (SELECT list_transform(range(64),
                i -> CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END) AS v),
            $iters,
            sgn AS (SELECT CASE WHEN COALESCE(
                list_filter(v, x -> x <> 0.0)[1], 1.0) < 0
                THEN -1.0 ELSE 1.0 END AS s FROM v8),
            vf AS (SELECT list_transform(p.v, x -> x * g.s) AS v
                FROM v8 p CROSS JOIN sgn g)
            SELECT e.vec_id, round(list_reduce(list_transform(range(64),
              i -> (e.v[i+1] - m.mv[i+1]) * f.v[i+1]), (a, b) -> a + b),
              6) AS pc1
            FROM e CROSS JOIN muv m CROSS JOIN vf f"""
    }),

    // INCREMENTALLY-MAINTAINED PCA: the fit's sufficient statistics
    // (n, Σx, Σxxᵀ) are an abelian group over EXACT INTEGER micro-units,
    // so a change batch adds its vectors' moments and retracts deleted
    // ones with no corpus re-read — and maintained ≡ rebuilt is exact,
    // not merge-order-approximate. This query converges a corrupted
    // state (a third missing, scaled phantoms present) by one delta
    // batch, refits (floored integer means, integer centered scatter,
    // the usual power iteration), and projects; the oracle replays the
    // full-corpus moments directly
    Query("embed_pca_incr", (s, dir) => {
      val (mu, v1) = pcaIncrCache.getOrElseUpdate(dir, {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val phantoms = e.filter(col("vec_id") % 9 === 4)
          .withColumn("embedding",
            transform(col("embedding"), x => x * lit(0.5f)))
        val stateDir = TempDirs.create("graft_pcam")
        graft.sim.Pca.mergeMoments(
            graft.sim.Pca.momentDeltas(
              e.filter(col("vec_id") % 3 =!= 0), "embedding", 64),
            graft.sim.Pca.momentDeltas(phantoms, "embedding", 64))
          .write.mode("overwrite").parquet(stateDir)
        val merged = graft.sim.Pca.mergeMoments(
          s.read.parquet(stateDir),
          graft.sim.Pca.momentDeltas(
            e.filter(col("vec_id") % 3 === 0), "embedding", 64),
          graft.sim.Pca.momentDeltas(phantoms, "embedding", 64, sign = -1))
        graft.sim.Pca.fitFromMoments(
          merged.as[(Int, Long)].collect().toSeq, 64)
      })
      graft.sim.Pca.pc1ProjectionMoments(t(s, dir, "embeddings"),
        "vec_id", "embedding", mu, v1)
    }, oracle = {
      // moment-path replay: EXACT integer micro-unit moments over the
      // full corpus (what the maintained state converges to, bit for
      // bit), truncated integer means (// truncates like JVM /),
      // integer centered scatter, then the same 8-step power
      // iteration and projection as embed_pca's oracle
      val iter = (k: Int) =>
        s"""y$k AS MATERIALIZED (SELECT g.i AS i, list_reduce(list_transform(range(64),
                j -> g.grow[j+1] * p.v[j+1]),
                (a, b) -> a + b) AS y FROM grows g CROSS JOIN v${k - 1} p),
              n$k AS MATERIALIZED (SELECT sqrt(list_reduce(list_transform(yl, x -> x * x),
                (a, b) -> a + b)) AS nrm
                FROM (SELECT list(y ORDER BY i) AS yl FROM y$k)),
              v$k AS MATERIALIZED (SELECT list(y / n.nrm ORDER BY i) AS v
                FROM y$k CROSS JOIN n$k n GROUP BY n.nrm)"""
      val iters = (1 to 8).map(iter).mkString(",\n")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
                x -> CAST(round(x * 1000000.0) AS BIGINT)) AS q
              FROM embeddings),
            nn AS (SELECT count(*)::BIGINT AS n FROM e),
            ex AS (SELECT vec_id, unnest(q) AS x,
                generate_subscripts(q, 1) AS i FROM e),
            sx AS (SELECT i, sum(x)::BIGINT AS s FROM ex GROUP BY 1),
            mu AS (SELECT i, (s // nn.n)::BIGINT AS m FROM sx CROSS JOIN nn),
            muv AS (SELECT list(m ORDER BY i) AS mv FROM mu),
            sv AS (SELECT list(s ORDER BY i) AS sl FROM sx),
            qq AS MATERIALIZED (SELECT (a.i - 1) * 64 + (b.i - 1) AS k,
                sum(a.x * b.x)::BIGINT AS qs
                FROM ex a JOIN ex b USING (vec_id) GROUP BY 1),
            cm AS MATERIALIZED (SELECT k,
                (qs - sv.sl[(k // 64) + 1] * muv.mv[(k % 64) + 1]
                    - muv.mv[(k // 64) + 1] * sv.sl[(k % 64) + 1]
                    + nn.n * muv.mv[(k // 64) + 1] * muv.mv[(k % 64) + 1]
                  )::DOUBLE AS gv
                FROM qq CROSS JOIN sv CROSS JOIN muv CROSS JOIN nn),
            grows AS MATERIALIZED (SELECT k // 64 AS i,
                list(gv ORDER BY k) AS grow FROM cm GROUP BY 1),
            v0 AS (SELECT list_transform(range(64),
                i -> CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END) AS v),
            $iters,
            sgn AS (SELECT CASE WHEN COALESCE(
                list_filter(v, x -> x <> 0.0)[1], 1.0) < 0
                THEN -1.0 ELSE 1.0 END AS s FROM v8),
            vf AS (SELECT list_transform(p.v, x -> x * g.s) AS v
                FROM v8 p CROSS JOIN sgn g)
            SELECT e.vec_id, round(list_reduce(list_transform(range(64),
              i -> (e.q[i+1] - m.mv[i+1])::DOUBLE * f.v[i+1]),
              (a, b) -> a + b) / 1000000.0, 6) AS pc1
            FROM e CROSS JOIN muv m CROSS JOIN vf f"""
    })
  )
}
