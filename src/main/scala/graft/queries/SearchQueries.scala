package graft.queries

import graft.core._
import graft.sim.Ivf
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Text retrieval (BM25, phrase, RM3, hybrid two-tower), the training
  * pairs mined from it, and clustering of the embeddings. */
object SearchQueries {
  import Inputs._

  private val bm25Indexes =
    scala.collection.concurrent.TrieMap.empty[String, graft.text.Retrieval.InvertedIndex]

  /** Quantized-Lloyd k-means centroids (8 cells × 2 iterations), memoized
    * per dir — trained once, assigned many (the model is control data). */
  private val kmeansCentroidCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, Seq[Double])]]
  private def kmeansCentroids(s: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    kmeansCentroidCache.getOrElseUpdate(dir,
      Ivf.trainQuantized(t(s, dir, "embeddings"), "vec_id", "embedding",
        nCells = 8, iters = 2))

  // one BM25 formulation, shared verbatim by search_bm25 (fresh build)
  // and search_bm25_incr (log-structured maintenance converging to the
  // same corpus — maintained ≡ rebuilt is exactly the claim)
  private val bm25Sql =
    raw"""WITH q AS (SELECT unnest(['fast','table','scan','join','merge']) AS term),
            d AS (SELECT doc_id, $toks AS toks FROM documents),
            dl AS (SELECT doc_id, len(toks) AS dl FROM d),
            tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
            df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
            stats AS (SELECT count(*) AS n,
                (sum(dl) * 1000000) // count(*) AS avgdl_micro FROM dl),
            contrib AS (
              SELECT tf.doc_id,
                CAST(round(
                  ln(1.0 + (n - df.df + 0.5) / (df.df + 0.5)) *
                  (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl /
                    (avgdl_micro / 1000000.0))) * 1000000) AS BIGINT) AS c_micro
              FROM tf JOIN q USING (term) JOIN df USING (term)
                JOIN dl USING (doc_id) CROSS JOIN stats),
            scored AS (SELECT doc_id AS doc,
                CAST(sum(c_micro) AS BIGINT) AS score_micro,
                count(*) AS n_terms
              FROM contrib GROUP BY 1)
          SELECT doc, score_micro, n_terms, rank FROM (
            SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc) AS rank
            FROM scored)
          WHERE rank <= 20"""
  // the two "more like this" tower lists (MoreLikeThis term
  // selection + bm25 + cosine), shared by the hybrid-fusion and
  // hard-negative oracles
  private val hybridTowersCtes = raw"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
              dl AS (SELECT doc_id, len(toks) AS dl FROM d),
              tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
              df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
              qt AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS term
                     FROM d WHERE doc_id % 199 = 0),
              q AS (SELECT qid, term FROM (
                  SELECT qt.qid, qt.term, row_number() OVER (PARTITION BY qt.qid
                    ORDER BY df.df, qt.term) AS rn
                  FROM qt JOIN df USING (term)) WHERE rn <= 10),
              stats AS (SELECT count(*) AS n,
                  (sum(dl) * 1000000) // count(*) AS avgdl_micro FROM dl),
              contrib AS (
                SELECT q.qid, tf.doc_id,
                  CAST(round(
                    ln(1.0 + (n - df.df + 0.5) / (df.df + 0.5)) *
                    (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl /
                      (avgdl_micro / 1000000.0))) * 1000000) AS BIGINT) AS c_micro
                FROM tf JOIN q USING (term) JOIN df USING (term)
                  JOIN dl USING (doc_id) CROSS JOIN stats),
              scored AS (SELECT qid, doc_id AS doc,
                  CAST(sum(c_micro) AS BIGINT) AS s FROM contrib GROUP BY 1, 2),
              lex1 AS (SELECT qid, doc, s FROM (
                  SELECT *, row_number() OVER (PARTITION BY qid
                    ORDER BY s DESC, doc) AS r FROM scored) WHERE r <= 21),
              lex AS (SELECT qid, doc, r FROM (
                  SELECT qid, doc, row_number() OVER (PARTITION BY qid
                    ORDER BY s DESC, doc) AS r
                  FROM lex1 WHERE doc <> qid) WHERE r <= 20),
              e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 199 = 0),
              den AS (SELECT qid, neighbor_id AS doc, r FROM (
                  SELECT qid, neighbor_id, row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, neighbor_id) AS r FROM (
                    SELECT qv.qid, e.vec_id AS neighbor_id,
                      CASE WHEN sqrt(list_dot_product(qv.qv, qv.qv)) *
                          sqrt(list_dot_product(e.v, e.v)) = 0 THEN 0.0
                        ELSE list_dot_product(qv.qv, e.v) /
                          (sqrt(list_dot_product(qv.qv, qv.qv)) *
                           sqrt(list_dot_product(e.v, e.v))) END AS cos
                    FROM qv JOIN e ON qid <> e.vec_id)) WHERE r <= 20)"""

  val all: Seq[Query] = Seq(
    // BM25-ranked retrieval over a persisted inverted index (the IVF
    // build/probe pattern on text): postings hash-partitioned by term
    // bucket, the probe statically prunes to the query terms' buckets;
    // per-term contributions in integer micro-units so the per-doc sum is
    // exact under any partitioning
    Query("search_bm25", (s, dir) => {
      val index = bm25Indexes.getOrElseUpdate(dir, {
        val idxDir = TempDirs.create("graft_bm25")
        graft.text.Retrieval.buildIndex(t(s, dir, "documents"), "text", "doc_id",
          idxDir, numBuckets = 64)
      })
      graft.text.Retrieval.bm25(s, index, "fast table scan join merge", k = 20)
    }, oracle = bm25Sql),

    // RM3 pseudo-relevance feedback — the classic query-expansion loop:
    // top-10 feedback docs nominate 8 expansion terms (by occurrence,
    // ties → term asc, original terms excluded), each weighted
    // ⌊400000·tf/Σtf⌋ against 600000 per original term, then a second
    // weighted bucket-pruned BM25 pass. The feedback set is control-sized
    // by construction; neither pass scans the corpus. All-integer micro
    // weights and contributions — the oracle replays both passes exactly
    Query("search_rm3", (s, dir) => {
      val index = bm25Indexes.getOrElseUpdate(dir, {
        val idxDir = TempDirs.create("graft_bm25")
        graft.text.Retrieval.buildIndex(t(s, dir, "documents"), "text", "doc_id",
          idxDir, numBuckets = 64)
      })
      graft.text.Retrieval.bm25Rm3(s, index, t(s, dir, "documents"),
        "text", "doc_id", "fast table scan join merge", k = 20)
    }, oracle =
      // RM3 replay: pass 1 = bm25Sql's contribs → top-10 feedback docs;
      // expansion terms by occurrence count within them (orig terms
      // excluded, ties term asc); integer micro weights; pass 2 sums
      // weight·c_micro over the expanded term set
      raw"""WITH q AS (SELECT unnest(['fast','table','scan','join','merge']) AS term),
            d AS (SELECT doc_id, $toks AS toks FROM documents),
            dl AS (SELECT doc_id, len(toks) AS dl FROM d),
            tok AS MATERIALIZED (SELECT doc_id, unnest(toks) AS term FROM d),
            tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf
              FROM tok GROUP BY 1, 2),
            df AS MATERIALIZED (SELECT term, count(DISTINCT doc_id) AS df
              FROM tok GROUP BY 1),
            stats AS (SELECT count(*) AS n,
                (sum(dl) * 1000000) // count(*) AS avgdl_micro FROM dl),
            c1 AS (SELECT tf.doc_id,
                CAST(round(
                  ln(1.0 + (n - df.df + 0.5) / (df.df + 0.5)) *
                  (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl /
                    (avgdl_micro / 1000000.0))) * 1000000) AS BIGINT) AS c_micro
              FROM tf JOIN q USING (term) JOIN df USING (term)
                JOIN dl USING (doc_id) CROSS JOIN stats),
            fb AS (SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER (
                  ORDER BY sum(c_micro) DESC, doc_id) AS r
                FROM c1 GROUP BY doc_id) WHERE r <= 10),
            fbsel AS (SELECT term, tf FROM (
                SELECT t.term, count(*) AS tf,
                  row_number() OVER (ORDER BY count(*) DESC, t.term) AS r
                FROM tok t JOIN fb USING (doc_id)
                WHERE t.term NOT IN (SELECT term FROM q)
                GROUP BY t.term) WHERE r <= 8),
            fbtot AS (SELECT sum(tf) AS tot FROM fbsel),
            w AS (SELECT term, CAST(600000 AS BIGINT) AS w FROM q
              UNION ALL
              SELECT term, CAST((400000 * tf) // tot AS BIGINT) AS w
              FROM fbsel CROSS JOIN fbtot),
            c2 AS (SELECT tf.doc_id, w.w,
                CAST(round(
                  ln(1.0 + (n - df.df + 0.5) / (df.df + 0.5)) *
                  (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl /
                    (avgdl_micro / 1000000.0))) * 1000000) AS BIGINT) AS c_micro
              FROM tf JOIN w USING (term) JOIN df USING (term)
                JOIN dl USING (doc_id) CROSS JOIN stats),
            scored AS (SELECT doc_id AS doc,
                CAST(sum(c_micro * w) AS BIGINT) AS score_wmicro,
                count(*) AS n_terms
              FROM c2 GROUP BY 1)
          SELECT doc, score_wmicro, n_terms, rank FROM (
            SELECT *, row_number() OVER (
              ORDER BY score_wmicro DESC, doc) AS rank
            FROM scored) WHERE rank <= 20"""),

    // The same index maintained LOG-STRUCTURED instead of rebuilt: the
    // index starts from a perturbed corpus (corrupted texts, missing docs,
    // phantom rows), one change batch supersedes/adds/deletes its way to
    // the true corpus through gen-stamped appends + tombstones + stats
    // deltas (old doc lengths point-read from the ids' own partitions,
    // never an index scan) — and the probe must match the full-build
    // oracle exactly
    Query("search_bm25_incr", (s, dir) => {
      val index = bm25Indexes.getOrElseUpdate(dir + "#incr", {
        val idxDir = TempDirs.create("graft_bm25i")
        val docs = t(s, dir, "documents")
        val corrupted = docs.withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" stalepadding")))
            .otherwise(col("text")))
        val phantoms = docs.filter(col("doc_id") % 13 === 7)
          .withColumn("doc_id", col("doc_id") + 10000000L)
        val idx = graft.text.Retrieval.buildIndex(
          corrupted.filter(col("doc_id") % 13 =!= 5).unionByName(phantoms),
          "text", "doc_id", idxDir, numBuckets = 64)
        graft.text.Retrieval.updateIndex(idx,
          upserts = docs.filter(col("doc_id") % 13 === 0 || col("doc_id") % 13 === 5),
          textCol = "text", idCol = "doc_id",
          deletes = phantoms.select(col("doc_id")), gen = 1L)
        idx
      })
      graft.text.Retrieval.bm25(s, index, "fast table scan join merge", k = 20)
    }, oracle = bm25Sql),

    // BM25 for a BATCH of queries in one pass — a query log scored against
    // the same index: distinct terms prune the buckets, (qid, term) pairs
    // broadcast onto the pruned postings, one (qid, doc) aggregate, per-qid
    // top-k
    Query("search_bm25_batch", (s, dir) => {
      val index = bm25Indexes.getOrElseUpdate(dir, {
        val idxDir = TempDirs.create("graft_bm25")
        graft.text.Retrieval.buildIndex(t(s, dir, "documents"), "text", "doc_id",
          idxDir, numBuckets = 64)
      })
      import s.implicits._
      val qs = Seq(("q1", "fast table scan"), ("q2", "join merge"),
        ("q3", "window sort stream")).toDF("qid", "qtext")
      graft.text.Retrieval.bm25Batch(s, index, qs, "qid", "qtext", k = 10)
    }, oracle =
      raw"""WITH q AS (SELECT * FROM (VALUES
                ('q1','fast'),('q1','table'),('q1','scan'),
                ('q2','join'),('q2','merge'),
                ('q3','window'),('q3','sort'),('q3','stream')) AS t(qid, term)),
              d AS (SELECT doc_id, $toks AS toks FROM documents),
              dl AS (SELECT doc_id, len(toks) AS dl FROM d),
              tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
              df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
              stats AS (SELECT count(*) AS n,
                  (sum(dl) * 1000000) // count(*) AS avgdl_micro FROM dl),
              contrib AS (
                SELECT q.qid, tf.doc_id,
                  CAST(round(
                    ln(1.0 + (n - df.df + 0.5) / (df.df + 0.5)) *
                    (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl /
                      (avgdl_micro / 1000000.0))) * 1000000) AS BIGINT) AS c_micro
                FROM tf JOIN q USING (term) JOIN df USING (term)
                  JOIN dl USING (doc_id) CROSS JOIN stats),
              scored AS (SELECT qid, doc_id AS doc,
                  CAST(sum(c_micro) AS BIGINT) AS score_micro,
                  count(*) AS n_terms
                FROM contrib GROUP BY 1, 2)
            SELECT qid, doc, score_micro, n_terms, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY score_micro DESC, doc) AS rank
              FROM scored)
            WHERE rank <= 10"""),

    // HYBRID retrieval: BM25 (sparse) and cosine (dense) more-like-this
    // lists fused by reciprocal rank — integer nano-unit contributions, so
    // the fused ranking is exact and oracle-checked end to end. Probe docs
    // query BOTH towers: their distinct tokens the pruned postings, their
    // embedding one broadcast corpus scan
    Query("search_hybrid_rrf", (s, dir) => {
      val index = bm25Indexes.getOrElseUpdate(dir, {
        val idxDir = TempDirs.create("graft_bm25")
        graft.text.Retrieval.buildIndex(t(s, dir, "documents"), "text", "doc_id",
          idxDir, numBuckets = 64)
      })
      val probes = t(s, dir, "documents").filter(col("doc_id") % 199 === 0)
        .select(col("doc_id"), col("text"))
      graft.text.Retrieval.hybridRrf(s, index, probes, "doc_id", "text",
        t(s, dir, "embeddings"), "vec_id", "embedding",
        kEach = 20, kOut = 10)
    }, oracle =
      // Retrieval.hybridRrf: the bm25Sql scoring CTEs with probe-doc
      // distinct tokens as queries (top-21 minus self, re-ranked, top-20),
      // the sim_topk_bruteforce cosine (top-20, self excluded by the
      // join), fused by integer nano-unit reciprocal ranks
      (hybridTowersCtes + """,
              fused AS (SELECT qid, doc, count(*) AS n_lists,
                  CAST(sum(CAST(round(1000000000.0 / (60 + r)) AS BIGINT))
                    AS BIGINT) AS rrf_nano
                FROM (SELECT * FROM lex UNION ALL SELECT * FROM den)
                GROUP BY 1, 2)
            SELECT qid, doc, n_lists, rrf_nano, rank FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY qid
                ORDER BY rrf_nano DESC, doc) AS INTEGER) AS rank
              FROM fused)
            WHERE rank <= 10""")),

    // HARD-NEGATIVE mining: lexical top-k minus dense top-k per probe —
    // BM25-close but cosine-far, the contrastive-training negative set.
    // One anti-join over the same two tower lists the hybrid query fuses
    Query("mine_hard_negatives", (s, dir) => {
      val index = bm25Indexes.getOrElseUpdate(dir, {
        val idxDir = TempDirs.create("graft_bm25")
        graft.text.Retrieval.buildIndex(t(s, dir, "documents"), "text", "doc_id",
          idxDir, numBuckets = 64)
      })
      val probes = t(s, dir, "documents").filter(col("doc_id") % 199 === 0)
        .select(col("doc_id"), col("text"))
      graft.text.Retrieval.hardNegatives(s, index, probes, "doc_id", "text",
        t(s, dir, "embeddings"), "vec_id", "embedding", kEach = 20)
    }, oracle =
      // the same towers, ANTI-joined: lexical hits the dense list misses
      (hybridTowersCtes + """
            SELECT qid, doc, CAST(r AS INTEGER) AS lex_rank
            FROM lex ANTI JOIN den USING (qid, doc)""")),

    // PARAPHRASE positives: dense top-k minus lexical top-k per probe —
    // semantically close with little surface overlap, the contrastive
    // positive candidates lexical matching cannot surface
    Query("mine_paraphrase_pairs", (s, dir) => {
      val index = bm25Indexes.getOrElseUpdate(dir, {
        val idxDir = TempDirs.create("graft_bm25")
        graft.text.Retrieval.buildIndex(t(s, dir, "documents"), "text", "doc_id",
          idxDir, numBuckets = 64)
      })
      val probes = t(s, dir, "documents").filter(col("doc_id") % 199 === 0)
        .select(col("doc_id"), col("text"))
      graft.text.Retrieval.paraphrasePositives(s, index, probes, "doc_id", "text",
        t(s, dir, "embeddings"), "vec_id", "embedding", kEach = 20)
    }, oracle =
      // the converse anti-join: dense hits the lexical list misses
      (hybridTowersCtes + """
            SELECT qid, doc, CAST(r AS INTEGER) AS dense_rank
            FROM den ANTI JOIN lex USING (qid, doc)""")),

    // The search index kept fresh under a DOCUMENT CHANGE STREAM: the cold
    // index misses some docs and holds stale text for others; the fresh
    // copies arrive as a real readStream (one parquet file per
    // micro-batch), each batch applied log-structured through foreachBatch
    // under its batch id — and the probe must match the fresh-build oracle
    Query("search_bm25_stream", (s, dir) => {
      val index = bm25Indexes.getOrElseUpdate(dir + "#stream", {
        val docs = t(s, dir, "documents")
        val idxDir = TempDirs.create("graft_bm25s")
        val stale = docs.withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 5, concat(col("text"), lit(" staleword")))
            .otherwise(col("text")))
        val idx = graft.text.Retrieval.buildIndex(
          stale.filter(pmod(col("doc_id"), lit(11)) =!= 4),
          "text", "doc_id", idxDir, numBuckets = 64)
        val streamDir = TempDirs.create("graft_bm25s_in")
        docs.filter(pmod(col("doc_id"), lit(11)).isin(4, 5))
          .select(col("doc_id"), col("text"))
          .repartition(3).write.mode("overwrite").parquet(streamDir)
        val noDeletes = docs.filter(lit(false)).select(col("doc_id"))
        val q = s.readStream.schema(s.read.parquet(streamDir).schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir)
          .writeStream
          .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
            graft.text.Retrieval.updateIndex(idx, b.toDF(), "text", "doc_id",
              noDeletes, gen = id + 1)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        idx
      })
      graft.text.Retrieval.bm25(s, index, "fast table scan join merge", k = 20)
    }, streaming = true, oracle = bm25Sql),

    // Exact phrase search over the positional postings: each term's
    // postings are a partition-pruned read, candidates intersect with
    // doc equi-joins, occurrences count by a codegen'd position-array
    // intersection — never a corpus scan
    Query("search_phrase", (s, dir) => {
      val index = bm25Indexes.getOrElseUpdate(dir, {
        val idxDir = TempDirs.create("graft_bm25")
        graft.text.Retrieval.buildIndex(t(s, dir, "documents"), "text", "doc_id",
          idxDir, numBuckets = 64)
      })
      graft.text.Retrieval.phraseSearch(s, index, "table scan", k = 20)
    }, oracle =
      raw"""WITH d AS (SELECT doc_id, $toks AS t FROM documents),
              o AS (SELECT doc_id, len(list_filter(range(len(t) - 1),
                    i -> t[i+1] = 'table' AND t[i+2] = 'scan')) AS n_hits FROM d)
            SELECT doc_id AS doc, CAST(n_hits AS BIGINT) AS n_hits, rank FROM (
              SELECT *, row_number() OVER (ORDER BY n_hits DESC, doc_id) AS rank
              FROM o WHERE n_hits > 0)
            WHERE rank <= 20"""),

    // Trained k-means clustering — 2 QUANTIZED Lloyd iterations from the
    // id-ordered seed (Ivf.trainQuantized): the curation substrate of
    // cluster-balanced sampling and SemDeDup-style semantic dedup, here as
    // a first-class clustering op whose TRAINED model is itself
    // reproducible: per-iteration centroid means quantize to 6 decimals,
    // so the oracle unrolls the same two iterations and hash-matches the
    // final assignment exactly. Centroids are collected control data;
    // assignment is a narrow projection (no join, no shuffle)
    Query("cluster_kmeans", (s, dir) =>
      Ivf.assignCells(t(s, dir, "embeddings"), "vec_id", "embedding",
        kmeansCentroids(s, dir)), oracle = {
      // unrolled quantized-Lloyd: assignment → round(mean,6) centroids →
      // assignment, twice. The sc formula, tie rule (larger cell) and
      // 6-decimal quantization mirror Ivf.trainQuantized/assignCells
      // exactly; the rounding is what makes the cross-engine FP match.
      val asn = (ctab: String) =>
        s"""SELECT e.vec_id, CAST(c.cell AS INTEGER) AS cell
              FROM e CROSS JOIN $ctab c
              QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
                CASE WHEN e.vn * c.cn = 0 THEN 0.0
                  ELSE list_reduce(list_transform(range(64),
                    j -> e.v[j+1] * c.cv[j+1]), (a, b) -> a + b)
                    / (e.vn * c.cn) END DESC, c.cell DESC) = 1"""
      val means = (prev: String) =>
        s"""SELECT a.cell, ex.i, round(avg(ex.x), 6) AS m
              FROM (SELECT vec_id, unnest(v) AS x,
                    generate_subscripts(v, 1) AS i FROM e) ex
              JOIN $prev a ON a.vec_id = ex.vec_id GROUP BY 1, 2"""
      val cents = (m: String) =>
        s"""SELECT cell, list(m ORDER BY i) AS cv,
              sqrt(list_reduce(list_transform(list(m ORDER BY i),
                x -> x * x), (a, b) -> a + b)) AS cn
              FROM $m GROUP BY 1"""
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
              sqrt(list_reduce(list_transform(embedding::DOUBLE[],
                x -> x * x), (a, b) -> a + b)) AS vn
              FROM embeddings),
            c0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
            cA AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                v AS cv, sqrt(list_reduce(list_transform(v, x -> x * x),
                  (a, b) -> a + b)) AS cn FROM c0),
            a0 AS (${asn("cA")}),
            m1 AS (${means("a0")}),
            c1 AS (${cents("m1")}),
            a1 AS (${asn("c1")}),
            m2 AS (${means("a1")}),
            c2 AS (${cents("m2")}),
            a2 AS (${asn("c2")})
            SELECT vec_id, cell FROM a2"""
    }),

    // k-means|| (Bahmani et al., VLDB 2012): the SCALABLE seeding —
    // k-means++'s k serial corpus scans replaced by 2 distributed
    // oversampling rounds (expected l=2k candidates each), candidate
    // weighting by attraction counts, greedy weight-rank reduction to k,
    // one quantized Lloyd polish. Every stochastic choice is derandomized
    // into md5 arithmetic over EXACT integer micro-unit costs (sampled
    // iff u20·φ < l·cost·2^20, compared in decimal(38,0)/HUGEINT), so
    // the oracle replays the complete seeding — including which
    // candidates each round picks — bit for bit. Each round is one
    // narrow corpus scan; candidates are control data at any corpus size
    Query("cluster_kmeanspar", (s, dir) =>
      graft.sim.KmeansPar.cluster(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8), oracle = {
      // full k-means|| replay: seed = min-id vector; two sampling
      // rounds (cost vs the candidate set in integer micro-units, φ an
      // exact integer sum, selection u20·φ < l·c·2^20 in HUGEINT);
      // candidate weights by nearest-candidate counts (ties → larger
      // idx, nearestCell's rule); top-8 by (weight DESC, id ASC) in
      // weight-rank cell order; one quantized Lloyd pass; assignment
      val sim =
        """CASE WHEN e.vn * c.cn = 0 THEN 0.0
             ELSE list_reduce(list_transform(range(64),
               j -> e.v[j+1] * c.cv[j+1]), (a, b) -> a + b)
               / (e.vn * c.cn) END"""
      def withNorm(candTab: String) =
        s"""(SELECT cv, sqrt(list_reduce(list_transform(cv, x -> x * x),
              (a, b) -> a + b)) AS cn
              FROM (SELECT v AS cv FROM $candTab))"""
      def costCte(name: String, candTab: String) =
        s"""$name AS (SELECT e.vec_id, e.v, e.vn,
                CAST(greatest(0, floor((1.0 - max($sim)) * 1000000.0))
                  AS BIGINT) AS cost
              FROM e CROSS JOIN ${withNorm(candTab)} c
              GROUP BY e.vec_id, e.v, e.vn)"""
      def hx(src: String, i: Int) =
        s"(strpos('0123456789abcdef', substr($src, $i, 1)) - 1)"
      def u20(salt: String) = {
        val h = s"md5('$salt:' || vec_id)"
        s"((((${hx(h, 1)} * 16 + ${hx(h, 2)}) * 16 + ${hx(h, 3)}) * 16" +
          s" + ${hx(h, 4)}) * 16 + ${hx(h, 5)})"
      }
      def selCte(name: String, costTab: String, salt: String) =
        s"""$name AS (SELECT vec_id, v FROM $costTab
              CROSS JOIN (SELECT CAST(coalesce(sum(cost), 0) AS BIGINT)
                AS phi FROM $costTab) p
              WHERE ${u20(salt)}::HUGEINT * phi::HUGEINT
                < 16 * cost::HUGEINT * 1048576)"""
      val asn = (ctab: String) =>
        s"""SELECT e.vec_id, CAST(c.cell AS INTEGER) AS cell
              FROM e CROSS JOIN $ctab c
              QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
                $sim DESC, c.cell DESC) = 1"""
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
              sqrt(list_reduce(list_transform(embedding::DOUBLE[],
                x -> x * x), (a, b) -> a + b)) AS vn
              FROM embeddings),
            c0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
            ${costCte("k1", "c0")},
            ${selCte("s1", "k1", "kmpar:r1")},
            cand1 AS (SELECT vec_id, v FROM c0
              UNION SELECT vec_id, v FROM s1),
            ${costCte("k2", "cand1")},
            ${selCte("s2", "k2", "kmpar:r2")},
            cand AS (SELECT vec_id, v FROM cand1
              UNION SELECT vec_id, v FROM s2),
            cidx AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx,
              vec_id, v AS cv,
              sqrt(list_reduce(list_transform(v, x -> x * x),
                (a, b) -> a + b)) AS cn FROM cand),
            near AS (SELECT e.vec_id, c.idx
              FROM e CROSS JOIN (SELECT idx AS cell, idx, cv, cn FROM cidx) c
              QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
                $sim DESC, c.idx DESC) = 1),
            w AS (SELECT idx, count(*) AS w FROM near GROUP BY idx),
            topk AS (SELECT row_number() OVER (
                ORDER BY coalesce(w.w, 0) DESC, c.vec_id ASC) - 1 AS cell,
                c.cv, c.cn
              FROM cidx c LEFT JOIN w USING (idx)
              ORDER BY coalesce(w.w, 0) DESC, c.vec_id ASC LIMIT 8),
            a0 AS (${asn("topk")}),
            m1 AS (SELECT a.cell, ex.i, round(avg(ex.x), 6) AS m
              FROM (SELECT vec_id, unnest(v) AS x,
                    generate_subscripts(v, 1) AS i FROM e) ex
              JOIN a0 a ON a.vec_id = ex.vec_id GROUP BY 1, 2),
            c1 AS (SELECT cell, list(m ORDER BY i) AS cv,
              sqrt(list_reduce(list_transform(list(m ORDER BY i),
                x -> x * x), (a, b) -> a + b)) AS cn
              FROM m1 GROUP BY 1),
            a1 AS (${asn("c1")})
            SELECT vec_id, cell FROM a1"""
    }),

    // The coreset PAYOFF: weighted k-means trained on the control-sized
    // coreset (driver-side — the coreset fits anywhere BY CONSTRUCTION),
    // then ONE distributed assignment over the full corpus. Two corpus
    // scans total vs one per Lloyd iteration for full k-means — the
    // 100 TB clustering recipe. Weighted means ride an exact integer
    // ladder (⌊Σ w_nano·x_micro / Σ w_nano⌋), so training replays in the
    // oracle bit for bit
    Query("cluster_coreset_kmeans", (s, dir) =>
      graft.sim.KmeansPar.coresetKmeans(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, m = 64), oracle = {
      // weighted-kmeans-on-the-coreset replay: the coreset draw (cw),
      // x in integer micro-units, seeds = 8 smallest-id coreset points,
      // two unrolled weighted iterations with HUGEINT ⌊Σw·x / Σw⌋
      // means, then the full-corpus assignment
      val simCp =
        """CASE WHEN cp.vn * c.cn = 0 THEN 0.0
             ELSE list_reduce(list_transform(range(64),
               j -> cp.v[j+1] * c.cv[j+1]), (a, b) -> a + b)
               / (cp.vn * c.cn) END"""
      val simE =
        """CASE WHEN e.vn * c.cn = 0 THEN 0.0
             ELSE list_reduce(list_transform(range(64),
               j -> e.v[j+1] * c.cv[j+1]), (a, b) -> a + b)
               / (e.vn * c.cn) END"""
      def iterCtes(i: Int, prev: String) =
        s"""a$i AS (SELECT cp.vec_id, c.cell FROM cp CROSS JOIN $prev c
                QUALIFY row_number() OVER (PARTITION BY cp.vec_id
                  ORDER BY $simCp DESC, c.cell DESC) = 1),
              m$i AS (SELECT a.cell, js.j,
                  CAST(sum(cp.w::HUGEINT * cp.xm[js.j + 1])
                    // sum(cp.w::HUGEINT) AS BIGINT) AS mm
                FROM a$i a JOIN cp USING (vec_id)
                CROSS JOIN (SELECT unnest(range(64)) AS j) js
                GROUP BY a.cell, js.j),
              c$i AS (SELECT cell, list(mm / 1000000.0 ORDER BY j) AS cv,
                  sqrt(list_reduce(list_transform(
                    list(mm / 1000000.0 ORDER BY j), x -> x * x),
                    (a, b) -> a + b)) AS cn
                FROM m$i GROUP BY cell)"""
      // Gonzalez farthest-point seeding, unrolled: seed 0 = smallest
      // id; each stage adds the point with the LOWEST max-similarity
      // to the chosen set (ties → smallest id)
      val gonzalez = (1 until 8).map { i =>
        s"""sd${i - 1} AS (SELECT s.ord AS cell, cp.v AS cv, cp.vn AS cn
                FROM sid${i - 1} s JOIN cp USING (vec_id)),
              g$i AS (SELECT cp.vec_id, max($simCp) AS ms
                FROM cp CROSS JOIN sd${i - 1} c
                WHERE cp.vec_id NOT IN (SELECT vec_id FROM sid${i - 1})
                GROUP BY cp.vec_id),
              pick$i AS (SELECT vec_id FROM g$i
                QUALIFY row_number() OVER (ORDER BY ms ASC, vec_id ASC) = 1),
              sid$i AS (SELECT ord, vec_id FROM sid${i - 1}
                UNION ALL SELECT $i AS ord, vec_id FROM pick$i)"""
      }.mkString(",\n")
      s"""WITH $coresetCtes,
            cp AS MATERIALIZED (SELECT c.vec_id, c.weight_nano AS w, e.v, e.vn,
                list_transform(e.v, x ->
                  CAST(floor(x * 1000000.0) AS BIGINT)) AS xm
              FROM cw c JOIN e USING (vec_id)),
            sid0 AS (SELECT 0 AS ord, vec_id FROM
              (SELECT vec_id FROM cp ORDER BY vec_id LIMIT 1)),
            $gonzalez,
            c0c AS (SELECT s.ord AS cell, cp.v AS cv, cp.vn AS cn
              FROM sid7 s JOIN cp USING (vec_id)),
            ${iterCtes(1, "c0c")},
            ${iterCtes(2, "c1")}
            SELECT e.vec_id, CAST(c.cell AS INTEGER) AS cell
            FROM e CROSS JOIN c2 c
            QUALIFY row_number() OVER (PARTITION BY e.vec_id
              ORDER BY $simE DESC, c.cell DESC) = 1"""
    })
  )
}
