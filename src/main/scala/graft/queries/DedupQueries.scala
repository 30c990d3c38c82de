package graft.queries

import graft.core._
import graft.dedup.{Components, DocDedup, LshIndex}
import graft.text.Curation
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Exact, MinHash/LSH and SimHash dedup, component resolution and the
  * incremental and streaming dedup indexes. */
object DedupQueries {
  import Inputs._

  private val lshIndexes = scala.collection.concurrent.TrieMap
    .empty[String, (graft.dedup.LshIndex.Index, String, java.util.concurrent.atomic.AtomicLong)]
  /** (index, initPairsPath, livePairsPath, streamInDir, checkpointDir) per
    * scale dir — the streaming-ingest dedup fixture. */
  private val lshStreamIndexes = scala.collection.concurrent.TrieMap
    .empty[String, (graft.dedup.LshIndex.Index, String, String, String, String)]

  // Oracle of dedup_minhash_resolve and dedup_resolve_incr: the
  // incrementally-merged component survivors must equal the one-shot
  // resolution, so they share one oracle.
  private val ResolveOracleSql: String =
    s"""WITH RECURSIVE sh AS (SELECT doc_id, $shingles AS s FROM documents),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE len(list_intersect(a.s, b.s))::DOUBLE
                    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
            e AS (SELECT id_a AS src, id_b AS dst FROM p
                  UNION SELECT id_b, id_a FROM p),
            walk(id, reach) AS (
              SELECT src, dst FROM e
              UNION
              SELECT w.id, e2.dst FROM walk w JOIN e e2 ON w.reach = e2.src),
            lab AS (SELECT id, min(reach) AS m FROM walk GROUP BY id)
            SELECT d.doc_id FROM documents d LEFT JOIN lab ON d.doc_id = lab.id
            WHERE lab.id IS NULL OR lab.m >= d.doc_id"""

  val all: Seq[Query] = Seq(
    // ---- training-data pipeline extensions --------------------------------

    // Exact dedup survivors (hash-groupBy on content fingerprint)
    Query("dedup_exact", (s, dir) =>
      DocDedup.exact(t(s, dir, "documents"), "text", "doc_id").select(col("doc_id")), oracle =
      s"""SELECT doc_id FROM documents
            QUALIFY row_number() OVER (PARTITION BY md5(array_to_string($toks, ' '))
              ORDER BY doc_id) = 1"""),

    // MinHash+LSH near-dup pairs, verified with exact Jaccard. The bucket
    // cap is the production setting: a degenerate band bucket (boilerplate
    // shingle block) is m²/2 candidates at corpus scale. 10k ≫ any bucket in
    // this corpus, so the capped path is benched without changing output.
    Query("dedup_minhash", (s, dir) =>
      DocDedup.nearDupPairs(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.8, numHashes = 32, bands = 8, maxBucketSize = 10000)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")), oracle =
      s"""WITH sh AS (SELECT doc_id, $shingles AS s FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(len(list_intersect(a.s, b.s))::DOUBLE
                / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.8"""),

    // LSH banding TUNER: measured precision/recall of each (bands, rows)
    // split against exact all-pairs ground truth on the 256 docs with
    // the smallest md5 draws (an ABSOLUTE bottom-k sample — a rate would
    // make the all-pairs stage quadratic in corpus size) — how the
    // production banding knob is picked from the corpus's own similarity
    // distribution (more bands → recall up, precision down). The md5
    // MinHash keeps the signatures cross-engine
    Query("dedup_lsh_tune", (s, dir) =>
      DocDedup.lshTune(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.8, numHashes = 16, bandChoices = Seq(2, 4, 8),
        sampleSize = 256), oracle =
      // the banding tuner: md5 MinHash signatures on the md5-uniform half
      // sample, candidates per (bands, rows) split, exact all-pairs truth
      {
        val nib = (k: Int) =>
          s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)::BIGINT"
        val u32 = (1 to 8).map(k => s"${nib(k)} * ${1L << (4 * (8 - k))}")
          .mkString(" + ")
        def block(b: Int) = {
          val r = 16 / b
          s"""bk$b AS (SELECT doc_id, k,
                array_to_string(sig[(k*$r+1):(k*$r+$r)], ',') AS key
              FROM sg, range(0, $b) t(k)),
            cb$b AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM bk$b x JOIN bk$b y
                ON x.k = y.k AND x.key = y.key AND x.doc_id < y.doc_id),
            nc$b AS (SELECT count(*)::BIGINT AS n_candidates FROM cb$b),
            nh$b AS (SELECT count(*)::BIGINT AS n_hits FROM cb$b c JOIN tp
                ON c.id_a = tp.id_a AND c.id_b = tp.id_b WHERE tp.j >= 0.8),
            row$b AS (SELECT $b AS bands, $r AS rows_per_band,
                n_candidates, n_hits FROM nc$b CROSS JOIN nh$b)"""
        }
        raw"""WITH su AS (SELECT doc_id,
                md5('graft-lshtune:' || doc_id::VARCHAR) AS h FROM documents),
            smp AS (SELECT doc_id FROM su
              ORDER BY ($u32) / 4294967296.0, doc_id LIMIT 256),
            sh0 AS (SELECT doc_id, $shingles AS s FROM documents
              WHERE doc_id IN (SELECT doc_id FROM smp)),
            sh AS (SELECT doc_id, s FROM sh0 WHERE len(s) > 0),
            sg AS (SELECT doc_id, list_transform(range(0, 16), i ->
                coalesce(list_aggregate(list_transform(s, x ->
                  list_transform([md5(i::VARCHAR || ':' || x)],
                    h -> $u32)[1]), 'min'), 4294967296)) AS sig
              FROM sh),
            tp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                len(list_intersect(a.s, b.s))::DOUBLE
                  / len(list_distinct(list_concat(a.s, b.s))) AS j
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
            tru AS (SELECT count(*)::BIGINT AS n_true FROM tp WHERE j >= 0.8),
            ${Seq(2, 4, 8).map(block).mkString(",\n")},
            u AS (SELECT * FROM row2 UNION ALL SELECT * FROM row4
                  UNION ALL SELECT * FROM row8)
            SELECT bands, rows_per_band, n_candidates, tru.n_true, n_hits,
              CASE WHEN n_candidates > 0 THEN
                ((n_hits * 1000000000) // n_candidates) / 1000000000.0
              ELSE 0.0 END AS "precision",
              CASE WHEN tru.n_true > 0 THEN
                ((n_hits * 1000000000) // tru.n_true) / 1000000000.0
              ELSE 0.0 END AS recall
            FROM u CROSS JOIN tru"""
      }),

    // Incremental near-dup: index two thirds of the corpus once, apply the
    // remaining third as a live change batch, and dedup the batch against
    // the persisted index (partition-pruned band/set reads — no corpus
    // rescan). Build-time pairs ∪ batch probe must equal the one-shot
    // full-recompute pair set, so this shares dedup_minhash's exact oracle
    Query("dedup_minhash_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      // index bootstrap once per process (the production pipeline's cold
      // start, its cost ≈ dedup_minhash which IS measured); afterwards
      // every invocation is a LIVE batch under a fresh generation against
      // the durable index — the same measurement discipline as incr_*.
      // Re-applying the same ids supersedes their previous generation, so
      // the live corpus (and the pair set) is a fixed point of the batch.
      val (idx, initPairsPath, gen) = lshIndexes.getOrElseUpdate(dir, {
        val init = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        val tmp = TempDirs.create("graft_lshidx")
        // sign-once APIs: build+pairs / apply+probe each shingle their
        // frame exactly once. nPartitions tracks corpus size (16 at sf0.1
        // — at cluster scale use the 64 default or higher).
        val (i, p) = LshIndex.buildWithPairs(init, "text", "doc_id",
          tmp, threshold = 0.8, numHashes = 32, bands = 8, nPartitions = 16,
          maxBucketSize = 10000)
        // build-time pairs persist beside the index (disk, not a cached
        // plan: Bench/Verify clear the cache between queries)
        p.write.mode("overwrite").parquet(s"$tmp/init_pairs")
        (i, s"$tmp/init_pairs", new java.util.concurrent.atomic.AtomicLong(0L))
      })
      LshIndex.applyBatchWithPairs(idx, batch, "text", "doc_id",
        deletes = batch.select(col("doc_id")).limit(0),
        gen = gen.incrementAndGet(), maxBucketSize = 10000)
        .unionByName(s.read.parquet(initPairsPath))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }, oracle =
      // the incremental index path must reproduce the one-shot pair set
      // exactly — identical oracle to dedup_minhash by construction
      s"""WITH sh AS (SELECT doc_id, $shingles AS s FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(len(list_intersect(a.s, b.s))::DOUBLE
                / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.8"""),

    // STREAMING ingest dedup: the live third arrives as a document change
    // stream; a checkpointed AvailableNow drain hands each micro-batch to
    // the persisted LSH index (applyBatchWithPairs = index AND dedup in one
    // signing pass), so every invocation measures one REAL streaming
    // micro-batch under a fresh generation. Re-applied ids supersede their
    // previous generation, so converged pairs ∪ build pairs reproduce the
    // one-shot pair set — the same exact oracle as dedup_minhash
    Query("dedup_minhash_stream", (s, dir) => BatchConf.withBatchTuning(s) {
      val (idx, initPairsPath, livePairsPath, streamDir, ckptDir) =
        lshStreamIndexes.getOrElseUpdate(dir, {
          val docs = t(s, dir, "documents")
          val init = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          val tmp = TempDirs.create("graft_lshstr")
          val (i, p) = LshIndex.buildWithPairs(init, "text", "doc_id", tmp,
            threshold = 0.8, numHashes = 32, bands = 8, nPartitions = 16,
            maxBucketSize = 10000)
          p.write.mode("overwrite").parquet(s"$tmp/init_pairs")
          (i, s"$tmp/init_pairs", s"$tmp/live_pairs",
            TempDirs.create("graft_lshstr_in"),
            TempDirs.create("graft_lshstr_ck"))
        })
      val live = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("text"))
      // one new file per invocation; the checkpoint makes the drain process
      // exactly this file (never a replay of earlier invocations' files)
      live.coalesce(1).write.mode("append").parquet(streamDir)
      val noDeletes = live.filter(lit(false)).select(col("doc_id"))
      val q = s.readStream.schema(live.schema).parquet(streamDir)
        .writeStream
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          LshIndex.applyBatchWithPairs(idx, b.toDF(), "text", "doc_id",
            noDeletes, gen = id + 1, maxBucketSize = 10000)
            .write.mode("overwrite").parquet(livePairsPath)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(livePairsPath)
        .unionByName(s.read.parquet(initPairsPath))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }, streaming = true, oracle =
      // the streaming drain converges the same index, so it reproduces the
      // one-shot pair set exactly — identical oracle to dedup_minhash
      s"""WITH sh AS (SELECT doc_id, $shingles AS s FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(len(list_intersect(a.s, b.s))::DOUBLE
                / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.8"""),

    // Near-dup RESOLUTION: pairs → connected components (min-label
    // propagation + pointer jumping, O(log n) joins) → keep the smallest
    // doc_id per cluster. This is the query that actually drops documents.
    Query("dedup_minhash_resolve", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = DocDedup.nearDupPairs(docs, "text", "doc_id",
        threshold = 0.8, numHashes = 32, bands = 8, maxBucketSize = 10000)
      Components.survivors(docs, "doc_id", pairs).select(col("doc_id"))
    }, oracle = ResolveOracleSql),

    // INCREMENTAL near-dup resolution: the prior corpus's component
    // labeling contracts to (id, cluster) star edges; a new-document
    // batch folds in ONLY its delta pairs — never the historical edge
    // set — and the merged survivors must equal the one-shot resolution
    // (same oracle as dedup_minhash_resolve)
    Query("dedup_resolve_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Caches.track(
        DocDedup.nearDupPairs(docs, "text", "doc_id",
          threshold = 0.8, numHashes = 32, bands = 8, maxBucketSize = 10000))
      val boot = pairs.filter(col("id_a") % 3 =!= 0 && col("id_b") % 3 =!= 0)
      val delta = pairs.filter(col("id_a") % 3 === 0 || col("id_b") % 3 === 0)
      val labels0 = Components.connectedComponents(boot, "id_a", "id_b")
      val merged = Components.incrementalComponents(labels0, delta)
      Components.survivorsFromLabels(docs, "doc_id", merged).select(col("doc_id"))
    }, oracle = ResolveOracleSql),

    // Quality-keyed resolution: keep the LONGEST member of each near-dup
    // cluster (ties → smallest id) instead of the smallest id — the
    // FineWeb/RefinedWeb convention of preserving the best copy. Same
    // pair/component machinery; the winner pick is one integral argmax
    // per cluster over the (small) member set
    Query("dedup_resolve_quality", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = DocDedup.nearDupPairs(docs, "text", "doc_id",
        threshold = 0.8, numHashes = 32, bands = 8, maxBucketSize = 10000)
      Components.survivorsByKey(docs, "doc_id", pairs,
        d => length(d("text")).cast("long"))
        .select(col("doc_id"))
    }, oracle =
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $shingles AS s FROM documents),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE len(list_intersect(a.s, b.s))::DOUBLE
                    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
            e AS (SELECT id_a AS src, id_b AS dst FROM p
                  UNION SELECT id_b, id_a FROM p),
            walk(id, reach) AS (
              SELECT src, dst FROM e
              UNION
              SELECT w.id, e2.dst FROM walk w JOIN e e2 ON w.reach = e2.src),
            lab AS (SELECT id, least(id, min(reach)) AS comp
                    FROM walk GROUP BY id),
            win AS (SELECT comp, min(struct_pack(nk := -length(d.text),
                      id := d.doc_id)).id AS win_id
                    FROM lab JOIN documents d ON lab.id = d.doc_id
                    GROUP BY comp)
            SELECT d.doc_id FROM documents d
            LEFT JOIN lab ON d.doc_id = lab.id
            LEFT JOIN win ON d.doc_id = win.win_id
            WHERE lab.id IS NULL OR win.win_id IS NOT NULL"""),

    // Sub-document candidate pairs from shared winnowing fingerprints —
    // the MOSS match step: any shared ≥ k+w-1-token run is guaranteed a
    // shared fingerprint, so this is the recall-safe candidate generator
    // for substring-level dedup (one fp-key exchange; a boilerplate-heavy
    // fp behaves like an LSH bucket and AQE handles the skew)
    Query("dedup_winnow_pairs", (s, dir) => {
      // pinned: the fingerprint frame feeds BOTH self-join sides — without
      // it the winnow window pipeline plans (and runs) twice
      val fp = graft.ops.Caches.track(
        Curation.winnow(t(s, dir, "documents"), "text", "doc_id",
          k = 5, w = 4).select(col("doc_id"), col("fp")).distinct())
      fp.select(col("doc_id").as("id_a"), col("fp"))
        .join(fp.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_shared"))
    }, oracle =
      // winnow selection (same CTEs as text_winnow) → distinct (doc, fp)
      // → pairs sharing a fingerprint
      s"""WITH d AS (SELECT doc_id, $toks AS ts FROM documents),
            sh AS (SELECT doc_id, u.p,
                md5(array_to_string(ts[u.p+1:u.p+5], ' ')) AS h
              FROM d, unnest(list_transform(range(len(ts) - 4), x -> x)) AS u(p)),
            sel AS (SELECT doc_id,
                min(struct_pack(h := h, p := p)) OVER w AS s,
                count(*) OVER w AS c
              FROM sh
              WINDOW w AS (PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
            fp AS (SELECT DISTINCT doc_id, s.h AS fp FROM sel WHERE c = 4)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2"""),

    // SimHash hamming near-dup pairs. The md5-nibble signature variant is
    // bit-for-bit reproducible in DuckDB, so the whole pipeline (signature
    // → chunk blocking → hamming verify) is hash-checked by the oracle;
    // the xxhash64 kernel variant is the throughput path (DedupSimSpec).
    // maxBucketSize is explicitly uncapped HERE because the oracle computes
    // the exact hamming<=3 pair set — a hot chunk bucket silently dropping
    // candidates would only surface at corpus scales the oracle never runs;
    // capped blocking remains the production default in simhashPairs.
    Query("dedup_simhash", (s, dir) =>
      DocDedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id", maxDist = 3,
        sigFn = DocDedup.simhashMd5, maxBucketSize = Int.MaxValue), oracle =
      raw"""WITH hs AS (SELECT doc_id,
                list_transform(string_split_regex(trim(lower(text)), '\s+'),
                               t -> md5(t)) AS hl
              FROM documents),
            sg AS (SELECT doc_id,
                list_transform(range(64), j -> CASE WHEN 2 * len(list_filter(hl,
                    h -> ((strpos('0123456789abcdef', substr(h, (j // 4) + 1, 1)) - 1)
                          >> (3 - (j % 4))) & 1 = 1))
                  > len(hl) THEN 1 ELSE 0 END) AS bits
              FROM hs)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(len(list_filter(range(64),
                j -> a.bits[j + 1] != b.bits[j + 1])) AS INTEGER) AS hamming
            FROM sg a JOIN sg b ON a.doc_id < b.doc_id
            WHERE len(list_filter(range(64),
              j -> a.bits[j + 1] != b.bits[j + 1])) <= 3"""),

    // Exact n-gram Jaccard on a subsample (the all-pairs baseline)
    Query("dedup_ngram_jaccard", (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0 && col("doc_id") < 1500)
      // shingle sets computed once per doc (cached: both join sides read
      // this frame), NOT per pair; left side repartitioned — the nested-loop
      // join otherwise inherits the scan's single input partition →
      // one-core quadratic
      val sets = graft.ops.Caches.track(docs.select(col("doc_id"),
        array_distinct(DocDedup.shingles(col("text"))).as("__sh")))
      val a = sets.select(col("doc_id").as("id_a"), col("__sh").as("__sa")).repartition(32)
      val b = sets.select(col("doc_id").as("id_b"), col("__sh").as("__sb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("jaccard", DocDedup.jaccardSets(col("__sa"), col("__sb")))
        .filter(col("jaccard") >= 0.15)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }, oracle =
      s"""WITH sh AS (SELECT doc_id, $shingles AS s FROM documents
              WHERE doc_id % 3 = 0 AND doc_id < 1500)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(len(list_intersect(a.s, b.s))::DOUBLE
                / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.15"""),

    // URL-key dedup over the WARC records' URLs: splittable ingestion →
    // messy-URL fixture → normalize → first-occurrence per canonical URL
    // (min doc_id + dup count) — the single-shuffle shape every crawl
    // pipeline runs before any content hash is computed
    Query("dedup_url", (s, dir) => {
      val staged = warcStagedDir(s, dir)
      graft.sources.WarcSource.read(s, staged, splitBytes = 64L * 1024)
        .select(expr("CAST(substring_index(url, '/', -1) AS BIGINT)")
          .as("doc_id"))
        .select(col("doc_id"), graft.text.TextFunctions.urlNormalize(
          messyUrl(col("doc_id"))).as("url_norm"))
        .groupBy(col("url_norm"))
        .agg(min(col("doc_id")).as("first_doc"),
          count(lit(1)).as("n_docs"))
    }, oracle =
      s"""$UrlNormCtes
            SELECT url_norm, CAST(min(doc_id) AS BIGINT) AS first_doc,
              count(*) AS n_docs FROM un GROUP BY url_norm""")
  )
}
