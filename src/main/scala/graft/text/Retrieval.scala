package graft.text

import graft.dedup.DocDedup
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Corpus retrieval and term-weighting over the one-tokenization stream —
  * the lookup side of a training-data pipeline (inspect what's in the
  * corpus, rank documents against probe queries, compare sources).
  *
  * Scale shape shared by all three operators:
  *
  *   - term statistics (document frequency) are VOCABULARY-sized — Heaps'
  *     law keeps them ≪ corpus at any scale — so they broadcast;
  *   - per-(doc, term) weights need exactly one shuffle (the doc-term
  *     count), partially aggregated map-side;
  *   - floating-point scores that would be SUMMED across rows are fixed to
  *     integer micro-units per contribution first, so the fold is exact
  *     integer addition — same result under any partitioning, and the
  *     DuckDB oracle re-derives it bit-for-bit.
  *
  * No reference analogue (qvarn-mr has no text retrieval); the BM25
  * formulation is the standard Robertson/Sparck-Jones one.
  */
object Retrieval {

  /** Per-document term counts from one tokenization pass. */
  private def docTerms(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Vocabulary-sized document-frequency table. */
  private def docFreq(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))

  // ------------------------------------------------------------- TF-IDF

  /** Top-`k` TF-IDF terms per document: `tf * ln((N+1)/(df+1))` (smoothed),
    * ranked per doc with a deterministic (score desc, term asc) tie-break.
    * The score is one multiplication per (doc, term) — no float summation
    * anywhere — and the per-doc top-k runs as a WindowGroupLimit pushdown,
    * never a full sort. Output: (doc, term, tf, df, score_micro, rank)
    * with the score in integer micro-units. */
  def tfidfTopK(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val n = docs.count() // corpus size: one number, driver-side
    val weighted = docTerms(docs, textCol, idCol)
      .join(broadcast(docFreq(docs, textCol, idCol)), "term")
      .withColumn("score_micro",
        round(col("tf") * log((lit(n) + 1.0) / (col("df") + 1.0)) * 1e6).cast("long"))
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("score_micro").desc, col("term"))
    weighted
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc").as(idCol), col("term"), col("tf"), col("df"),
        col("score_micro"), col("rank"))
  }

  // ------------------------------------------------------------- BM25

  /** A persisted inverted index, maintained LOG-STRUCTURED exactly like the
    * IVF and MinHash-LSH indexes (generation-stamped appends, id tombstones,
    * rebuild = compaction):
    *
    *   - `postings/bucket=N`: (term, doc, tf, dl, gen), hash-partitioned by
    *     term bucket so a query reads only its terms' directories (the IVF
    *     build/probe pattern applied to text), with doc length denormalized
    *     onto each posting;
    *   - `doclen/dbucket=N`: (doc, dl, gen), hash-partitioned by DOC so a
    *     change batch point-reads the old lengths of just its ids;
    *   - `_tombstones`: (doc, upto_gen) horizon — rows with
    *     `gen >= max(upto_gen)` of their doc survive;
    *   - `stats`: (gen, n_delta, sumdl_delta) corpus-constant deltas,
    *     summed at probe (control-sized).
    *
    * There is deliberately no term dictionary: document frequency for a
    * query term is derivable from that term's own live postings (they all
    * live in its bucket), so the probe computes exact df from what it
    * already read. Invariant (caller contract, same as every engine batch
    * path): one change per doc id per batch — live (term, doc) pairs stay
    * unique. */
  final case class InvertedIndex(dir: String, numBuckets: Int) {
    def postingsDir: String = s"$dir/postings"
    def doclenDir: String = s"$dir/doclen"
    def tombstoneDir: String = s"$dir/_tombstones"
    def statsDir: String = s"$dir/stats"
  }

  private def postingsOf(docs: DataFrame, textCol: String, idCol: String,
                         numBuckets: Int, gen: Long): DataFrame = {
    val dl = doclenOf(docs, textCol, idCol, numBuckets, gen).drop("dbucket", "gen")
    // positional postings: tf + the sorted 0-based token positions — BM25
    // never reads `positions` (parquet column pruning makes it free there);
    // phrase search intersects the arrays
    docs.select(col(idCol).as("doc"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "term")))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("positions"))
      .join(dl, "doc") // doc-keyed join; both sides shuffle on doc once
      .withColumn("bucket", pmod(hash(col("term")), lit(numBuckets)))
      .withColumn("gen", lit(gen))
  }

  private def doclenOf(docs: DataFrame, textCol: String, idCol: String,
                       numBuckets: Int, gen: Long): DataFrame =
    docs.select(col(idCol).as("doc"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("dl"))
      .withColumn("dbucket", pmod(hash(col("doc")), lit(numBuckets)))
      .withColumn("gen", lit(gen))

  /** Rows surviving the tombstone horizon AND the committed-generation
    * pointer (shared by probe and stats): a change batch appends to FOUR
    * locations (postings, doclen, tombstones, stats), so without the
    * pointer a crash mid-batch leaves torn cross-table state — the
    * `gen <= committed` filter keeps any uncommitted batch invisible
    * ([[graft.core.GenPointer]]'s crash contract). */
  private def liveRows(spark: SparkSession, idx: InvertedIndex, rows: DataFrame): DataFrame = {
    val committed = graft.core.GenPointer.committed(idx.dir)
    val visible =
      if (committed == Long.MaxValue) rows
      else rows.filter(col("gen") <= committed)
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(idx.tombstoneDir))) visible
    else {
      val horizon = spark.read.parquet(idx.tombstoneDir)
        .filter(col("upto_gen") <= committed)
        .groupBy(col("doc").as("__doc")).agg(max(col("upto_gen")).as("__upto"))
      visible.join(broadcast(horizon), visible("doc") === col("__doc"), "left")
        .filter(col("__upto").isNull || col("gen") >= col("__upto"))
        .drop("__doc", "__upto")
    }
  }

  /** The corpus constants (N, Σdl) as a broadcast 1-row frame: the stats
    * deltas of COMMITTED generations only, folded at probe time. Fails
    * loud on n = 0 (empty/uninitialized index). */
  private def statsFrame(spark: SparkSession, index: InvertedIndex): DataFrame = {
    val committed = graft.core.GenPointer.committed(index.dir)
    broadcast(spark.read.parquet(index.statsDir)
      .filter(col("gen") <= committed)
      .agg(coalesce(sum(col("n_delta")), lit(0L)).as("__n"),
        coalesce(sum(col("sumdl_delta")), lit(0L)).as("__sumdl"))
      // integer micro, like build; floor division via div keeps it exact.
      // n = 0 means an empty/uninitialized index — fail loud, not null scores
      .select(col("__n"),
        when(col("__n") > 0, expr("(__sumdl * 1000000) div __n") / 1e6)
          .otherwise(raise_error(lit("empty BM25 index: stats n = 0")))
          .as("__avgdl")))
  }

  /** Spark-side bucket ids for a key column — a job over a batch-sized
    * frame, guaranteed identical to the build-time partitioning (same
    * hash(), SAME KEY TYPE — stringifying a long id here would hash
    * differently than the long column did at build time). */
  private def bucketsFor(keys: DataFrame, keyCol: String, numBuckets: Int): Seq[Int] =
    keys.select(pmod(hash(col(keyCol)), lit(numBuckets)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq

  /** Driver-side mirror of `pmod(hash(term), numBuckets)` for STRING terms
    * — the same Murmur3 chain (seed 42) the `hash()` expression runs, so a
    * probe computes its term buckets without spawning a Spark job. (Id
    * columns keep the Spark-side [[bucketsFor]]: their key type varies.)
    * RetrievalSpec pins driver ≡ Spark agreement. */
  private[graft] def termBucket(term: String, numBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, 42L).toInt
    ((h % numBuckets) + numBuckets) % numBuckets
  }

  /** Build the index at `dir` (generation 0). One tokenization, one doc-term
    * shuffle (map-side combined); clears any stale tombstones like the other
    * index rebuilds. */
  def buildIndex(docs: DataFrame, textCol: String, idCol: String,
                 dir: String, numBuckets: Int = 64): InvertedIndex = {
    val idx = InvertedIndex(dir, numBuckets)
    graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(idx.tombstoneDir))
    // gen is a PARTITION column (bucket=…/gen=…): a change batch owns its
    // gen subdirectories, so redelivering a crashed batch REPLACES its own
    // partial appends (dynamic partition overwrite in updateIndex) instead
    // of duplicating rows — at-least-once idempotence with zero probe-path
    // dedup cost
    postingsOf(docs, textCol, idCol, numBuckets, gen = 0L)
      .repartition(numBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket", "gen")
      .parquet(idx.postingsDir)
    val dl = doclenOf(docs, textCol, idCol, numBuckets, gen = 0L)
    dl.repartition(numBuckets, col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket", "gen")
      .parquet(idx.doclenDir)
    val row = dl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).collect()(0)
    statsDelta(docs.sparkSession, idx, gen = 0L, row.getLong(0), row.getLong(1),
      overwrite = true)
    graft.core.GenPointer.commit(dir, 0L)
    idx
  }

  private def statsDelta(spark: SparkSession, idx: InvertedIndex, gen: Long,
                         nDelta: Long, sumDlDelta: Long, overwrite: Boolean): Unit = {
    import spark.implicits._
    // one delta row per gen partition; a redelivered batch overwrites its
    // own gen=… directory (dynamic mode) so the fold in statsFrame never
    // double-counts a crashed batch's already-appended delta
    val w = Seq((gen, nDelta, sumDlDelta)).toDF("gen", "n_delta", "sumdl_delta")
      .coalesce(1)
      .write.partitionBy("gen").mode("overwrite")
    (if (overwrite) w
     else w.option("partitionOverwriteMode", "dynamic"))
      .parquet(idx.statsDir)
  }

  /** Apply one change batch WITHOUT rebuilding: upserted docs re-tokenize
    * and append their postings/doclen rows at `gen`; upserted and deleted
    * ids gain a tombstone at `gen` so their older rows die at probe time;
    * the corpus constants (N, Σdl) append a delta row computed from the old
    * doc lengths, point-read from the ids' own doclen partitions — the
    * batch never scans the index. `gen` must increase per batch. Caller
    * contract: at most one change per doc id per batch. */
  def updateIndex(idx: InvertedIndex, upserts: DataFrame, textCol: String, idCol: String,
                  deletes: DataFrame, gen: Long): Unit = {
    val spark = upserts.sparkSession
    // already-committed gen: redelivery MUST be a no-op — re-running would
    // read oldLive AFTER this batch's own rows and corrupt the stats delta
    if (graft.core.GenPointer.committed(idx.dir) != Long.MaxValue &&
        graft.core.GenPointer.committed(idx.dir) >= gen) return
    val affected = upserts.select(col(idCol).as("doc"))
      .unionByName(deletes.select(col(idCol).as("doc")))
      .distinct()
    if (affected.isEmpty) return
    // old lengths of the affected ids: partition-pruned point read
    val dbuckets = bucketsFor(affected, "doc", idx.numBuckets)
    val oldLive = liveRows(spark, idx,
      spark.read.parquet(idx.doclenDir)
        .filter(col("dbucket").isin(dbuckets: _*)))
      .join(broadcast(affected.withColumnRenamed("doc", "__a")),
        col("doc") === col("__a"))
    val oldRow = oldLive.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).collect()(0)
    val (nOld, sumOld) = (oldRow.getLong(0), oldRow.getLong(1))

    val newDl = doclenOf(upserts, textCol, idCol, idx.numBuckets, gen)
      .localCheckpoint(true) // tokenize once; reused by stats + postings write
    val newRow = newDl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).collect()(0)

    // dynamic partition overwrite everywhere below: this batch's rows land
    // ONLY in …/gen=<gen> partitions, so a redelivered crashed batch
    // replaces its own partial appends in place — committed generations'
    // partitions are never touched, and no duplicate rows can survive
    postingsOf(upserts, textCol, idCol, idx.numBuckets, gen)
      .repartition(idx.numBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket", "gen")
      .option("partitionOverwriteMode", "dynamic")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(idx.postingsDir)
    graft.core.KillPoint("bm25.postings")
    newDl.repartition(idx.numBuckets, col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket", "gen")
      .option("partitionOverwriteMode", "dynamic")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(idx.doclenDir)
    graft.core.KillPoint("bm25.doclen")
    affected.withColumn("upto_gen", lit(gen))
      .write.mode("overwrite").partitionBy("upto_gen")
      .option("partitionOverwriteMode", "dynamic")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(idx.tombstoneDir)
    graft.core.KillPoint("bm25.tombstones")
    statsDelta(spark, idx, gen, newRow.getLong(0) - nOld, newRow.getLong(1) - sumOld,
      overwrite = false)
    graft.core.KillPoint("bm25.stats")
    // the batch becomes visible HERE, atomically — a crash among the four
    // writes above leaves it invisible (GenPointer's crash contract)
    graft.core.GenPointer.commit(idx.dir, gen)
    graft.core.KillPoint("bm25.committed")
  }

  /** BM25-ranked top-`k` documents for `query`. The query's terms hash to a
    * handful of buckets, so the probe is a statically partition-pruned read
    * of those directories — never a corpus or full-postings scan; df comes
    * from a per-term window count over the same live rows (one pass, no
    * dictionary join). Per-term contributions round to integer micro-units
    * before the per-doc sum, so ranking is exact under any partitioning.
    * Ties break (score desc, doc asc). Output: (doc, score_micro, n_terms,
    * rank). */
  def bm25(spark: SparkSession, index: InvertedIndex, query: String, k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = query.toLowerCase.trim.split("\\s+").toSeq.distinct.filter(_.nonEmpty)
    require(terms.nonEmpty, "empty query")
    val buckets = terms.map(termBucket(_, index.numBuckets)).distinct
    // partition value filter → PartitionFilters in the scan, static pruning
    val postings = liveRows(spark, index,
      spark.read.parquet(index.postingsDir)
        .filter(col("bucket").isin(buckets: _*))
        .filter(col("term").isin(terms: _*)))
    // the corpus constants (N, Σdl) ride the plan as a broadcast 1-row
    // cross join instead of a separate collect job — the probe runs as ONE
    // Spark job over the pruned buckets
    val stats = statsFrame(spark, index)
    val idf = log(lit(1.0) +
      (col("__n").cast("double") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl")))
    // aggregate + broadcast, not a per-term count window (see bm25Batch)
    val dfByTerm = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = postings.join(broadcast(dfByTerm), "term").crossJoin(stats)
      .withColumn("c_micro", round(idf * tfNorm * 1e6).cast("long"))
    val scored = contrib.groupBy(col("doc"))
      .agg(sum(col("c_micro")).as("score_micro"), count(lit(1)).as("n_terms"))
    rankTopK(scored, k, col("score_micro").desc, col("doc"))
  }

  /** RM3-style pseudo-relevance feedback — the classic query-expansion
    * loop: BM25 retrieves `fbDocs` feedback documents, their term
    * distribution nominates `fbTerms` expansion terms, and a second
    * weighted BM25 pass scores the expanded query. Both passes are
    * bucket-pruned probes; the feedback set is control-sized BY
    * CONSTRUCTION (≤ fbDocs ids collected, their tokens aggregated with
    * an `isin`-pushed corpus point-read), so the loop never scans the
    * corpus.
    *
    * Externally reproducible: the original terms carry weight
    * `origWeightMicro` each; feedback term t (original terms excluded;
    * top by occurrence count, ties → term asc) carries
    * ⌊fbMassMicro·tf_t / Σtf⌋ — integer micro-units, truncated division
    * both engines. Scores are Σ weight·c_micro per doc (exact long
    * arithmetic; c_micro is bm25's micro-unit contribution). Ties break
    * (score desc, doc asc). Output: (doc, score_wmicro, n_terms, rank). */
  def bm25Rm3(spark: SparkSession, index: InvertedIndex, corpus: DataFrame,
              textCol: String, idCol: String, query: String, k: Int,
              fbDocs: Int = 10, fbTerms: Int = 8,
              origWeightMicro: Long = 600000L,
              fbMassMicro: Long = 400000L): DataFrame = {
    import spark.implicits._
    val origTerms = query.toLowerCase.trim.split("\\s+")
      .toSeq.distinct.filter(_.nonEmpty)
    val fb: Seq[Long] = bm25(spark, index, query, fbDocs)
      .select(col("doc").cast("long")).as[Long].collect().toSeq
    val fbTf: Seq[(String, Long)] =
      if (fb.isEmpty) Seq.empty
      else corpus.filter(col(idCol).isin(fb: _*))
        .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
        .filter(!col("term").isin(origTerms: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term")).limit(fbTerms)
        .as[(String, Long)].collect().toSeq
    val tfTotal = fbTf.map(_._2).sum
    val weights: Map[String, Long] =
      origTerms.map(_ -> origWeightMicro).toMap ++
        fbTf.map { case (t, c) => t -> fbMassMicro * c / tfTotal }.toMap
    bm25WeightedTerms(spark, index, weights, k)
  }

  /** BM25 over a per-term-weighted query (RM3's second pass): identical
    * pruned-probe plumbing to [[bm25]], with each (term, doc) micro
    * contribution scaled by the term's integer micro weight before the
    * exact per-doc sum. */
  private def bm25WeightedTerms(spark: SparkSession, index: InvertedIndex,
                                weights: Map[String, Long], k: Int,
                                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(weights.nonEmpty, "empty weighted query")
    val terms = weights.keys.toSeq.sorted
    val buckets = terms.map(termBucket(_, index.numBuckets)).distinct
    val postings = liveRows(spark, index,
      spark.read.parquet(index.postingsDir)
        .filter(col("bucket").isin(buckets: _*))
        .filter(col("term").isin(terms: _*)))
    val stats = statsFrame(spark, index)
    val idf = log(lit(1.0) +
      (col("__n").cast("double") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl")))
    val dfByTerm = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = postings.join(broadcast(dfByTerm), "term").crossJoin(stats)
      .withColumn("c_micro", round(idf * tfNorm * 1e6).cast("long"))
      .withColumn("wc",
        col("c_micro") * element_at(typedlit(weights), col("term")))
      .groupBy(col("doc"))
      .agg(sum(col("wc")).as("score_wmicro"), count(lit(1)).as("n_terms"))
    rankTopK(scored, k, col("score_wmicro").desc, col("doc"))
  }

  /** Global top-`k` + dense 1..k rank WITHOUT a corpus-scale single-
    * partition window: `orderBy(...).limit(k)` plans as
    * TakeOrderedAndProject (per-partition top-k, driver merge of k rows
    * per partition), and the rank window then runs over at most k rows.
    * A partitionless `row_number` window over the full candidate set
    * would funnel every doc containing any query term — corpus-scale for
    * a frequent term — through ONE task. */
  private def rankTopK(scored: DataFrame, k: Int,
                       order: Column*): DataFrame =
    scored.orderBy(order: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)))

  /** BM25 for a BATCH of queries in one pass — scoring a query log, not a
    * point lookup. `queries` is a control-sized (qid, qtext) frame: its
    * distinct terms prune the posting buckets exactly like the single-query
    * probe, df is computed per term BEFORE the query join (a posting row
    * duplicated across qids must not inflate df), and the (qid, term)
    * pairs broadcast onto the pruned postings. One pruned read, one
    * (qid, doc) aggregate, one per-qid top-k window. Output:
    * (qid, doc, score_micro, n_terms, rank). */
  def bm25Batch(spark: SparkSession, index: InvertedIndex, queries: DataFrame,
                qidCol: String, qtextCol: String, k: Int,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = queries.select(col(qidCol).as("qid"),
        explode(array_distinct(TextFunctions.tokens(col(qtextCol)))).as("term"))
    val termList = qterms.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq // control-sized
    bm25BatchTerms(spark, index, qterms, termList, k, k1, b)
  }

  /** [[bm25Batch]] over an already-exploded (qid, term) frame plus its
    * pre-collected distinct-term list — the shape [[towerLists]] holds
    * natively, so callers that already paid the driver term collect don't
    * re-tokenize a qtext round-trip or collect a second time. `termList`
    * may be a SUPERSET of `qterms`' terms (bucket pruning only loosens);
    * scoring joins on the exact (qid, term) pairs. */
  private[graft] def bm25BatchTerms(spark: SparkSession, index: InvertedIndex,
                                   qterms: DataFrame, termList: Seq[String],
                                   k: Int, k1: Double = 1.2,
                                   b: Double = 0.75): DataFrame = {
    require(termList.nonEmpty, "no query terms")
    val buckets = termList.map(termBucket(_, index.numBuckets)).distinct
    val postings = liveRows(spark, index,
      spark.read.parquet(index.postingsDir)
        .filter(col("bucket").isin(buckets: _*))
        .filter(col("term").isin(termList: _*)))
    // corpus constants as a broadcast 1-row cross join (see bm25)
    val stats = statsFrame(spark, index)
    val idf = log(lit(1.0) +
      (col("__n").cast("double") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl")))
    // df as an aggregate + broadcast join, not a count() window: the
    // postings of a common term are one window partition (single-threaded
    // sort per term); the aggregate is map-side combined and vocabulary-
    // sized, so it broadcasts
    val dfByTerm = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = postings
      .join(broadcast(dfByTerm), "term").crossJoin(stats)
      .withColumn("c_micro", round(idf * tfNorm * 1e6).cast("long"))
      .join(broadcast(qterms), "term")
    val scored = contrib.groupBy(col("qid"), col("doc"))
      .agg(sum(col("c_micro")).as("score_micro"), count(lit(1)).as("n_terms"))
    // per-qid rank-filter shape is chosen so InferWindowGroupLimit bounds
    // it: each map partition keeps only its top-k per qid BEFORE the
    // exchange (WindowGroupLimit Partial/Final around the shuffle), so the
    // per-qid window task sees ≤ k·numPartitions rows, never a frequent
    // term's corpus-scale candidate set (RetrievalSpec asserts the plan)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("doc"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact phrase search over the positional postings: top-`k` documents
    * containing `phrase` as consecutive tokens, ranked by occurrence count
    * (ties: doc asc). Each phrase term's postings are a partition-pruned
    * read of its own bucket; candidates intersect by equi-joins on doc
    * (k-1 joins for a k-word phrase, each side already term-filtered), and
    * occurrences count by intersecting the position arrays with a codegen'd
    * `filter`/`array_contains` expression — no UDF, no corpus scan.
    * Output: (doc, n_hits, rank). */
  def phraseSearch(spark: SparkSession, index: InvertedIndex, phrase: String,
                   k: Int): DataFrame = {
    val terms = phrase.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, "empty phrase")
    val buckets = terms.distinct.map(termBucket(_, index.numBuckets))
    val live = liveRows(spark, index,
      spark.read.parquet(index.postingsDir)
        .filter(col("bucket").isin(buckets: _*))
        .filter(col("term").isin(terms.distinct: _*)))
      .select(col("doc"), col("term"), col("positions"))
    // one frame per phrase slot (a repeated term reuses the same rows)
    val slots = terms.zipWithIndex.map { case (t, i) =>
      live.filter(col("term") === t)
        .select(col("doc"), col("positions").as(s"__p$i"))
    }
    val joined = slots.reduce((a, b) => a.join(b, "doc"))
    // positions p of slot 0 where every later slot j contains p + j —
    // each fold filters the already-filtered array, so the final length
    // is the exact phrase-occurrence count
    val occ = terms.indices.tail.foldLeft(col("__p0")) { (acc, j) =>
      filter(acc, p => array_contains(col(s"__p$j"), p + j))
    }
    val scored = joined
      .withColumn("n_hits", size(occ).cast("long"))
      .filter(col("n_hits") > 0)
      .select(col("doc"), col("n_hits"))
    rankTopK(scored, k, col("n_hits").desc, col("doc"))
  }

  /** Compaction (rebuild-as-maintenance, same discipline as
    * [[graft.dedup.LshIndex.compact]]): rewrite the live postings and doc
    * lengths into STAGING directories, swap each in with an atomic rename,
    * collapse the stats deltas to a single row, clear the tombstones.
    * Probes before and after are identical; the read side just stops
    * paying for dead generations.
    *
    * Crash consistency at every step boundary: the compacted rows keep the
    * CURRENT MAX generation (not 0), so after any prefix of the swaps the
    * surviving tombstones (`upto_gen <= max`) cannot kill them, a
    * not-yet-swapped table still reads its live rows through the horizon,
    * and the not-yet-collapsed stats deltas still sum to the same totals —
    * the old in-place gen-0 formulation left a crash window where
    * tombstoned ids' REWRITTEN rows (gen 0 < upto_gen) vanished from
    * probes. Single-writer maintenance op: no concurrent update may run
    * during the swaps (probes are fine — each step is consistent). */
  def compact(spark: SparkSession, idx: InvertedIndex): Unit = {
    // repair any prior crashed swap before reading (DirSwap's contract)
    Seq(idx.postingsDir, idx.doclenDir, idx.statsDir)
      .foreach(graft.core.DirSwap.heal)
    val livePost = liveRows(spark, idx, spark.read.parquet(idx.postingsDir))
    val liveDl = liveRows(spark, idx, spark.read.parquet(idx.doclenDir))
    // the rewrite generation must cover BOTH tables' live rows, not just
    // postings: a zero-token document emits a dl=0 doclen row but NO
    // postings, so doclen rows (and their tombstones) can sit at a gen
    // above max(postings.gen); rewriting doclen below its own tombstone
    // horizon would drop those rows in the crash window before tombstone
    // cleanup, silently skewing N/avgdl. The committed pointer (when
    // present) caps both and also keeps the recommit monotone.
    def maxGen(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(max(col("gen")).cast("long"), lit(0L))).head().getLong(0)
    val gen = (maxGen(livePost) max maxGen(liveDl)) max
      graft.core.GenPointer.committedOpt(idx.dir).getOrElse(0L)
    val post = livePost.withColumn("gen", lit(gen)).localCheckpoint(true)
    val dl = liveDl.withColumn("gen", lit(gen)).localCheckpoint(true)
    val stagePost = idx.postingsDir + "__compacting"
    val stageDl = idx.doclenDir + "__compacting"
    post.repartition(idx.numBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket", "gen").parquet(stagePost)
    dl.repartition(idx.numBuckets, col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket", "gen").parquet(stageDl)
    replaceDir(stagePost, idx.postingsDir)
    graft.core.KillPoint("bm25.compact.postings")
    replaceDir(stageDl, idx.doclenDir)
    graft.core.KillPoint("bm25.compact.doclen")
    // stats collapse rides the same staging+rename (an in-place overwrite
    // would leave a torn-stats window mid-rewrite)
    val row = dl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).collect()(0)
    locally {
      import spark.implicits._
      val stageStats = idx.statsDir + "__compacting"
      Seq((gen, row.getLong(0), row.getLong(1)))
        .toDF("gen", "n_delta", "sumdl_delta")
        .coalesce(1).write.partitionBy("gen").mode("overwrite")
        .parquet(stageStats)
      replaceDir(stageStats, idx.statsDir)
    }
    graft.core.KillPoint("bm25.compact.stats")
    graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(idx.tombstoneDir))
    graft.core.GenPointer.commitAtLeast(idx.dir, gen)
  }

  private def replaceDir(src: String, dst: String): Unit =
    graft.core.DirSwap.swap(src, dst)

  // ------------------------------------------------------- source overlap

  /** Pairwise n-gram overlap between corpus slices (e.g. sources): for each
    * unordered slice pair, the count of shared distinct n-grams and the
    * Jaccard in micro-units — the inter-source duplication diagnostic that
    * tells you two crawls fed you the same content before you pay for
    * cross-source dedup.
    *
    * Single-pass: the corpus is shingled ONCE, grouped by shingle into its
    * slice set (state bounded by the slice count, not the corpus), and each
    * shingle emits its slice pairs — self-pairs carry the per-slice sizes,
    * ordered pairs the overlaps — partially aggregated map-side onto at
    * most slices² keys, i.e. almost nothing crosses the wire after the one
    * shingle shuffle. (The previous join formulation planned FOUR
    * independent scan→shingle subtrees — exchange reuse does not kick in
    * across the differently-aliased branches — so the explode, the
    * dominant cost at corpus scale, ran four times.) */
  def sourceOverlap(docs: DataFrame, textCol: String, sliceCol: String,
                    n: Int = 5): DataFrame = {
    val bySh = docs
      .select(col(sliceCol).as("slice"),
        explode(array_distinct(DocDedup.shingles(col(textCol), n))).as("__sh"))
      .groupBy(col("__sh")).agg(array_sort(collect_set(col("slice"))).as("__ss"))
    // every (x, y) with x <= y from the sorted slice set: (x, x) counts the
    // shingle toward slice x's size, (x, y<x ordered) toward the overlap
    // cached: slices² rows feed both the sizes and the overlap branch —
    // without the pin each branch would replan the whole scan+explode
    val pairCounts = graft.ops.Caches.track(bySh
      .select(explode(flatten(transform(col("__ss"), (x, i) =>
        transform(slice(col("__ss"), i + 1, size(col("__ss"))), y =>
          struct(x.as("a"), y.as("b")))))).as("__p"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(count(lit(1)).as("cnt")))
    val sizes = pairCounts.filter(col("a") === col("b"))
      .select(col("a").as("slice"), col("cnt").as("n_grams"))
    pairCounts.filter(col("a") < col("b"))
      .select(col("a").as("slice_a"), col("b").as("slice_b"), col("cnt").as("shared"))
      .join(broadcast(sizes.select(col("slice").as("slice_a"), col("n_grams").as("na"))), "slice_a")
      .join(broadcast(sizes.select(col("slice").as("slice_b"), col("n_grams").as("nb"))), "slice_b")
      .withColumn("union_grams", col("na") + col("nb") - col("shared"))
      // `div`, not `/`: Spark's Divide is double division, whose
      // round-to-nearest can disagree with integer floor near a boundary
      .withColumn("jaccard_micro", expr("(shared * 1000000) div union_grams"))
      .select(col("slice_a"), col("slice_b"), col("shared"), col("union_grams"),
        col("jaccard_micro"))
  }

  /** HYBRID retrieval: reciprocal-rank fusion (Cormack et al. 2009) of a
    * lexical BM25 list and a dense cosine list per probe — the standard
    * two-tower serving shape (sparse + embedding retrieval fused by rank,
    * no score calibration needed). Probes are documents ("more like
    * this"): the lexical query is the probe's distinct tokens, the dense
    * query its embedding; each side contributes `1e9/(rrfK + rank)` NANO
    * UNITS — integer, so the fused score is exact under any partitioning
    * and order (1e9/(rrfK+r) never lands on a .5 rounding boundary for
    * rrfK=60: that would need 60+r to carry 2^10 as a factor of 2·10^9).
    *
    * Self-matches are excluded on both sides with the SAME operational
    * rule (lexical: top-(k+1) list minus self, re-ranked; dense:
    * [[graft.sim.Similarity.bruteForceTopK]] excludes by id) — a defined
    * semantics the oracle mirrors exactly, not an approximation.
    *
    * Scale shape: the probe set is control-sized (both sides broadcast
    * it); the lexical side reads partition-pruned postings, the dense side
    * is one corpus scan; fusion aggregates ≤ 2·kEach rows per probe. */
  /** The two "more like this" tower lists for a probe set — shared by
    * [[hybridRrf]] (fusion) and [[hardNegatives]] (difference).
    *
    * Lexical: Lucene-MoreLikeThis term selection — each probe queries only
    * its `maxQueryTerms` RAREST corpus terms (df asc, term asc tie-break).
    * Rare terms are the distinctive ones AND own the shortest postings —
    * the scoring join's size is the sum of the selected dfs instead of
    * every posting any probe token touches (measured 3.3 s → sub-second
    * on the sf0.1 tiny-vocab corpus, where every doc shares every common
    * token). Terms absent from the index match nothing and drop out; the
    * self-match is removed from the top-(k+1) list and ranks recompute.
    * Dense: brute-force cosine top-k (self excluded by the join).
    * Returns (lex: (qid, doc, rank), den: (query_id, neighbor_id, rank)). */
  private def towerLists(
      spark: SparkSession, index: InvertedIndex, probes: DataFrame,
      idCol: String, textCol: String,
      embeddings: DataFrame, vecIdCol: String, vecCol: String,
      kEach: Int, maxQueryTerms: Int): (DataFrame, DataFrame) = {
    // ONE driver collect of the control-sized probe set — one row per
    // probe with its distinct terms, the same size regime as the probe
    // broadcast both towers already pay — reused by (a) the df read's
    // bucket+term pruning, (b) bm25 scoring, (c) the term-selection input
    // as a LOCAL relation of (probe, term) pairs and (d) the dense tower's
    // probe ids, so the probe scan + tokenize runs once (the df table
    // itself was once a FULL live-postings scan; the index stores no term
    // dictionary by design — df for a term lives in its own bucket)
    val probeTerms = probes.select(col(idCol).as("__q"),
      array_distinct(TextFunctions.tokens(col(textCol))).as("__terms"))
    val probeRows = probeTerms.collect()
    val qtokSchema = StructType(Seq(probeTerms.schema("__q"),
      StructField("term", StringType,
        probeTerms.schema("__terms").dataType.asInstanceOf[ArrayType].containsNull)))
    // a probe with no tokens (null or empty text) has no pairs, exactly
    // as `explode` would drop it
    val qtokRows = probeRows.toSeq.flatMap { r =>
      Option(r.getSeq[String](1)).toSeq.flatten.map(t => Row(r.get(0), t))
    }
    val termList = qtokRows.map(_.getString(1)).distinct
    require(termList.nonEmpty, "no probe terms")
    val qtokLocal = spark.createDataFrame(
      java.util.Arrays.asList(qtokRows: _*), qtokSchema)
    val buckets = termList.map(termBucket(_, index.numBuckets)).distinct
    val dfTab = liveRows(spark, index,
      spark.read.parquet(index.postingsDir)
        .filter(col("bucket").isin(buckets: _*))
        .filter(col("term").isin(termList: _*)))
      .groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val pickW = Window.partitionBy(col("__q")).orderBy(col("__df"), col("term"))
    // selected (qid, term) pairs: consumed exactly once (broadcast into the
    // scoring join), so no cache pin is needed anymore
    val qsel = qtokLocal
      .join(broadcast(dfTab), Seq("term"))
      .withColumn("__rn", row_number().over(pickW))
      .filter(col("__rn") <= maxQueryTerms)
      .select(col("__q").as("qid"), col("term"))
    val lex = bm25BatchTerms(spark, index, qsel, termList, kEach + 1)
      .filter(col("doc") =!= col("qid"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score_micro").desc, col("doc"))))
      .filter(col("rank") <= kEach)
    // dense tower: the probe-id set is control-sized (it already rides a
    // broadcast), so collect it and push an In(vec_id, …) predicate INTO
    // the embeddings scan (guide §6 — pruning must reach the scan) in
    // place of the former full-scan + broadcast join. Ids come from every
    // probe row (not the token pairs): a tokenless probe still queries
    // the dense tower. Same rows: probe ids are unique, so the inner
    // join was a semi-join
    val probeIds = probeRows.map(_.get(0))
    val qvecs = embeddings
      .filter(col(vecIdCol).isin(probeIds: _*))
      .select(col(vecIdCol), col(vecCol))
    val den = graft.sim.Similarity
      .bruteForceTopK(embeddings, qvecs, vecIdCol, vecCol, kEach)
    (lex, den)
  }

  def hybridRrf(spark: SparkSession, index: InvertedIndex, probes: DataFrame,
                idCol: String, textCol: String,
                embeddings: DataFrame, vecIdCol: String, vecCol: String,
                kEach: Int = 20, kOut: Int = 10, rrfK: Int = 60,
                maxQueryTerms: Int = 10): DataFrame = {
    val (lex, den) = towerLists(spark, index, probes, idCol, textCol,
      embeddings, vecIdCol, vecCol, kEach, maxQueryTerms)
    def contrib(r: Column): Column = round(lit(1e9) / (lit(rrfK) + r)).cast("long")
    lex.select(col("qid"), col("doc"), contrib(col("rank")).as("__c"))
      .unionByName(den.select(col("query_id").as("qid"),
        col("neighbor_id").as("doc"), contrib(col("rank")).as("__c")))
      .groupBy(col("qid"), col("doc"))
      .agg(count(lit(1)).as("n_lists"), sum(col("__c")).as("rrf_nano"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("rrf_nano").desc, col("doc"))))
      .filter(col("rank") <= kOut)
  }

  /** HARD-NEGATIVE mining for retrieval training: documents in a probe's
    * lexical (BM25) top-k but NOT in its dense (cosine) top-k — lexically
    * close yet semantically far, the classic contrastive-training negative
    * (the converse set would be paraphrase positives). Pure set
    * difference of the two tower lists: one anti-join on (qid, doc).
    * Output: (qid, doc, lex_rank). */
  def hardNegatives(spark: SparkSession, index: InvertedIndex, probes: DataFrame,
                    idCol: String, textCol: String,
                    embeddings: DataFrame, vecIdCol: String, vecCol: String,
                    kEach: Int = 20, maxQueryTerms: Int = 10): DataFrame = {
    val (lex, den) = towerLists(spark, index, probes, idCol, textCol,
      embeddings, vecIdCol, vecCol, kEach, maxQueryTerms)
    lex.join(den.select(col("query_id").as("qid"), col("neighbor_id").as("doc")),
        Seq("qid", "doc"), "left_anti")
      .select(col("qid"), col("doc"), col("rank").as("lex_rank"))
  }

  /** PARAPHRASE-POSITIVE mining — the converse of [[hardNegatives]]:
    * documents in a probe's dense (cosine) top-k but NOT in its lexical
    * (BM25) top-k — semantically close with little surface overlap, the
    * contrastive-training positive candidates that exact/lexical matching
    * cannot surface. Output: (qid, doc, dense_rank). */
  def paraphrasePositives(spark: SparkSession, index: InvertedIndex,
                          probes: DataFrame, idCol: String, textCol: String,
                          embeddings: DataFrame, vecIdCol: String, vecCol: String,
                          kEach: Int = 20, maxQueryTerms: Int = 10): DataFrame = {
    val (lex, den) = towerLists(spark, index, probes, idCol, textCol,
      embeddings, vecIdCol, vecCol, kEach, maxQueryTerms)
    den.select(col("query_id").as("qid"), col("neighbor_id").as("doc"),
        col("rank").as("dense_rank"))
      .join(lex.select(col("qid"), col("doc")), Seq("qid", "doc"), "left_anti")
  }
}
