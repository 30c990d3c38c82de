package graft.incr

import graft.core.{MapSpec, MrSchema, Pipeline, ReduceSpec}
import graft.ops.{MapOp, ReduceOp}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** A5/A6-incremental + A12/A13/A15 — apply one batch of changes to the
  * derived tables in a [[BucketedStateStore]], keeping them exactly equal to
  * [[IncrementalRun.recompute]] over the new source snapshots, with
  * O(touched buckets) IO per batch.
  *
  * The reference processes one notification at a time with a REST round
  * trip per step (processor.py:99-227); here a batch is DataFrame algebra
  * over the touched buckets, with the reference's ordering guarantees:
  *   - delete-old-then-rewrite for updated sources (processor.py:120-131);
  *   - DELETE tombstones map rows first so the reduce still sees the key,
  *     physical purge only after the key's reduce succeeded (A13,
  *     processor.py:133-148, 406-409);
  *   - a key whose live map rows span handler versions is postponed — its
  *     old reduce output stays (A15, processor.py:173-177);
  *   - newest-wins per id inside a batch (A12).
  *
  * How a batch stays scoped:
  *   1. the change batch itself is CONTROL DATA — it is collected to the
  *     driver exactly like the reference drains its notification queue one
  *     listener poll at a time (processor.py:437-461). A batch holds at
  *     most [[MaxCollectedBatch]] changes: [[BucketedStreamingEngine]]
  *     drains a larger backlog as a sequence of such batches. Holding it
  *     locally lets every bucket set be computed without a Spark job and
  *     every id/key predicate ship as a local-relation broadcast;
  *   2. a per-map-table SECONDARY INDEX `(source_type, source_id, key)`,
  *      bucketed by source id, answers "which keys did these changed ids
  *      produce" by reading only the index buckets of the batch's ids —
  *      the reference's indexed REST lookup (clients/qvarn.py:111-137)
  *      without scanning the map table;
  *   3. touched keys (old-from-index ∪ freshly-mapped) give a touched
  *      bucket set per table; the batch reads those buckets only, applies
  *      the provenance algebra, re-reduces ready keys, and stages ONLY
  *      those buckets back — untouched buckets are carried by reference;
  *   4. the A15 stale-key filter is computed over the scoped rows, which is
  *      exact: every row of a touched key lives in a touched bucket, and
  *      stale keys outside the touched set cannot affect readiness.
  *
  * Shuffle story at 100 TB: every batch-side frame (ids, touched keys,
  * ready keys) is a broadcast local relation of at most
  * [[MaxCollectedBatch]] changes' worth of rows, so STATE rows are never
  * shuffle-joined — the only exchanges in a batch plan are over batch-sized
  * data (the re-reduce of touched keys' rows and the bucketed staging
  * write). A backlog keeps this shape: it arrives as bounded batches, never
  * as one large one. The per-batch plans are captured in the returned
  * [[BatchReport]] so tests can assert no SortMergeJoin ever touches a
  * state-side frame.
  *
  * Per batch this runs a fixed, small number of Spark jobs: one touched-key
  * collect per map spec, one stale-key collect per reduce target, a purge
  * collect only when the batch contains deletes, and one staged write per
  * touched table.
  */
object BucketedRun {
  import MrSchema._

  /** Secondary-index table name for a map target. */
  def indexName(mapTarget: String): String = s"_idx_$mapTarget"

  /** Revision-ledger table (opt-in, see [[initialize]]'s `trackSeqs`): one
    * (source_type, source_id, seq) row per resource id, bucketed by id —
    * the durable "current revision" that [[applyChanges]]'s `expectedSeq`
    * CAS check compares against. The reference's revision/409 surface
    * (clients/qvarn.py:157-168): a writer submits the revision it READ,
    * and a mismatch is a conflict, not a silent last-writer-wins. */
  val SeqTable: String = "_seq"

  /** The 409-analogue: raised by [[applyChanges]] BEFORE any mutation when
    * a CAS expectation does not match the stored revision. One entry per
    * conflicting id: (resource_type, resource_id, expected_seq,
    * actual_seq) — actual 0 means "never written". */
  final case class WriteConflict(conflicts: Seq[(String, String, Long, Long)])
    extends RuntimeException(conflicts.map { case (t, i, e, a) =>
      s"$t/$i: expected seq $e, found $a" }.mkString("; "))

  /** Per-table staging summary: which buckets were replaced, with the
    * executed plan of the staged content (for plan-audit assertions). */
  final case class StagedTable(buckets: Set[Int], plan: String)
  final case class BatchReport(staged: Map[String, StagedTable])

  /** Ceiling on one driver-collected change batch. A stream batch above it
    * is a backlog, and [[BucketedStreamingEngine]] drains it as a sequence
    * of batches of at most this many changes, so the driver never holds
    * more than O(this) change rows. */
  val MaxCollectedBatch: Int = 100000

  /** Cold start: full recompute, then write every table (+ index) bucketed.
    *
    * `trackSeqs = true` seeds the [[SeqTable]] revision ledger, enabling
    * [[applyChanges]]'s `expectedSeq` CAS checks from the first batch (the
    * ledger must cover the store's whole write history to be trustworthy).
    * A resync through here PRESERVES an existing ledger — recomputing
    * table state does not forget which revisions were applied. */
  def initialize(pipeline: Pipeline, sources: IncrementalRun.Sources,
                 store: BucketedStateStore, batchId: Long = 0L,
                 trackSeqs: Boolean = false): Unit = {
    val st = IncrementalRun.recompute(pipeline, sources)
    // each map table is written twice (table + its index projection): cache
    // so the source scan and map projection run once per target
    val cached = pipeline.mapTargets.toSeq.map(t => t -> st(t).cache()).toMap
    try {
      val mapTables = cached.toSeq.map { case (t, df) =>
        Seq(t -> (df, Key),
          indexName(t) -> (df.select(col(SourceType), col(SourceId), col(Key)).distinct(), SourceId))
      }
      // rebuild reduces from the CACHED map frames (recompute()'s own reduce
      // plans reference the uncached map plans — the source would be
      // re-scanned per reduce target otherwise)
      val reduceTables = pipeline.reduces.map(r =>
        Seq(r.target -> (ReduceOp(r, cached(r.source)): DataFrame, Key)))
      val seqTables: Seq[(String, (DataFrame, String))] =
        if (!trackSeqs && !store.tableNames.contains(SeqTable)) Nil
        else {
          val spark = cached.values.head.sparkSession
          val existing =
            if (store.tableNames.contains(SeqTable)) store.table(spark, SeqTable)
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField(SourceType,
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField(SourceId,
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("seq",
                  org.apache.spark.sql.types.LongType))))
          Seq(SeqTable -> (existing, SourceId))
        }
      store.initialize(
        (mapTables ++ reduceTables).flatten.toMap ++ seqTables, batchId)
    } catch {
      // half-staged resync deltas must never ride along with the NEXT
      // successful commit (stage metadata is store-level) — same protocol
      // as the applyChanges failure path
      case e: Throwable => store.discardStaged(); throw e
    } finally cached.values.foreach(_.unpersist(blocking = false))
  }

  /** Full resync (A16/A17 applied to the store): replace the whole state
    * with a fresh recompute over current source snapshots, committed as
    * `batchId` — the Worker's handler-version resync. A replayed `batchId`
    * at or below the committed pointer is a no-op. */
  def resyncFull(pipeline: Pipeline, sources: IncrementalRun.Sources,
                 store: BucketedStateStore, batchId: Long): Unit =
    if (!store.committedBatch.exists(_ >= batchId))
      initialize(pipeline, sources, store, batchId)

  /** Heal [[BucketedStateStore.fsck]] damage: recompute the derivation
    * from current sources (ONE scan per source — the same cost argument as
    * [[resyncFull]]) but stage and commit ONLY the damaged buckets of the
    * damaged tables. Undamaged buckets keep their immutable directories by
    * reference, so repair WRITE IO is proportional to the damage, not the
    * state. No-op on a clean store. Returns the damage that was healed.
    * Reference analogue: resync heals whatever state drifted
    * (resync.py:91-128) — here narrowed to the verifiably-broken subset. */
  def repair(pipeline: Pipeline, sources: IncrementalRun.Sources,
             store: BucketedStateStore,
             batchId: Long): Seq[(String, Int, String)] = {
    val damaged = store.fsck()
    if (damaged.isEmpty) return damaged
    val byTable: Map[String, Set[Int]] =
      damaged.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val st = IncrementalRun.recompute(pipeline, sources)
    val cached = pipeline.mapTargets.toSeq.map(t => t -> st(t).cache()).toMap
    try {
      val all: Map[String, (DataFrame, String)] = (cached.toSeq.flatMap {
        case (t, df) => Seq(t -> (df, Key),
          indexName(t) -> (df.select(col(SourceType), col(SourceId), col(Key))
            .distinct(): DataFrame, SourceId))
      } ++ pipeline.reduces.map(r =>
        r.target -> (ReduceOp(r, cached(r.source)): DataFrame, Key))).toMap
      byTable.foreach { case (tname, bks) =>
        val (df, keyCol) = all.getOrElse(tname,
          sys.error(s"damaged table '$tname' is not derivable from the pipeline"))
        store.stageBuckets(tname, bks,
          df.filter(store.bucketOf(col(keyCol)).isin(bks.toSeq: _*)),
          batchId, keyCol)
      }
      store.commit(batchId)
    } catch {
      case e: Throwable => store.discardStaged(); throw e
    } finally cached.values.foreach(_.unpersist(blocking = false))
    damaged
  }

  /** Batch-lifetime machinery of [[applyChanges]]: tracked temp caches, the
    * scoped-table view with write-elision fingerprints, and the concurrent
    * staging epilogue. */
  private final class BatchScope(val spark: org.apache.spark.sql.SparkSession,
                                 store: BucketedStateStore, batchId: Long) {
    val tempCaches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def tracked(df: DataFrame): DataFrame = { tempCaches += df.cache(); df }
    def releaseAll(): Unit = tempCaches.foreach(_.unpersist(blocking = false))

    /** Batch-lifetime scoped view of one stored table: widens bucket by
      * bucket as the batch discovers touched keys, stages once at the end.
      * Tables that were only READ (e.g. an index consulted by a batch that
      * did not change it) are never staged — their committed buckets stand.
      *
      * Write elision: staging first computes a per-bucket content
      * fingerprint of committed-vs-updated rows (one aggregation over
      * frames the batch already holds cached) and stages ONLY buckets whose
      * content actually changed. A steady-state no-op update (same ids,
      * same rows — the common "notification fired but nothing material
      * moved" case) then writes NOTHING; at scale, write IO tracks changed
      * buckets, not touched buckets. The fingerprint is two independently
      * keyed order-independent hash sums + a count per bucket — a false
      * "unchanged" needs a simultaneous collision in both 64-bit sums. */
    final class Scoped(name: String, keyCol: String) {
      var buckets: Set[Int] = Set.empty
      var rows: DataFrame = _
      private var original: DataFrame = _
      var dirty: Boolean = false
      def widen(need: Set[Int]): DataFrame = {
        val add = need -- buckets
        if (add.nonEmpty || rows == null) {
          val fresh = store.readBuckets(spark, name, add)
          rows = tracked(if (rows == null) fresh else rows.unionByName(fresh))
          original = tracked(if (original == null) fresh else original.unionByName(fresh))
          buckets ++= add
        }
        rows
      }
      def update(f: DataFrame => DataFrame): Unit = {
        rows = tracked(f(rows)); dirty = true
      }
      /** Buckets whose content differs from the committed content. Falls
        * back to "all widened buckets" when the fingerprint cannot run
        * (schema drift within the batch, un-hashable column type). */
      private def changedBuckets(): Set[Int] = {
        if (original == null || original.columns.sorted.toSeq != rows.columns.sorted.toSeq)
          return buckets
        // the batch timestamp is provenance timing, not content: a row whose
        // every OTHER column matches the committed row is unchanged, and
        // keeping its original stamp is exactly what "nothing moved" means
        // (versions and tombstone flags stay in — those are semantic)
        val cols = rows.columns.sorted.toSeq.filterNot(_ == Timestamp).map(col)
        def fp(df: DataFrame, s: Int): DataFrame =
          df.select(store.bucketOf(col(keyCol)).as("__b"),
            xxhash64(struct(cols: _*)).cast("decimal(38,0)").as("__h1"),
            xxhash64(lit("g2"), struct(cols: _*)).cast("decimal(38,0)").as("__h2"),
            lit(s).as("__s"))
        scala.util.Try {
          val agg = fp(original, 0).unionByName(fp(rows, 1))
            .groupBy(col("__b"), col("__s"))
            .agg(count(lit(1)).as("__n"), sum(col("__h1")).as("__s1"),
              sum(col("__h2")).as("__s2"))
            .collect()
          // columns: __b, __s, __n, __s1, __s2
          val by = agg.map(r => (r.getInt(0), r.getInt(1)) ->
            (r.getLong(2), r.getDecimal(3), r.getDecimal(4))).toMap
          agg.map(_.getInt(0)).toSet
            .filter(b => by.get((b, 0)) != by.get((b, 1)))
        }.getOrElse(buckets)
      }
      def stage(): Option[StagedTable] = {
        val changed = changedBuckets()
        if (changed.isEmpty) None
        else {
          val plan = rows.queryExecution.executedPlan.toString
          val toStage =
            if (changed == buckets) rows
            else rows.filter(store.bucketOf(col(keyCol)).isin(changed.toSeq: _*))
          store.stageBuckets(name, changed, toStage, batchId, keyCol)
          Some(StagedTable(changed, plan))
        }
      }
    }
    val scoped = scala.collection.mutable.LinkedHashMap.empty[String, Scoped]
    def scopedTable(name: String, keyCol: String): Scoped =
      scoped.getOrElseUpdate(name, new Scoped(name, keyCol))

    /** Stage all DIRTY tables CONCURRENTLY — each writes its own immutable
      * directory, so the writes only contend for executor slots (wall time
      * ≈ the largest table's write, not the sum). */
    def stageDirty(): Map[String, StagedTable] = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val stagedF = scoped.toSeq.collect {
        case (n, sc) if sc.dirty => n -> Future(sc.stage())
      }
      // await EVERY future before surfacing a failure: a still-running stage
      // must not add to the store's stage metadata after the caller's catch
      // has discarded this batch's deltas
      val awaited =
        stagedF.map { case (n, f) => n -> scala.util.Try(Await.result(f, Duration.Inf)) }
      awaited.collectFirst { case (_, scala.util.Failure(e)) => throw e }
      // tables whose fingerprints elided the write (Success(None)) are
      // omitted: their committed buckets stand untouched
      awaited.collect { case (n, scala.util.Success(Some(st))) => n -> st }.toMap
    }
  }

  /** Driver-side mirror of [[BucketedStateStore.bucketOf]] — same xxhash64
    * chain (null hashes to the seed, exactly like the Catalyst expression
    * skips null children). */
  private def bucketOfValue(key: String, numBuckets: Int): Int = {
    val h = if (key == null) 42L
    else XxHash64Function.hash(UTF8String.fromString(key), StringType, 42L)
    (((h % numBuckets) + numBuckets) % numBuckets).toInt
  }

  // ---- frame algebra of a batch ----
  // [[applyChanges]] builds the batch-side frames (broadcast local relations)
  // and passes them here.

  /** Monotonic revision merge into the [[SeqTable]]: `batch` holds
    * (source_type, source_id, seq). A late or out-of-order notification
    * carrying an OLDER seq for an id must never regress the stored revision
    * (a stale CAS expectation would then wrongly succeed) — on conflict keep
    * greatest(stored, batch), never last-write-wins. */
  private def mergeSeqs(old: DataFrame, batch: DataFrame): DataFrame = {
    val bump = batch.select(col(SourceType).as("__t"),
      col(SourceId).as("__i"), col("seq").as("__s"))
    val kept = old.join(bump,
      col(SourceType) === col("__t") && col(SourceId) === col("__i"),
      "left")
      .withColumn("seq", when(col("__s").isNotNull,
        greatest(col("seq"), col("__s"))).otherwise(col("seq")))
      .drop("__t", "__i", "__s")
    val fresh = batch.join(old.select(col(SourceType).as("__t"),
        col(SourceId).as("__i")),
      col(SourceType) === col("__t") && col(SourceId) === col("__i"),
      "left_anti")
    kept.unionByName(fresh)
  }

  /** Delete-old-then-rewrite of one map spec's rows: `source`'s rows of
    * upserted ids (`upsertIds`, column `_mr_source_id`) are replaced by
    * `fresh`; rows of deleted ids (`deleteIds`, column `__del`) become A13
    * tombstones so the reduce still sees their keys. Rows of other source
    * types feeding the same target pass through untouched. */
  private def rewriteMapRows(old: DataFrame, source: String, upsertIds: DataFrame,
                             deleteIds: DataFrame, fresh: DataFrame): DataFrame = {
    val mine = old.filter(col(SourceType) === source)
    val others = old.filter(col(SourceType) =!= source)
    val marked = mine.join(upsertIds, Seq(SourceId), "left_anti")
      .join(deleteIds, col(SourceId) === col("__del"), "left")
      .withColumn(Deleted, col(Deleted) || col("__del").isNotNull)
      .drop("__del")
    others.unionByName(marked.unionByName(fresh, allowMissingColumns = true),
      allowMissingColumns = true)
  }

  /** Index maintenance: upserted ids get their fresh (type, id, key)
    * triples; deleted ids KEEP theirs while the tombstone lives (a later
    * re-create must find the tombstone's bucket to remove it) — the A13
    * purge drops them together with their rows. */
  private def rewriteIndex(old: DataFrame, source: String, upsertIds: DataFrame,
                           freshTriples: DataFrame): DataFrame = {
    val mineIdx = old.filter(col(SourceType) === source)
    val othersIdx = old.filter(col(SourceType) =!= source)
    othersIdx.unionByName(
      mineIdx.join(upsertIds, Seq(SourceId), "left_anti").unionByName(freshTriples))
  }

  /** A15 version barrier: keys with a live row whose version differs from
    * its source's handler version — postponed, their old output stays. */
  private def staleKeys(mapRows: DataFrame, specs: Seq[MapSpec]): DataFrame = {
    val stale = specs.map(s =>
      col(SourceType) === s.source && col(Version) =!= s.version
    ).reduce(_ || _)
    mapRows.filter(!col(Deleted) && stale).select(col(Key)).distinct()
  }

  /** Replace the `ready` keys of a reduce table wholesale with their
    * re-reduce over `mapRows`; an empty group yields no row = output
    * delete. */
  private def replaceReady(old: DataFrame, mapRows: DataFrame, ready: DataFrame,
                           rspec: ReduceSpec, batchTimestampNs: Long): DataFrame = {
    val recomputed = ReduceOp(rspec, mapRows.join(ready, Seq(Key), "left_semi"),
      batchTimestampNs)
    old.join(ready, Seq(Key), "left_anti")
      .unionByName(recomputed, allowMissingColumns = true)
  }

  /** A13 deferred purge, step 1: exact (type, id, key) triples of the
    * tombstones whose key reduced. Triples, not bare ids: a flatmap id can
    * keep live rows under other keys whose index entries must survive. */
  private def purgedTriples(mapRows: DataFrame, ready: DataFrame): DataFrame =
    mapRows.filter(col(Deleted))
      .join(ready, Seq(Key), "left_semi")
      .select(col(SourceType), col(SourceId), col(Key)).distinct()

  /** A13 deferred purge, step 2: physical delete of reduced tombstones. */
  private def purgeTombstones(mapRows: DataFrame, ready: DataFrame): DataFrame =
    mapRows.join(ready.withColumnRenamed(Key, "__k"),
      col(Key) === col("__k") && col(Deleted), "left_anti")

  /** A13 deferred purge, step 3: drop the purged triples (`__pt`, `__pi`,
    * `__pk`) from the index — a stale entry would spuriously re-reduce the
    * purged key on the id's next unrelated change. */
  private def purgeIndex(old: DataFrame, triples: DataFrame): DataFrame =
    old.join(triples,
      col(SourceType) === col("__pt") && col(SourceId) === col("__pi") &&
        col(Key) === col("__pk"),
      "left_anti")

  /** One change batch against the store, held in driver memory — the
    * native shape of a notification-queue poll; commits on success. A
    * `batchId` at or below the committed manifest pointer is a no-op.
    *
    * `ledger`: opaque engine payload committed atomically WITH the batch
    * (see [[BucketedStateStore.commit]]) — [[BucketedStreamingEngine]]
    * passes its serialized retry ledger so a crash can never separate
    * applied state from retry accounting.
    *
    * `expectedSeq`: optional CAS expectations, (resource_type, resource_id)
    * -> the seq the writer READ (0 = "expects the id unwritten"). Checked
    * against the [[SeqTable]] revision ledger BEFORE any mutation; any
    * mismatch raises [[WriteConflict]] and the batch applies nothing — the
    * reference's revision/409 optimistic concurrency
    * (clients/qvarn.py:157-168). Requires a store initialized with
    * `trackSeqs = true`; on such a store every batch (CAS or not) keeps
    * the ledger current with its newest applied seq per id. */
  def applyChanges(
      spark: org.apache.spark.sql.SparkSession,
      pipeline: Pipeline,
      sources: IncrementalRun.Sources,
      store: BucketedStateStore,
      changes: Seq[Change],
      batchTimestampNs: Long,
      batchId: Long,
      ledger: Option[String] = None,
      expectedSeq: Map[(String, String), Long] = Map.empty): BatchReport = {
    import spark.implicits._

    // exactly-once sink contract: Structured Streaming re-delivers the last
    // batch after a crash; a batch id at-or-below the committed manifest
    // pointer has already been fully applied and published — skip it
    if (store.committedBatch.exists(_ >= batchId)) return BatchReport(Map.empty)

    // A12 newest-wins per id, on the driver (see scaling note above)
    val batchAll: Seq[Change] = changes
      .groupBy(c => (c.resourceType, c.resourceId))
      .map { case (_, cs) => cs.maxBy(_.seq) }.toSeq

    def bucketsOfKeys(keys: Iterable[String]): Set[Int] =
      keys.map(bucketOfValue(_, store.numBuckets)).toSet
    /** Single-column local relation — broadcasts from driver memory, so
      * joins against it never spawn a job to materialize the build side. */
    def localCol(name: String, values: Seq[String]): DataFrame =
      broadcast(values.toDF(name))

    val scope = new BatchScope(spark, store, batchId)
    import scope.{scoped, scopedTable, tracked}

    // AQE off for the batch body: every frame here is either a broadcast
    // local relation or a few scoped buckets, so runtime re-planning buys
    // nothing and splits each of the batch's ~7 actions into per-stage jobs
    // — at notification-batch sizes the fixed per-job overhead dominates
    // wall time (measured ~30 jobs/batch with AQE, ~10 without). Narrow
    // static shuffle width for the same reason. Session-global settings —
    // BatchConf serializes all tuned bodies on this session.
    graft.core.BatchConf.withBatchTuning(spark) {
    try {
      // revision ledger: CAS check first (BEFORE any mutation), then keep
      // the ledger current with this batch's newest seq per id
      val trackSeqs = store.tableNames.contains(SeqTable)
      if (expectedSeq.nonEmpty && !trackSeqs)
        throw new IllegalStateException(
          s"expectedSeq requires a store initialized with trackSeqs=true " +
            s"(no $SeqTable table)")
      if (trackSeqs && (batchAll.nonEmpty || expectedSeq.nonEmpty)) {
        val seqTbl = scopedTable(SeqTable, SourceId)
        val checkIds = batchAll.map(_.resourceId) ++ expectedSeq.keys.map(_._2)
        seqTbl.widen(bucketsOfKeys(checkIds))
        if (expectedSeq.nonEmpty) {
          val stored = seqTbl.rows
            .join(localCol("__id", expectedSeq.keys.map(_._2).toSeq.distinct),
              col(SourceId) === col("__id"), "left_semi")
            .select(col(SourceType), col(SourceId), col("seq"))
            .as[(String, String, Long)].collect()
            .map { case (t, i, s) => (t, i) -> s }.toMap
          val conflicts = expectedSeq.toSeq.sorted.flatMap { case ((t, i), exp) =>
            val actual = stored.getOrElse((t, i), 0L)
            if (actual != exp) Some((t, i, exp, actual)) else None
          }
          if (conflicts.nonEmpty) throw WriteConflict(conflicts)
        }
        if (batchAll.nonEmpty) {
          val upd = batchAll.map(c => (c.resourceType, c.resourceId, c.seq))
          val updDf = broadcast(upd.toDF(SourceType, SourceId, "seq"))
          seqTbl.update(mergeSeqs(_, updDf))
        }
      }

      // (mapTarget -> touched keys), merged across specs
      var affectedKeys = Map.empty[String, Set[String]]

      for ((sourceName, specs) <- pipeline.mappersBySource.toSeq.sortBy(_._1)) {
        val batch = batchAll.filter(_.resourceType == sourceName)
        val upserts = batch.collect { case c if c.change != Change.Deleted => c.resourceId }
        val deletes = batch.collect { case c if c.change == Change.Deleted => c.resourceId }
        val allIds = upserts ++ deletes
        if (allIds.nonEmpty) for (spec <- specs) {
          val idx = scopedTable(indexName(spec.target), SourceId)
          val idxRows = idx.widen(bucketsOfKeys(allIds))

          // 1. old (type, id, key) triples of the changed ids — index
          // lookup, not a table scan
          val oldTriples = idxRows.filter(col(SourceType) === spec.source)
            .join(localCol("__id", allIds), col(SourceId) === col("__id"), "left_semi")
            .select(col(SourceType), col(SourceId), col(Key), lit(false).as("__new"))

          // 2. re-map only the touched source rows. The semi join is the
          // correctness contract; the isin prefilter is the same id set as
          // a pushable predicate so the source scan prunes row groups
          // instead of reading the whole table (exact driver-side cast of
          // the string ids to the id column's type — skipped when the ids
          // don't round-trip or the IN list would be degenerate).
          val src = sources(spec.source)
          val idFilter: Option[Column] = {
            import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
            if (upserts.isEmpty || upserts.size > 1000) None
            else scala.util.Try {
              src.schema(spec.idCol).dataType match {
                case LongType => col(spec.idCol).isin(upserts.map(_.toLong): _*)
                case IntegerType => col(spec.idCol).isin(upserts.map(_.toInt): _*)
                case StringType => col(spec.idCol).isin(upserts: _*)
              }
            }.toOption
          }
          val touchedSrc = idFilter.map(src.filter).getOrElse(src)
            .join(localCol("__id", upserts),
              col(spec.idCol).cast("string") === col("__id"), "left_semi")
          val fresh = tracked(MapOp(spec, touchedSrc))
          val freshTriples = fresh
            .select(col(SourceType), col(SourceId), col(Key), lit(true).as("__new"))
            .distinct()

          // 3. old + fresh triples — THE one collect job of the map phase
          // (it also materializes `fresh` into its cache for the updates
          // below). Triples, not bare keys: the driver derives touched keys
          // AND whether the index content actually changed.
          val collected = oldTriples.unionByName(freshTriples)
            .as[(String, String, String, Boolean)].collect()
          val oldT = collected.collect { case (t, i, k, false) => (t, i, k) }.toSet
          val newT = collected.collect { case (t, i, k, true) => (t, i, k) }.toSet
          val touched: Set[String] = (oldT ++ newT).map(_._3)
          val tbl = scopedTable(spec.target, Key)
          tbl.widen(bucketsOfKeys(touched))

          // 4. delete-old-then-rewrite within the scoped buckets only; the
          // algebra touches nothing outside `spec.source` rows of batch ids,
          // and all of those live in the scoped buckets (via the index)
          val upsertDf = localCol(SourceId, upserts)
          tbl.update(rewriteMapRows(_, spec.source, upsertDf,
            localCol("__del", deletes), fresh))

          // 5. index maintenance, SKIPPED when the upserted ids' triples
          // are unchanged (the steady-state update batch: same ids map to
          // the same keys) — the committed index buckets already hold
          // exactly this content.
          val upsertSet = upserts.toSet
          val idxDirty = newT != oldT.filter(t => upsertSet.contains(t._2))
          if (idxDirty) idx.update(rewriteIndex(_, spec.source, upsertDf,
            fresh.select(col(SourceType), col(SourceId), col(Key)).distinct()))

          if (pipeline.reducersBySource.contains(spec.target))
            affectedKeys += spec.target ->
              (affectedKeys.getOrElse(spec.target, Set.empty) ++ touched)
        }
      }

      val anyDeletes = batchAll.exists(_.change == Change.Deleted)

      for ((mapTarget, keys) <- affectedKeys.toSeq.sortBy(_._1)) {
        val specs = pipeline.mapSpecsByTarget(mapTarget)
        val tbl = scoped(mapTarget)
        for (rspec <- pipeline.reducersBySource(mapTarget)) {
          val table = tbl.rows

          // A15 version barrier over the scoped rows. Steady state has zero
          // stale rows, so this collect is empty and cheap.
          val stale = staleKeys(table, specs).as[String].collect().toSet
          val ready: Set[String] = keys -- stale
          val readyKeys = localCol(Key, ready.toSeq)

          val rtbl = scopedTable(rspec.target, Key)
          rtbl.widen(bucketsOfKeys(ready))
          rtbl.update(replaceReady(_, table, readyKeys, rspec, batchTimestampNs))

          // A13 deferred purge of reduced tombstones — rows AND their index
          // entries. Skipped when the batch contains no delete: fresh
          // tombstones only appear in delete batches; the one corner this
          // defers is a barrier-postponed tombstone from an EARLIER batch
          // whose key reduces in a delete-free batch — it is then benign
          // garbage (excluded from every fold) until the next delete-bearing
          // batch purges it.
          if (anyDeletes) {
            val purged = purgedTriples(tbl.rows, readyKeys)
              .as[(String, String, String)].collect()
            tbl.update(purgeTombstones(_, readyKeys))
            if (purged.nonEmpty) {
              val idx = scopedTable(indexName(mapTarget), SourceId)
              idx.widen(bucketsOfKeys(purged.map(_._2)))
              val purgedDf = broadcast(purged.toSeq.toDF("__pt", "__pi", "__pk"))
              idx.update(purgeIndex(_, purgedDf))
            }
          }
        }
      }

      val report = BatchReport(scope.stageDirty())
      store.commit(batchId, ledger)
      report
    } catch {
      // a failed batch must not leak its half-staged deltas into the next
      // successful batch's commit (the retry engine re-applies failed work
      // LATER, against whatever state committed in between)
      case e: Throwable => store.discardStaged(); throw e
    } finally {
      scope.releaseAll()
    }
    }
  }

  /** The 404-analogue for the point-addressed blob surface: the addressed
    * `(resourceType, resourceId)` row does not exist in the store. */
  final case class NoSuchResource(resourceType: String, resourceId: String)
    extends RuntimeException(s"$resourceType/$resourceId not found")

  /** Blob-file subresource PUT — the write twin of the blob GET surface
    * (`update_file`, clients/qvarn.py:193-200; the reference returns 409 on
    * a revision mismatch and 404 on a missing resource): writes `blob`
    * into the `subresource` BINARY column of the `(resourceType,
    * resourceId)` row in the durable store, guarded by the same optimistic
    * revision check as [[applyChanges]]' `expectedSeq` CAS.
    *
    * Contract:
    *   - the store must track revisions ([[SeqTable]] present) and hold a
    *     STRING-keyed `resourceType` table with a binary `subresource`
    *     column (the engine's source-id convention — [[Change.resourceId]]
    *     is a string everywhere);
    *   - `expectedSeq` must equal the stored revision (0 = never written)
    *     or [[WriteConflict]] raises and NOTHING mutates; `newSeq` must
    *     advance the revision;
    *   - the addressed row must exist ([[NoSuchResource]] otherwise — a
    *     blob PUT never creates the document, exactly like the reference's
    *     file subresource);
    *   - on success the row's blob column and the revision ledger advance
    *     in the SAME manifest swap ([[BucketedStateStore.commit]]), so a
    *     crash can never separate the blob write from its revision bump,
    *     and a replayed `batchId` at-or-below the committed pointer is a
    *     no-op (exactly-once under at-least-once delivery).
    *
    * Scale shape: two point bucket reads (the id's data bucket and its
    * ledger bucket), two staged bucket writes, one swap — IO tracks the
    * BUCKET, never the table. */
  def putBlob(spark: org.apache.spark.sql.SparkSession, store: BucketedStateStore,
              resourceType: String, resourceId: String, subresource: String,
              blob: Array[Byte], expectedSeq: Long, newSeq: Long,
              batchId: Long, idCol: String = "id"): Unit =
    putColumn(spark, store, resourceType, resourceId, subresource,
      expectedSeq, newSeq, batchId, idCol,
      dt => require(dt == org.apache.spark.sql.types.BinaryType,
        s"blob subresource '$subresource' must be a binary column, got " +
          dt.simpleString),
      _ => lit(blob))

  /** Dict-subpath subresource PUT — the STRUCT twin of [[putBlob]]
    * (`update_subresource`, clients/qvarn.py:184-191: the side-document
    * flavor, e.g. `persons/<id>/private`): writes `payloadJson` parsed
    * against the `subresource` STRUCT column's own schema into the
    * addressed row, under the identical contract — CAS before any
    * mutation (the 409), 404 never creates, payload + revision bump in
    * ONE manifest swap, replayed committed batchIds are no-ops. FAILFAST
    * parsing: a malformed payload throws instead of silently nulling the
    * side-document. */
  def putSubresource(spark: org.apache.spark.sql.SparkSession,
                     store: BucketedStateStore,
                     resourceType: String, resourceId: String,
                     subresource: String, payloadJson: String,
                     expectedSeq: Long, newSeq: Long,
                     batchId: Long, idCol: String = "id"): Unit =
    putColumn(spark, store, resourceType, resourceId, subresource,
      expectedSeq, newSeq, batchId, idCol,
      dt => require(dt.isInstanceOf[org.apache.spark.sql.types.StructType],
        s"dict subresource '$subresource' must be a struct column, got " +
          dt.simpleString),
      dt => from_json(lit(payloadJson),
        dt.asInstanceOf[org.apache.spark.sql.types.StructType],
        Map("mode" -> "FAILFAST")))

  /** Shared (type, id, subresource)-addressed column write: the CAS check,
    * the 404, the bucket-scoped point IO, and the single manifest swap are
    * identical for blob and dict subresources — only the column-type
    * validation and the replacement value differ. */
  private def putColumn(spark: org.apache.spark.sql.SparkSession,
                        store: BucketedStateStore,
                        resourceType: String, resourceId: String,
                        subresource: String, expectedSeq: Long, newSeq: Long,
                        batchId: Long, idCol: String,
                        validateType: org.apache.spark.sql.types.DataType => Unit,
                        newValue: org.apache.spark.sql.types.DataType =>
                          org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    if (store.committedBatch.exists(_ >= batchId)) return
    require(store.tableNames.contains(SeqTable),
      s"subresource PUT requires a revision-tracking store (no $SeqTable table)")
    require(store.tableNames.contains(resourceType),
      s"no such table '$resourceType' in the store")
    graft.core.BatchConf.withBatchTuning(spark) {
      try {
        // CAS first, BEFORE any mutation (the 409 contract)
        val sb = bucketOfValue(resourceId, store.numBuckets)
        val seqRows = store.readBuckets(spark, SeqTable, Set(sb))
          .localCheckpoint(true)
        val actual = seqRows
          .filter(col(SourceType) === resourceType && col(SourceId) === resourceId)
          .select(col("seq")).as[Long].collect().headOption.getOrElse(0L)
        if (actual != expectedSeq)
          throw WriteConflict(Seq((resourceType, resourceId, expectedSeq, actual)))
        require(newSeq > actual,
          s"newSeq $newSeq must advance the stored revision $actual")

        val db = bucketOfValue(resourceId, store.numBuckets)
        val rows = store.readBuckets(spark, resourceType, Set(db))
          .localCheckpoint(true)
        require(rows.columns.contains(idCol) && rows.columns.contains(subresource),
          s"table '$resourceType' needs columns '$idCol' and '$subresource'")
        require(rows.schema(idCol).dataType ==
          org.apache.spark.sql.types.StringType,
          s"subresource PUT addresses STRING-keyed tables; '$idCol' is " +
            rows.schema(idCol).dataType.simpleString)
        validateType(rows.schema(subresource).dataType)
        if (rows.filter(col(idCol) === resourceId).isEmpty)
          throw NoSuchResource(resourceType, resourceId)

        val updated = rows.withColumn(subresource,
          when(col(idCol) === resourceId,
            newValue(rows.schema(subresource).dataType))
            .otherwise(col(subresource)))
        store.stageBuckets(resourceType, Set(db), updated, batchId, idCol)

        val bumped = seqRows
          .filter(!(col(SourceType) === resourceType && col(SourceId) === resourceId))
          .unionByName(Seq((resourceType, resourceId, newSeq))
            .toDF(SourceType, SourceId, "seq"))
        store.stageBuckets(SeqTable, Set(sb), bumped, batchId, SourceId)
        store.commit(batchId)
      } catch {
        case e: Throwable => store.discardStaged(); throw e
      }
    }
  }
}
