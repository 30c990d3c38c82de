package graft.incr

import graft.core.Pipeline
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Listener wiring for the streaming engine: maps Spark's
  * idle/progress/termination events onto a retry drain WITHOUT blocking the
  * shared listener bus — callbacks only flag-and-dispatch to a dedicated
  * daemon thread, so a long micro-batch holding the engine's batch lock can
  * never stall progress/idle delivery for every other query on the session. */
private[incr] final class DrainDispatch(drain: () => Unit) {
  private val queued = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val exec = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "graft-retry-drain"); t.setDaemon(true); t
  })

  /** Coalescing request: at most one drain queued behind the running one.
    * After [[shutdown]] (query terminated) a late request runs inline —
    * only the rare restart-after-terminate path pays that. */
  def request(): Unit =
    if (queued.compareAndSet(false, true))
      try exec.submit(new Runnable {
        def run(): Unit = { queued.set(false); drain() }
      })
      catch {
        case _: java.util.concurrent.RejectedExecutionException =>
          queued.set(false); drain()
      }

  /** Stop the drain thread once its query is done — engines are per-query;
    * without this a long-lived host leaks one daemon thread (and the
    * engine it pins) per engine start. Queued work still runs. */
  def shutdown(): Unit = exec.shutdown()

  def listenerFor(q: StreamingQuery, spark: SparkSession)
      : org.apache.spark.sql.streaming.StreamingQueryListener = {
    val self = this
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.id == q.id) self.request()
      override def onQueryIdle(e: QueryIdleEvent): Unit =
        if (e.id == q.id) self.request()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == q.id) {
          self.request() // final drain is async — hosts needing a
          // synchronous last drain call drainDue() after awaitTermination
          spark.streams.removeListener(this)
          self.shutdown() // already-queued final drain still runs
        }
    }
  }
}

/** A2/A23 + A18 + A3/A4 — the incremental engine as a Structured Streaming
  * query: per-notification retry/bisection/dead-letter semantics
  * ([[RetryLedger]]) over the touched-bucket store, with the ledger
  * persisted INSIDE the store's atomic manifest commit.
  *
  * The reference's worker loop (worker.py:66-89: drain notifications → map
  * phase → grouped reduce phase → 0.5 s idle sleep, `-f` forever mode) maps
  * onto one streaming query whose `foreachBatch` body is [[processBatch]].
  *
  * What the store gives the engine:
  *   - per-batch IO is O(touched buckets), never a full-state rewrite
  *     ([[BucketedRun]]);
  *   - a crash mid-backoff resumes its schedule: the ledger travels with
  *     the manifest swap, so applied state and retry accounting can never
  *     diverge (the reference's equivalent durability is failed
  *     notifications staying unacked in its queue, processor.py:437-471);
  *   - a failed sub-batch commits nothing (stage deltas are discarded,
  *     orphan directories reaped by vacuum) — the bisection isolates poison
  *     records in O(f·log n) sub-batch attempts with per-id ordering
  *     preserved (sorted by seq).
  *
  * Commit protocol per engine batch:
  *   1. due retries ++ fresh changes, newest-wins, sorted by seq;
  *   2. the whole batch is attempted as ONE store batch whose commit carries
  *      the optimistic (all-succeeded) ledger — the steady-state batch costs
  *      exactly one manifest swap;
  *   3. on failure the halves bisect WITHOUT a ledger (sub-commits carry the
  *      previous ledger forward), and a final ledger-only commit publishes
  *      the true post-batch accounting.
  * A crash between 3's sub-commits re-delivers the stream batch; re-applying
  * an already-applied change is idempotent (the engine re-fetches current
  * source state by id), so the end state still equals the recompute.
  *
  * Engine-level exactly-once: the last fully-accounted stream batch id is
  * persisted in the ledger payload; a re-delivered stream batch re-applies
  * only if its accounting never committed.
  */
final class BucketedStreamingEngine(
    spark: SparkSession,
    pipeline: Pipeline,
    sources: IncrementalRun.Sources,
    val store: BucketedStateStore,
    maxRetries: Int = 2,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val batchLock = new Object
  private var ledger: RetryLedger = _
  private var lastStreamBatch: Long = -1L
  restoreLedger()

  private def restoreLedger(): Unit = {
    val payload = store.committedLedger.getOrElse("")
    lastStreamBatch = payload.linesIterator
      .find(_.startsWith("stream=")).map(_.stripPrefix("stream=").toLong)
      .getOrElse(-1L)
    ledger = RetryLedger.restore(maxRetries, payload)
  }

  def pending: Seq[FailedChange] = batchLock.synchronized(ledger.pending)
  def deadLetters: List[Change] = batchLock.synchronized(ledger.deadLetters)

  /** The queryable notification queue (reference: listeners.py:37-40) —
    * pending retries with their backoff gates plus the dead-letter log;
    * reflects the ledger as persisted by the last store commit. */
  def notifications(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    batchLock.synchronized(Notifications.frame(spark, ledger.pending, ledger.deadLetters))

  private def payloadOf(l: RetryLedger, streamBatch: Long): String =
    s"stream=$streamBatch\n" + l.serialize

  /** Set by a leaf apply that covered the WHOLE batch and committed the
    * optimistic ledger with it. */
  private var wholeCommitted = false

  private def applyIsolating(work: Seq[Change], ledgerOnSuccess: Option[String]): Seq[Change] =
    if (work.isEmpty) Nil
    else {
      val ok =
        try {
          val next = store.committedBatch.getOrElse(0L) + 1
          BucketedRun.applyChanges(spark, pipeline, sources, store, work,
            batchTimestampNs = next, batchId = next, ledger = ledgerOnSuccess)
          true
        } catch { case _: Exception => false }
      if (ok) { if (ledgerOnSuccess.isDefined) wholeCommitted = true; Nil }
      else if (work.size == 1) work
      else {
        val (l, r) = work.splitAt(work.size / 2)
        applyIsolating(l, None) ++ applyIsolating(r, None)
      }
    }

  /** Run one engine batch: due retries ride along with the incoming changes;
    * an empty batch still drains due retries. */
  def processBatch(changes: Seq[Change], streamBatchId: Long): Unit = batchLock.synchronized {
    // exactly-once at the engine level: a re-delivered stream batch whose
    // accounting already committed is dropped (due retries still drain)
    val fresh = if (streamBatchId >= 0 && streamBatchId <= lastStreamBatch) Nil else changes
    val now = clock()
    val due = ledger.due(now)
    val work = (due.map(_.change) ++ fresh).distinct.sortBy(_.seq)
    if (work.isEmpty) return

    val nextStream = math.max(lastStreamBatch, streamBatchId)
    // optimistic payload: the ledger as it will read if every record applies
    val optimistic = {
      val l = RetryLedger.restore(maxRetries, ledger.serialize)
      l.record(work, Nil, due, now)
      payloadOf(l, nextStream)
    }
    wholeCommitted = false
    val failed = applyIsolating(work, Some(optimistic))
    ledger.record(work, failed, due, now)
    lastStreamBatch = nextStream
    if (!(failed.isEmpty && wholeCommitted)) {
      // accounting differs from the optimistic commit (or nothing state-side
      // committed at all): publish the true ledger in its own manifest swap
      store.commit(store.committedBatch.getOrElse(0L) + 1,
        Some(payloadOf(ledger, lastStreamBatch)))
    }
  }

  /** `foreachBatch` body. The backlog contract is enforced by the bounded
    * collect: a backlog-sized batch runs through the DISTRIBUTED scoped
    * path ([[BucketedRun.applyChangesDistributed]]) — the batch never sits
    * on the driver and IO stays O(touched buckets), no recompute cliff.
    * Pending retries whose ids the batch covers are superseded (the apply
    * re-fetched current source state for them); others keep their backoff
    * schedule. Per-record bisection needs driver-held sub-batches, so a
    * poison record fails the WHOLE distributed batch — that failure
    * escalates to [[BucketedRun.resyncFull]] (which clears pending: the
    * recompute reflects current source state); dead letters survive as the
    * audit log either way. */
  def processBatch(changes: Dataset[Change], streamBatchId: Long): Unit = {
    val bounded = changes.limit(BucketedRun.MaxCollectedBatch + 1).collect().toSeq
    if (bounded.size > BucketedRun.MaxCollectedBatch) batchLock.synchronized {
      // engine-level exactly-once, same as the driver path
      if (streamBatchId >= 0 && streamBatchId <= lastStreamBatch) return
      val next = store.committedBatch.getOrElse(0L) + 1
      lastStreamBatch = math.max(lastStreamBatch, streamBatchId)
      // supersede pending retries the batch covers BEFORE the apply: the
      // collect reads only the incoming batch (bounded by |pending|), never
      // store state, so the superseded ledger + stream pointer can ride the
      // apply's ONE manifest swap — applied state and retry accounting
      // commit atomically, like the driver path. (A crash can then never
      // re-deliver a fully-applied backlog or resurrect superseded
      // retries.)
      if (ledger.pending.nonEmpty) {
        val session = changes.sparkSession
        import session.implicits._
        val pendIds = ledger.pending.map(f =>
          (f.change.resourceType, f.change.resourceId)).toSet
        val covered = changes
          .filter(c => pendIds.contains((c.resourceType, c.resourceId)))
          .groupByKey(c => (c.resourceType, c.resourceId))
          .reduceGroups((a, b) => if (a.seq >= b.seq) a else b)
          .map(_._2)
          .collect().toSeq
        ledger.record(covered, Nil, Nil, clock())
      }
      try {
        BucketedRun.applyChangesDistributed(pipeline, sources, store, changes,
          batchTimestampNs = next, batchId = next,
          ledger = Some(payloadOf(ledger, lastStreamBatch)))
      } catch {
        case _: Exception =>
          ledger.clearPending()
          BucketedRun.resyncFull(pipeline, sources, store,
            store.committedBatch.getOrElse(0L) + 1)
          // the resync committed without accounting — publish the cleared
          // ledger + advanced stream pointer in a follow-up swap
          store.commit(store.committedBatch.getOrElse(0L) + 1,
            Some(payloadOf(ledger, lastStreamBatch)))
      }
    }
    else processBatch(bounded, streamBatchId)
  }

  /** Drain whatever retries are due right now (the reference's idle poll). */
  def drainDue(): Unit = processBatch(Seq.empty[Change], lastStreamBatch)

  private val drains = new DrainDispatch(() => drainDue())

  /** Start the engine on a change stream — `availableNow=true` is the
    * worker's drain-then-exit mode, false is `-f` forever mode
    * (worker.py:76-89). Retry gates during quiet periods are driven by the
    * idle/progress listener through a dedicated drain thread.
    *
    * The query checkpoints into the store's
    * [[BucketedStateStore.streamCheckpoint]], so a restarted query (the
    * next Worker run, or a second `start`) resumes its batch numbering and
    * source offsets where the last one stopped. Without it every query
    * would number its batches from 0 again, and the engine would drop them
    * as re-deliveries of batches at or below the committed `stream=`
    * pointer. The checkpoint lives under the store root, so it and that
    * pointer are created and removed together. */
  def start(changeStream: Dataset[Change], availableNow: Boolean = true): StreamingQuery = {
    val session = changeStream.sparkSession
    val writer = changeStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", store.streamCheckpoint)
      .foreachBatch { (ds: Dataset[Change], id: Long) => processBatch(ds, id) }
    val q = (if (availableNow) writer.trigger(Trigger.AvailableNow())
             else writer.trigger(Trigger.ProcessingTime("500 milliseconds")))
      .start()
    session.streams.addListener(drains.listenerFor(q, session))
    q
  }
}

object BucketedStreamingEngine {
  /** Crash/restart recovery: resume table state AND the retry ledger from
    * the store's committed manifest; cold-start (full recompute, bucketed
    * write) when the store is empty. */
  def restore(
      spark: SparkSession,
      pipeline: Pipeline,
      sources: IncrementalRun.Sources,
      store: BucketedStateStore,
      maxRetries: Int = 2,
      clock: () => Long = () => System.currentTimeMillis()): BucketedStreamingEngine = {
    if (store.isEmpty) BucketedRun.initialize(pipeline, sources, store)
    new BucketedStreamingEngine(spark, pipeline, sources, store, maxRetries, clock)
  }
}
