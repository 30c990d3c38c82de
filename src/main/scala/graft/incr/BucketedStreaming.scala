package graft.incr

import graft.core.Pipeline
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.jdk.CollectionConverters._

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
  * Backlog contract: a stream batch above [[BucketedRun.MaxCollectedBatch]]
  * changes (a stream replaying its queue after downtime) drains as a
  * sequence of engine batches of at most that many changes each, newest
  * change per id over the whole backlog — the reference's bounded queue
  * polls (processor.py:437-461). Each chunk follows the protocol above, so
  * every batch has one failure rule: bisection and dead letters.
  *
  * Engine-level exactly-once: the last fully-accounted stream batch id is
  * persisted in the ledger payload; a re-delivered stream batch re-applies
  * only if its accounting never committed. A backlog's chunks commit with
  * the previous pointer and only its last chunk advances it, so a crash
  * mid-backlog re-delivers the whole stream batch.
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
    val fresh = if (redelivered(streamBatchId)) Nil else changes
    val now = clock()
    applyWork(fresh, ledger.due(now), now, math.max(lastStreamBatch, streamBatchId))
  }

  private def redelivered(streamBatchId: Long): Boolean =
    streamBatchId >= 0 && streamBatchId <= lastStreamBatch

  /** `fresh` changes plus the `due` retries as one engine batch, whose
    * accounting commits with the `stream=` pointer at `nextStream`. */
  private def applyWork(fresh: Seq[Change], due: Seq[FailedChange], now: Long,
                        nextStream: Long): Unit = {
    val work = (due.map(_.change) ++ fresh).distinct.sortBy(_.seq)
    if (work.isEmpty) return

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

  /** `foreachBatch` body. One bounded collect tells a notification-sized
    * batch, which runs as one engine batch, from a backlog, which drains as
    * bounded engine batches ([[BucketedStreamingEngine.backlogChunks]]):
    * the re-delivery check runs once, due retries ride the first chunk,
    * and only the last chunk advances the `stream=` pointer. A pending
    * retry whose id a chunk covers is superseded when that chunk applies,
    * as in any batch. */
  def processBatch(changes: Dataset[Change], streamBatchId: Long): Unit = {
    val bounded = changes.limit(BucketedRun.MaxCollectedBatch + 1).collect().toSeq
    if (bounded.size <= BucketedRun.MaxCollectedBatch) processBatch(bounded, streamBatchId)
    else batchLock.synchronized {
      // a re-delivered backlog only drains due retries, like any re-delivery
      val chunks =
        if (redelivered(streamBatchId)) Iterator(Seq.empty[Change])
        else BucketedStreamingEngine.backlogChunks(changes)
      var first = true
      for (chunk <- chunks) {
        val now = clock()
        applyWork(chunk, if (first) ledger.due(now) else Nil, now,
          if (chunks.hasNext) lastStreamBatch else math.max(lastStreamBatch, streamBatchId))
        first = false
      }
    }
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
  /** A backlog as bounded driver batches: newest change per
    * (resourceType, resourceId) over the WHOLE backlog (A12 — an older
    * delete in a later chunk would otherwise tombstone a live id), at most
    * [[BucketedRun.MaxCollectedBatch]] changes per chunk. The newest-per-id
    * frame is split round-robin into ceil(n / MaxCollectedBatch) partitions
    * and read one partition per job, so the driver holds O(that ceiling)
    * change rows at a time. */
  private[graft] def backlogChunks(changes: Dataset[Change]): Iterator[Seq[Change]] = {
    val spark = changes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max, max_by}
    val newest = changes.groupBy(col("resourceType"), col("resourceId"))
      .agg(max(col("seq")).as("seq"), max_by(col("change"), col("seq")).as("change"))
      .as[Change]
    val n = newest.count()
    val parts = math.max(1L, (n + BucketedRun.MaxCollectedBatch - 1) / BucketedRun.MaxCollectedBatch)
    newest.repartition(parts.toInt).toLocalIterator().asScala
      .grouped(BucketedRun.MaxCollectedBatch)
  }

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
