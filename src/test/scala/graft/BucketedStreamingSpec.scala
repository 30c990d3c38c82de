package graft

import graft.core._
import graft.incr._
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A2/A23 + A18 with the durable bucketed sink: the [[RetryLedger]] retry
  * semantics running [[BucketedRun]] batches, with the ledger persisted
  * inside the store's atomic manifest commit so a crash mid-backoff resumes
  * its schedule. */
class BucketedStreamingSpec extends AnyFunSuite with SparkTestBase {
  import MrSchema._
  import spark.implicits._

  private val pipeline = Pipeline(
    maps = Seq(MapSpec("src", "m", 1, idCol = "id",
      fn = MapFns.item("k", Some("v"), idCol = "id"))),
    reduces = Seq(ReduceSpec("m", "r", 1, ExprReduce(sum))))

  /** Map fn that poisons rows with negative v (evaluation-time failure). */
  private val poisonPipeline = Pipeline(
    maps = Seq(MapSpec("src", "m", 1, idCol = "id",
      fn = df => df.select(col("k").as(Key),
        when(col("v") < 0, raise_error(lit("poison record")))
          .otherwise(col("v")).as(Value),
        col("id")))),
    reduces = Seq(ReduceSpec("m", "r", 1, ExprReduce(sum))))

  private def newStore(buckets: Int = 8): BucketedStateStore =
    new BucketedStateStore(Files.createTempDirectory("graft_bseng").toString, buckets)

  private def reduced(store: BucketedStateStore): Map[String, Double] =
    store.table(spark, "r").select(col(Key), col(Value))
      .as[(String, Double)].collect().toMap

  test("A18/bucketed: a poison record dead-letters alone on the 0.25/1.5s schedule") {
    @volatile var now = 0L
    var data = Seq(("a", "k1", 1.0), ("b", "k2", 2.0), ("p", "k3", 5.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(poisonPipeline, sources, store)
    val engine = new BucketedStreamingEngine(spark, poisonPipeline, sources, store,
      maxRetries = 2, clock = () => now)

    // batch of 3 changes, 1 poison: the 2 good records must apply durably
    data = Seq(("a", "k1", 10.0), ("b", "k2", 20.0), ("p", "k3", -1.0)).toDF("id", "k", "v")
    engine.processBatch(Seq(
      Change(1, Change.Updated, "src", "a"),
      Change(2, Change.Updated, "src", "b"),
      Change(3, Change.Updated, "src", "p")), streamBatchId = 0)
    assert(reduced(store) == Map("k1" -> 10.0, "k2" -> 20.0, "k3" -> 5.0),
      "good siblings apply; the poison record's old output stays")
    assert(engine.pending.map(_.change.resourceId) == Seq("p"))
    assert(engine.deadLetters.isEmpty)

    // before the 0.25s gate the failure is not retried
    now = 100
    engine.processBatch(Seq.empty, streamBatchId = 1)
    assert(engine.pending.head.retries == 0)

    // first retry at >=0.25s fails -> one retry used
    now = 300
    engine.processBatch(Seq.empty, streamBatchId = 2)
    assert(engine.pending.head.retries == 1 && engine.deadLetters.isEmpty)

    // second gate is 1.5s from the FIRST failure
    now = 1000
    engine.processBatch(Seq.empty, streamBatchId = 3)
    assert(engine.pending.head.retries == 1)

    // the queryable notification queue reflects the live ledger: one
    // pending row whose gate is first-failure + backoff(1) = 0 + 1500
    val nq = engine.notifications(spark).collect()
    assert(nq.length == 1)
    assert(nq.head.getString(0) == "pending" && nq.head.getString(4) == "p")
    assert(nq.head.getInt(5) == 1 && nq.head.getLong(7) == 1500L)

    // second retry fails -> dead-letter; state unchanged
    now = 1600
    engine.processBatch(Seq.empty, streamBatchId = 4)
    assert(engine.pending.isEmpty)
    assert(engine.deadLetters.map(_.resourceId) == List("p"))
    assert(reduced(store) == Map("k1" -> 10.0, "k2" -> 20.0, "k3" -> 5.0))
  }

  test("A18/bucketed: a record that heals before its retry clears its entry durably") {
    @volatile var now = 0L
    var data = Seq(("p", "k1", -1.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(poisonPipeline, _ =>
      Seq(("p", "k1", 1.0)).toDF("id", "k", "v"), store)
    val engine = new BucketedStreamingEngine(spark, poisonPipeline, sources, store,
      maxRetries = 2, clock = () => now)

    engine.processBatch(Seq(Change(1, Change.Updated, "src", "p")), streamBatchId = 0)
    assert(engine.pending.size == 1)

    data = Seq(("p", "k1", 7.0)).toDF("id", "k", "v")
    now = 300
    engine.processBatch(Seq.empty, streamBatchId = 1)
    assert(engine.pending.isEmpty && engine.deadLetters.isEmpty)
    assert(reduced(store) == Map("k1" -> 7.0))
  }

  test("A18/bucketed: a newer success supersedes an older pending failure") {
    @volatile var now = 0L
    // the poison map fn fails while v < 0; id p starts poisoned
    var data = Seq(("p", "k1", -1.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(poisonPipeline, _ =>
      Seq(("p", "k1", 1.0)).toDF("id", "k", "v"), store)
    val engine = new BucketedStreamingEngine(spark, poisonPipeline, sources, store,
      maxRetries = 2, clock = () => now)

    // seq=1 fails -> pending
    engine.processBatch(Seq(Change(1, Change.Updated, "src", "p")), streamBatchId = 0)
    assert(engine.pending.size == 1)

    // the source heals and a NEWER change (seq=2) for the same id succeeds
    // on the driver path BEFORE seq=1's retry gate opens: the stale pending
    // entry must die with it — replaying seq=1 later may not undo newer state
    data = Seq(("p", "k1", 42.0)).toDF("id", "k", "v")
    now = 100 // seq=1 not yet due
    engine.processBatch(Seq(Change(2, Change.Updated, "src", "p")), streamBatchId = 1)
    assert(engine.pending.isEmpty && engine.deadLetters.isEmpty)
    assert(reduced(store) == Map("k1" -> 42.0))

    // nothing left to replay at the next drains, and the cleared ledger is
    // what a restarted engine resumes from
    now = 2000
    engine.drainDue()
    assert(engine.pending.isEmpty && engine.deadLetters.isEmpty)
    assert(reduced(store) == Map("k1" -> 42.0))
    val engine2 = new BucketedStreamingEngine(spark, poisonPipeline, sources,
      new BucketedStateStore(store.root, store.numBuckets), maxRetries = 2,
      clock = () => now)
    assert(engine2.pending.isEmpty && engine2.deadLetters.isEmpty)
  }

  test("crash durability: the retry ledger survives an engine teardown mid-backoff") {
    @volatile var now = 0L
    var data = Seq(("p", "k1", -1.0), ("g", "k2", 3.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(poisonPipeline, _ =>
      Seq(("p", "k1", 1.0), ("g", "k2", 3.0)).toDF("id", "k", "v"), store)
    val engine = new BucketedStreamingEngine(spark, poisonPipeline, sources, store,
      maxRetries = 2, clock = () => now)

    // p fails (pending), then fails its first due retry too
    engine.processBatch(Seq(Change(1, Change.Updated, "src", "p")), streamBatchId = 0)
    now = 300
    engine.processBatch(Seq.empty, streamBatchId = 1)
    assert(engine.pending.head.retries == 1)

    // ---- crash: new store instance on the same root, new engine ----
    val reopened = new BucketedStateStore(store.root, store.numBuckets)
    val engine2 = BucketedStreamingEngine.restore(spark, poisonPipeline, sources,
      reopened, maxRetries = 2, clock = () => now)
    assert(engine2.pending.map(f => (f.change.resourceId, f.retries)) == Seq(("p", 1)),
      "pending retry (with used-retry count and schedule anchor) must survive the crash")

    // the source heals; the resumed schedule fires the retry at the 1.5s gate
    data = Seq(("p", "k1", 42.0), ("g", "k2", 3.0)).toDF("id", "k", "v")
    now = 1600
    engine2.drainDue()
    assert(engine2.pending.isEmpty && engine2.deadLetters.isEmpty)
    assert(reduced(reopened) == Map("k1" -> 42.0, "k2" -> 3.0))
  }

  test("crash durability: dead letters survive restore") {
    @volatile var now = 0L
    var data = Seq(("p", "k1", -1.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(poisonPipeline, _ =>
      Seq(("p", "k1", 1.0)).toDF("id", "k", "v"), store)
    val engine = new BucketedStreamingEngine(spark, poisonPipeline, sources, store,
      maxRetries = 2, clock = () => now)
    engine.processBatch(Seq(Change(1, Change.Updated, "src", "p")), streamBatchId = 0)
    now = 300
    engine.processBatch(Seq.empty, streamBatchId = 1)
    now = 1600
    engine.processBatch(Seq.empty, streamBatchId = 2)
    assert(engine.deadLetters.map(_.resourceId) == List("p"))

    val engine2 = BucketedStreamingEngine.restore(spark, poisonPipeline, sources,
      new BucketedStateStore(store.root, store.numBuckets), maxRetries = 2,
      clock = () => now)
    assert(engine2.deadLetters.map(_.resourceId) == List("p"))
    assert(engine2.pending.isEmpty)
  }

  test("engine-level exactly-once: a re-delivered stream batch does not re-apply") {
    var data = Seq(("a", "k1", 1.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(pipeline, sources, store)
    val engine = new BucketedStreamingEngine(spark, pipeline, sources, store)

    data = Seq(("a", "k1", 5.0)).toDF("id", "k", "v")
    engine.processBatch(Seq(Change(1, Change.Updated, "src", "a")), streamBatchId = 7)
    assert(reduced(store) == Map("k1" -> 5.0))
    val committed = store.committedBatch

    // crash-recovery re-delivery of stream batch 7: must be dropped outright
    engine.processBatch(Seq(Change(1, Change.Updated, "src", "a")), streamBatchId = 7)
    assert(store.committedBatch == committed, "no new commit for a replayed batch")
  }

  test("steady state: a clean batch costs exactly one manifest commit") {
    var data = Seq(("a", "k1", 1.0), ("b", "k2", 2.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(pipeline, sources, store)
    val engine = new BucketedStreamingEngine(spark, pipeline, sources, store)
    val before = store.committedBatch.get

    data = Seq(("a", "k1", 9.0), ("b", "k2", 2.0)).toDF("id", "k", "v")
    engine.processBatch(Seq(Change(1, Change.Updated, "src", "a")), streamBatchId = 0)
    assert(store.committedBatch.get == before + 1,
      "optimistic ledger rides the batch commit — no second manifest swap")
    assert(reduced(store) == Map("k1" -> 9.0, "k2" -> 2.0))
    // and the committed ledger payload reflects the clean state
    assert(store.committedLedger.exists(p => !p.contains("pending|")))
  }

  test("A2→A3→A18 end to end: stream drain with a poison sibling, durable result") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    @volatile var now = 0L
    var data = Seq(("a", "k1", 1.0), ("p", "k2", 2.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(poisonPipeline, sources, store)
    val engine = new BucketedStreamingEngine(spark, poisonPipeline, sources, store,
      maxRetries = 2, clock = () => now)

    val mem = MemoryStream[Change](spark)
    data = Seq(("a", "k1", 5.0), ("p", "k2", -1.0)).toDF("id", "k", "v")
    mem.addData(Change(1, Change.Updated, "src", "a"), Change(2, Change.Updated, "src", "p"))
    val q = engine.start(mem.toDS(), availableNow = true)
    q.awaitTermination(60000)
    assert(reduced(store) == Map("k1" -> 5.0, "k2" -> 2.0))
    assert(engine.pending.map(_.change.resourceId) == Seq("p"))

    // heal; a later drain applies the retry and commits it durably
    data = Seq(("a", "k1", 5.0), ("p", "k2", 8.0)).toDF("id", "k", "v")
    now = 300
    engine.drainDue()
    assert(engine.pending.isEmpty)
    assert(reduced(new BucketedStateStore(store.root, store.numBuckets))
      == Map("k1" -> 5.0, "k2" -> 8.0))

    // restart: a second query resumes from the store's stream checkpoint,
    // so the delete arrives as stream batch 1 — not as a fresh batch 0 the
    // committed `stream=0` pointer would drop as a re-delivery
    data = Seq(("a", "k1", 5.0)).toDF("id", "k", "v")
    mem.addData(Change(3, Change.Deleted, "src", "p"))
    val q2 = engine.start(mem.toDS(), availableNow = true)
    q2.awaitTermination(60000)
    assert(reduced(new BucketedStateStore(store.root, store.numBuckets))
      == Map("k1" -> 5.0))
  }

  test("forever mode: the idle listener drains a due retry with no new data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    @volatile var now = 0L
    var data = Seq(("p", "k1", -1.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(poisonPipeline, _ =>
      Seq(("p", "k1", 1.0)).toDF("id", "k", "v"), store)
    val engine = new BucketedStreamingEngine(spark, poisonPipeline, sources, store,
      maxRetries = 2, clock = () => now)

    def eventually(timeoutMs: Long)(cond: => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
      cond
    }

    // idle events normally fire every 10s; tighten for the spec
    val idleKey = "spark.sql.streaming.noDataProgressEventInterval"
    spark.conf.set(idleKey, "250ms")
    val mem = MemoryStream[Change](spark)
    val q = engine.start(mem.toDS(), availableNow = false) // `-f` forever mode
    try {
      mem.addData(Change(1, Change.Updated, "src", "p"))
      assert(eventually(30000)(engine.pending.size == 1),
        "the poisoned change must land in the ledger via the polling query")

      // the source heals and the gate opens — NO new data arrives; only the
      // idle/progress listener can fire the retry (reference: the worker's
      // poll loop touches the retry ledger every iteration, worker.py:85-89)
      data = Seq(("p", "k1", 6.0)).toDF("id", "k", "v")
      now = 300
      assert(eventually(30000)(engine.pending.isEmpty),
        "idle listener must drain the due retry without new stream data")
      assert(reduced(store) == Map("k1" -> 6.0))
    } finally {
      q.stop()
      spark.conf.unset(idleKey)
    }
  }

  test("backlog chunks: bounded, every id once, with its newest change") {
    // MaxCollectedBatch + 5 distinct ids, each offered twice; the older
    // change of every fifth id is a delete that must lose (A12 across the
    // whole backlog, not per chunk)
    val n = BucketedRun.MaxCollectedBatch + 5
    val backlog = (0 until n).flatMap { i =>
      val id = s"id$i"
      Seq(Change(i.toLong, if (i % 5 == 0) Change.Deleted else Change.Updated, "src", id),
        Change(n + i.toLong, Change.Updated, "src", id))
    }.toDS()
    val chunks = BucketedStreamingEngine.backlogChunks(backlog).toSeq
    assert(chunks.size == 2)
    assert(chunks.forall(_.size <= BucketedRun.MaxCollectedBatch))
    val all = chunks.flatten
    assert(all.size == n, "every id exactly once")
    assert(all.map(_.resourceId).toSet.size == n)
    assert(all.forall(c => c.change == Change.Updated &&
      c.seq == n + c.resourceId.stripPrefix("id").toLong), "newest change per id")
  }

  test("engine backlog: covered pending retries are superseded, durably") {
    @volatile var now = 0L
    var data = Seq(("p", "k1", -1.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(poisonPipeline, _ =>
      Seq(("p", "k1", 1.0)).toDF("id", "k", "v"), store)
    val engine = new BucketedStreamingEngine(spark, poisonPipeline, sources, store,
      maxRetries = 2, clock = () => now)
    engine.processBatch(Seq(Change(1, Change.Updated, "src", "p")), streamBatchId = 0)
    assert(engine.pending.size == 1)

    // the source heals and a huge re-delivery arrives: its chunk re-fetches
    // current state for id p, so the pending retry is superseded and
    // cleared durably (no full resync involved)
    data = Seq(("p", "k1", 4.0)).toDF("id", "k", "v")
    val backlog = (1 to BucketedRun.MaxCollectedBatch + 5).map(i =>
      Change(i.toLong + 10, Change.Updated, "src", "p")).toDS()
    def streamPointer = store.committedLedger.getOrElse("").linesIterator
      .find(_.startsWith("stream=")).map(_.stripPrefix("stream=").toLong)
    assert(streamPointer.contains(0L))
    val before = store.committedBatch.get
    engine.processBatch(backlog, streamBatchId = 1)
    assert(reduced(store) == Map("k1" -> 4.0))
    assert(engine.pending.isEmpty)
    // one chunk, one commit, and it advanced the stream pointer
    assert(store.committedBatch.contains(before + 1))
    assert(streamPointer.contains(1L))
    // re-delivering stream batch 1 applies and commits nothing
    data = Seq(("p", "k1", 9.0)).toDF("id", "k", "v")
    engine.processBatch(backlog, streamBatchId = 1)
    assert(store.committedBatch.contains(before + 1))
    assert(reduced(store) == Map("k1" -> 4.0))
    val engine2 = BucketedStreamingEngine.restore(spark, poisonPipeline, sources,
      new BucketedStateStore(store.root, store.numBuckets), maxRetries = 2,
      clock = () => now)
    assert(engine2.pending.isEmpty)
  }

  test("discarded stage deltas never reach a later commit") {
    val store = newStore()
    val data = Seq(("a", "k1", 1.0)).toDF("id", "k", "v")
    BucketedRun.initialize(pipeline, _ => data, store)
    val before = store.bucketPaths("r")
    // stage replacement content, then discard (a failed batch's epilogue)
    store.stageBuckets("r", before.keySet,
      store.table(spark, "r").withColumn(Value, lit(99.0)), batchId = 5, keyCol = Key)
    store.discardStaged()
    store.commit(6)
    assert(store.bucketPaths("r") == before,
      "discarded deltas must not be published by the next commit")
    assert(reduced(store) == Map("k1" -> 1.0))
  }

  test("RetryLedger: maxRetries=0 dead-letters on the first failure (no retry)") {
    val l = new RetryLedger(maxRetries = 0)
    val c = Change(1, Change.Updated, "src", "x")
    l.record(Seq(c), failed = Seq(c), due = Nil, now = 0L)
    assert(l.pending.isEmpty, "maxRetries=0 must not enqueue a retry")
    assert(l.deadLetters == List(c))
  }

  test("RetryLedger: serialization round-trips pending and dead letters") {
    val l = new RetryLedger(maxRetries = 2)
    val c1 = Change(1, Change.Updated, "src", "pipe|id") // hostile id
    val c2 = Change(2, Change.Deleted, "src", "gone")
    val c3 = Change(3, Change.Created, "src", "alive")
    // EMPTY type/id: base64("") is "" — a trailing empty field used to
    // change split arity and crash restore on a committed payload
    val c4 = Change(4, Change.Updated, "", "")
    l.record(Seq(c1, c2, c3, c4), failed = Seq(c1, c2, c4), due = Nil, now = 42L)
    // c2 dies after its retries: simulate two due failures
    l.record(Seq(c2), failed = Seq(c2), due = l.due(10000L).filter(_.change == c2), now = 300L)
    l.record(Seq(c2), failed = Seq(c2), due = l.due(10000L).filter(_.change == c2), now = 1600L)
    assert(l.deadLetters == List(c2))

    val r = RetryLedger.restore(2, l.serialize)
    assert(r.pending.toSet == l.pending.toSet)
    assert(r.pending.exists(_.change == c4), "empty-field change must survive")
    assert(r.deadLetters == l.deadLetters)
    assert(r.serialize == l.serialize)
  }

  test("auto-vacuum cadence: superseded directories are reaped by commits alone") {
    // keepSnapshots = 0: this test pins the bare GC cadence — time-travel
    // retention (its own spec) would keep batch-0 dirs live via snapshots
    val store = new BucketedStateStore(
      Files.createTempDirectory("graft_av").toString, numBuckets = 4,
      autoVacuumEvery = 3, keepSnapshots = 0)
    var data = Seq(("a", "k1", 1.0)).toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store) // commit 1
    val firstDirs = new java.io.File(store.root, "r").listFiles().map(_.getName).toSet
    assert(firstDirs.exists(_.startsWith("b0_")))

    // two cadence windows: the auto-vacuum keeps a one-cadence grace for
    // recently-resolved lazy frames, so batch-0 dirs survive the first
    // firing (horizon 2-3 < 0) and are reaped by the second (horizon 6-3=3)
    for (i <- 1 to 6) {
      data = Seq(("a", "k1", i.toDouble)).toDF("id", "k", "v")
      BucketedRun.applyChanges(spark, pipeline, sources, store,
        Seq(Change(i.toLong, Change.Updated, "src", "a")), i.toLong, batchId = i.toLong)
    }
    val left = new java.io.File(store.root, "r").listFiles().map(_.getName).toSet
    assert(!left.exists(_.startsWith("b0_")),
      s"cold-start directory superseded batches ago must be auto-reaped, still have: $left")
    assert(reduced(store) == Map("k1" -> 6.0))
  }
}
