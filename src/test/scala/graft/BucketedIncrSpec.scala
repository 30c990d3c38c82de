package graft

import graft.core._
import graft.incr._
import graft.ops.MapOp
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bucketed incremental state: equal to [[IncrementalRun.recompute]] (the
  * spec-level ground truth is always a full recompute), with per-batch IO
  * scoped to touched buckets — untouched buckets must be carried by
  * reference (identical directory), and no state frame may be
  * shuffle-joined (plan audit: no SortMergeJoin). */
class BucketedIncrSpec extends AnyFunSuite with SparkTestBase {
  import MrSchema._
  import spark.implicits._

  private val pipeline = Pipeline(
    maps = Seq(MapSpec("src", "m", 1, idCol = "id",
      fn = MapFns.item("k", Some("v"), idCol = "id"))),
    reduces = Seq(ReduceSpec("m", "r", 1, ExprReduce(sum))))

  private def srcDf(rows: (String, String, Double)*): DataFrame =
    rows.toDF("id", "k", "v")

  private def changes(cs: (Long, String, String)*): Seq[Change] =
    cs.map { case (seq, op, id) => Change(seq, op, "src", id) }

  private def newStore(buckets: Int = 8, keepSnapshots: Int = 8): BucketedStateStore =
    new BucketedStateStore(Files.createTempDirectory("graft_bstore").toString, buckets,
      keepSnapshots = keepSnapshots)

  private def reduced(store: BucketedStateStore): Map[String, Double] =
    store.table(spark, "r").select(col(Key), col(Value))
      .as[(String, Double)].collect().toMap

  test("create → update → delete lifecycle matches recompute (durable)") {
    val store = newStore()
    var data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0), ("c", "k2", 5.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    assert(reduced(store) == Map("k1" -> 3.0, "k2" -> 5.0))

    data = srcDf(("a", "k1", 1.0), ("b", "k2", 7.0), ("c", "k2", 5.0))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((1, Change.Updated, "b")), 1L, batchId = 1)
    assert(reduced(store) == Map("k1" -> 1.0, "k2" -> 12.0))

    data = data.union(srcDf(("d", "k1", 10.0)))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((2, Change.Created, "d")), 2L, batchId = 2)
    assert(reduced(store) == Map("k1" -> 11.0, "k2" -> 12.0))

    data = srcDf(("a", "k1", 1.0), ("b", "k2", 7.0), ("d", "k1", 10.0))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((3, Change.Deleted, "c")), 3L, batchId = 3)
    assert(reduced(store) == Map("k1" -> 11.0, "k2" -> 7.0))

    // A13: tombstones purged after their key reduced; index purged with them
    assert(store.table(spark, "m").filter(col(Deleted)).count() == 0)
    assert(store.table(spark, BucketedRun.indexName("m"))
      .filter(col(SourceId) === "c").count() == 0)
    assert(store.committedBatch.contains(3L))
  }

  test("deleting the last record of a key deletes the reduce output row") {
    val store = newStore()
    var data = srcDf(("a", "k1", 1.0), ("b", "k2", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    data = srcDf(("a", "k1", 1.0))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((1, Change.Deleted, "b")), 1L, batchId = 1)
    assert(reduced(store) == Map("k1" -> 1.0))
  }

  test("a small batch rewrites ONLY touched buckets; plans have no shuffle join") {
    val store = newStore(buckets = 8)
    // many keys spread across all 8 buckets
    var data = srcDf((0 until 64).map(i => (s"id$i", s"key$i", i.toDouble)): _*)
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    val before = Seq("m", "r", BucketedRun.indexName("m"))
      .map(t => t -> store.bucketPaths(t)).toMap
    assert(before("m").size == 8) // every bucket populated at init

    data = data.union(srcDf(("id64", "key7", 100.0)))
    val report = BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((1, Change.Created, "id64")), 1L, batchId = 1)

    // one touched key -> exactly one bucket replaced on the key-bucketed
    // tables; untouched buckets keep their directory (reference, not copy)
    for (t <- Seq("m", "r")) {
      val after = store.bucketPaths(t)
      val changed = after.keySet.filter(k => before(t).get(k) != after.get(k))
      assert(changed.size == 1, s"$t: expected 1 replaced bucket, got $changed")
      assert((after.keySet -- changed).forall(k => after(k) == before(t)(k)),
        s"$t: untouched buckets must be carried by reference")
    }
    assert(report.staged.keySet ==
      Set("m", "r", BucketedRun.indexName("m")))
    // state rows are never shuffle-joined: batch-side frames are broadcast
    report.staged.values.foreach { st =>
      assert(!st.plan.contains("SortMergeJoin"),
        s"state-side shuffle join in batch plan:\n${st.plan}")
    }
    assert(reduced(store).get("key7").contains(107.0))
  }

  test("steady-state update batch does not rewrite the unchanged index") {
    val store = newStore()
    var data = srcDf(("a", "k1", 1.0), ("b", "k2", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    val idxBefore = store.bucketPaths(BucketedRun.indexName("m"))

    // same id, same key, new VALUE: the map and reduce tables change but
    // every (type, id, key) index triple is identical — no index staging
    data = srcDf(("a", "k1", 9.0), ("b", "k2", 2.0))
    val report = BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((1, Change.Updated, "a")), 1L, batchId = 1)
    assert(!report.staged.contains(BucketedRun.indexName("m")),
      s"unchanged index must not be staged: ${report.staged.keySet}")
    assert(store.bucketPaths(BucketedRun.indexName("m")) == idxBefore)
    assert(report.staged.keySet == Set("m", "r"))
    assert(reduced(store) == Map("k1" -> 9.0, "k2" -> 2.0))

    // a key-changing update DOES stage the index
    data = srcDf(("a", "k9", 9.0), ("b", "k2", 2.0))
    val r2 = BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((2, Change.Updated, "a")), 2L, batchId = 2)
    assert(r2.staged.contains(BucketedRun.indexName("m")))
    assert(reduced(store) == Map("k9" -> 9.0, "k2" -> 2.0))
  }

  test("write elision: a no-op update batch stages nothing; partial change stages only changed buckets") {
    val store = newStore(buckets = 8)
    var data = srcDf((0 until 64).map(i => (s"id$i", s"key$i", i.toDouble)): _*)
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    val before = Seq("m", "r", BucketedRun.indexName("m"))
      .map(t => t -> store.bucketPaths(t)).toMap

    // notifications fired but the source rows are IDENTICAL: the per-bucket
    // content fingerprint must elide every write — zero staged tables, all
    // bucket directories carried by reference
    val noop = BucketedRun.applyChanges(spark, pipeline, sources, store,
      (0 until 16).map(i => Change(i.toLong, Change.Updated, "src", s"id$i")),
      1L, batchId = 1)
    assert(noop.staged.isEmpty, s"no-op batch must write nothing: ${noop.staged.keySet}")
    for (t <- Seq("m", "r")) assert(store.bucketPaths(t) == before(t))

    // same 16-id batch, but ONE id's value changed: only the buckets holding
    // that id's key (and its reduce row) may be staged
    data = srcDf((0 until 64).map(i =>
      (s"id$i", s"key$i", if (i == 3) 99.0 else i.toDouble)): _*)
    val partial = BucketedRun.applyChanges(spark, pipeline, sources, store,
      (0 until 16).map(i => Change(100 + i.toLong, Change.Updated, "src", s"id$i")),
      2L, batchId = 2)
    assert(partial.staged.keySet == Set("m", "r"))
    assert(partial.staged("m").buckets.size == 1,
      s"only key3's bucket changed: ${partial.staged("m").buckets}")
    assert(partial.staged("r").buckets.size == 1)
    assert(reduced(store).get("key3").contains(99.0))
    assert(reduced(store).get("key5").contains(5.0))
  }

  test("exactly-once: replaying a committed batch id is a no-op") {
    val store = newStore()
    var data = srcDf(("a", "k1", 1.0), ("b", "k2", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    data = srcDf(("a", "k1", 4.0), ("b", "k2", 2.0))
    val first = BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((1, Change.Updated, "a")), 1L, batchId = 1)
    assert(first.staged.nonEmpty)
    val paths = store.bucketPaths("r")
    // crash-recovery redelivery of batch 1: nothing staged, nothing rewritten
    val replay = BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((1, Change.Updated, "a")), 1L, batchId = 1)
    assert(replay.staged.isEmpty)
    assert(store.bucketPaths("r") == paths)
    assert(reduced(store) == Map("k1" -> 4.0, "k2" -> 2.0))
  }

  test("restart: a fresh store instance on the same root resumes the snapshot") {
    val store = newStore()
    var data = srcDf(("a", "k1", 1.0), ("b", "k2", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    data = srcDf(("a", "k1", 4.0), ("b", "k2", 2.0))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((1, Change.Updated, "a")), 1L, batchId = 1)

    val reopened = new BucketedStateStore(store.root, store.numBuckets)
    assert(reopened.committedBatch.contains(1L))
    assert(reduced(reopened) == Map("k1" -> 4.0, "k2" -> 2.0))
    assert(reopened.tableNames.toSet == Set("m", "r", BucketedRun.indexName("m")))
  }

  test("A15: stale-version keys are postponed on the bucketed path too") {
    val store = newStore()
    val data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0), ("c", "k2", 5.0))
    val sources: IncrementalRun.Sources = _ => data
    // state where b's map row is at version 0 (stale vs handler version 1)
    val fresh = MapOp(pipeline.maps.head, data.filter(col("id") =!= "b"))
    val stale = MapOp(pipeline.maps.head, data.filter(col("id") === "b"))
      .withColumn(Version, lit(0))
    val m = fresh.unionByName(stale)
    val r = graft.ops.ReduceOp(pipeline.reduces.head, fresh)
    store.initialize(Map(
      "m" -> (m, Key),
      BucketedRun.indexName("m") ->
        (m.select(col(SourceType), col(SourceId), col(Key)).distinct(), SourceId),
      "r" -> (r, Key)))

    BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((1, Change.Updated, "a")), 1L, batchId = 1)
    // k1 holds b at a stale version → postponed: old output survives
    assert(reduced(store) == Map("k1" -> 1.0, "k2" -> 5.0))
  }

  test("vacuum spares directories staged for a batch beyond the committed pointer") {
    // keepSnapshots = 0: this test pins the bare GC semantics — with
    // time-travel retention on, batch 1's snapshot would keep its dirs live
    val store = newStore(keepSnapshots = 0)
    val data = srcDf(("a", "k1", 1.0))
    BucketedRun.initialize(pipeline, _ => data, store)
    // stage (batch 1) but do NOT commit — vacuum must treat it as in-flight
    store.stageBuckets("m", Set(0), store.table(spark, "m"), batchId = 1, keyCol = Key)
    val staged = new java.io.File(store.root, "m").listFiles()
      .filter(_.getName.startsWith("b1_")).toSeq
    assert(staged.nonEmpty)
    store.vacuum()
    assert(staged.forall(_.exists()), "in-flight stage dirs must survive vacuum")
    store.commit(1)
    assert(store.committedBatch.contains(1L))
    // once committed, a SUPERSEDED old directory becomes collectable
    store.stageBuckets("m", Set(0), store.table(spark, "m"), batchId = 2, keyCol = Key)
    store.commit(2)
    store.vacuum()
    assert(staged.forall(!_.exists()), "superseded dirs are collected after commit")
    assert(reduced(store) == Map("k1" -> 1.0))
  }

  test("vacuum drops unreferenced stage directories, table still readable") {
    val store = newStore()
    var data = srcDf(("a", "k1", 1.0), ("b", "k2", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    data = srcDf(("a", "k1", 9.0), ("b", "k2", 2.0))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((1, Change.Updated, "a")), 1L, batchId = 1)
    store.vacuum()
    assert(reduced(store) == Map("k1" -> 9.0, "k2" -> 2.0))
    // a second reopen after vacuum still works (manifest never referenced
    // the vacuumed dirs)
    assert(reduced(new BucketedStateStore(store.root, store.numBuckets))
      == Map("k1" -> 9.0, "k2" -> 2.0))
  }

  test("multi-emission delete and multi-source provenance on the bucketed path") {
    val p = Pipeline(
      maps = Seq(MapSpec("src", "m", 1, idCol = "id",
        fn = df => df.select(explode(array(col("k"), concat(lit("x-"), col("k")))).as(Key),
          col("v").as(Value), col("id")))),
      reduces = Seq(ReduceSpec("m", "r", 1, ExprReduce(sum))))
    val store = newStore()
    var data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(p, sources, store)
    assert(reduced(store) == Map("k1" -> 3.0, "x-k1" -> 3.0))
    data = srcDf(("a", "k1", 1.0))
    BucketedRun.applyChanges(spark, p, sources, store,
      changes((1, Change.Deleted, "b")), 1L, batchId = 1)
    assert(reduced(store) == Map("k1" -> 1.0, "x-k1" -> 1.0))
  }

  private def reducedAsOf(store: BucketedStateStore, batch: Long): Map[String, Double] =
    store.tableAsOf(spark, "r", batch).select(col(Key), col(Value))
      .as[(String, Double)].collect().toMap

  test("tableAsOf reads each committed batch's exact state across later changes and vacuum") {
    val store = newStore()
    var data = srcDf(("a", "k1", 1.0), ("b", "k2", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    val b0 = store.committedBatch.get

    data = srcDf(("a", "k1", 9.0), ("b", "k2", 2.0))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((1, Change.Updated, "a")), 1L, batchId = b0 + 1)
    data = srcDf(("a", "k1", 9.0))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      changes((2, Change.Deleted, "b")), 2L, batchId = b0 + 2)

    assert(reduced(store) == Map("k1" -> 9.0))
    assert(reducedAsOf(store, b0) == Map("k1" -> 1.0, "k2" -> 2.0))
    assert(reducedAsOf(store, b0 + 1) == Map("k1" -> 9.0, "k2" -> 2.0))
    assert(reducedAsOf(store, b0 + 2) == Map("k1" -> 9.0))
    // snapshots stay byte-stable under GC: every retained as-of read
    // resolves against directories vacuum treats as live
    store.vacuum()
    assert(reducedAsOf(store, b0) == Map("k1" -> 1.0, "k2" -> 2.0))
    assert(reducedAsOf(store, b0 + 1) == Map("k1" -> 9.0, "k2" -> 2.0))
    // a reopened store (fresh process) sees the same snapshots
    val reopened = new BucketedStateStore(store.root, store.numBuckets)
    assert(reopened.snapshots == store.snapshots)
    assert(reopened.tableAsOf(spark, "r", b0).select(col(Key), col(Value))
      .as[(String, Double)].collect().toMap == Map("k1" -> 1.0, "k2" -> 2.0))
  }

  test("concurrent as-of readers race commits/retention without torn reads") {
    // keepSnapshots=2: every commit reaps an old snapshot, so readers race
    // the retention delete continuously. A reader must either see the
    // snapshot's exact state or the intended retention error — never a
    // NoSuchFileException/MatchError from a half-deleted or torn manifest.
    val store = newStore(keepSnapshots = 2)
    var data = srcDf(("a", "k1", 1.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    val b0 = store.committedBatch.get
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() => {
      while (!stop.get()) {
        val target = store.snapshots.lastOption.getOrElse(b0)
        try {
          val m = store.tableAsOf(spark, "r", target)
            .select(col(Key), col(Value)).as[(String, Double)].collect().toMap
          // k1 exists in every committed state; value is batch-dependent
          if (!m.contains("k1")) failures.add(
            new AssertionError(s"torn as-of read at $target: $m"))
        } catch {
          case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("snapshot") => ()
          case e: Throwable =>
            // a snapshot reaped AFTER the reader picked it may fail its
            // lazy read — that is the documented MVCC retention horizon;
            // any failure on a still-retained snapshot is a real bug
            if (store.snapshots.contains(target)) failures.add(e)
        }
      }
    })
    reader.start()
    try {
      (1 to 12).foreach { i =>
        data = srcDf(("a", "k1", i.toDouble))
        BucketedRun.applyChanges(spark, pipeline, sources, store,
          changes((i.toLong, Change.Updated, "a")), i.toLong, batchId = b0 + i)
      }
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    assert(failures.isEmpty, s"reader failures: ${failures.toArray.mkString("; ")}")
    assert(reduced(store) == Map("k1" -> 12.0))
  }

  test("incr_time_travel query is a fixed point across invocations") {
    // the bench invokes every query 3×: the delete+restore pair must leave
    // the live state (and therefore the output) unchanged each time
    val dir = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("incr_time_travel")(spark, dir)
      .as[(String, String, Double)].collect().sorted.toSeq
    val first = run()
    assert(first.nonEmpty)
    assert(run() == first)
    assert(run() == first)
  }

  test("snapshot retention reaps the oldest manifests and frees their directories") {
    val store = newStore(keepSnapshots = 2)
    var data = srcDf(("a", "k1", 1.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    val b0 = store.committedBatch.get
    for (i <- 1 to 4) {
      data = srcDf(("a", "k1", i.toDouble))
      BucketedRun.applyChanges(spark, pipeline, sources, store,
        changes((i.toLong, Change.Updated, "a")), i.toLong, batchId = b0 + i)
    }
    // only the 2 newest snapshots retained; older as-of reads now refuse
    assert(store.snapshots == Seq(b0 + 3, b0 + 4))
    assertThrows[IllegalArgumentException](store.tableAsOf(spark, "r", b0))
    assert(reducedAsOf(store, b0 + 3) == Map("k1" -> 3.0))
    assert(reducedAsOf(store, b0 + 4) == Map("k1" -> 4.0))
    assert(reduced(store) == Map("k1" -> 4.0))
  }

  test("zero-copy schema evolution: old buckets read NULL, dirs untouched, snapshots keep the old shape") {
    val store = newStore()
    val data = srcDf(("a", "k1", 1.0), ("b", "k2", 2.0), ("c", "k3", 3.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    val b0 = store.committedBatch.get
    val dirsBefore = store.bucketPaths("r")
    assert(!store.table(spark, "r").columns.contains("extra"))

    // widen, then stage ONLY the bucket holding k1 with the new column set
    store.evolveTable("r", "extra BIGINT")
    val k1Bucket = store.table(spark, "r").filter(col(Key) === "k1")
      .select(store.bucketOf(col(Key))).as[Int].head()
    val rows = store.table(spark, "r").drop("extra")
      .filter(store.bucketOf(col(Key)) === k1Bucket)
      .withColumn("extra", lit(42L))
    store.stageBuckets("r", Set(k1Bucket), rows, b0 + 1, Key)
    store.commit(b0 + 1)

    // rows outside the staged bucket surface NULL from their OLD files —
    // and those files were never rewritten (identical directory paths)
    val out = store.table(spark, "r").select(col(Key), col("extra"))
      .as[(String, Option[Long])].collect().toMap
    assert(out("k1").contains(42L))
    assert((out - "k1").values.forall(_.isEmpty))
    val dirsAfter = store.bucketPaths("r")
    assert((dirsAfter - k1Bucket) == (dirsBefore - k1Bucket),
      "evolution must not rewrite unstaged buckets")

    // the pre-evolution snapshot still reads with the old shape
    assert(!store.tableAsOf(spark, "r", b0).columns.contains("extra"))
    // a reopened store (fresh process) sees the widened committed schema
    val reopened = new BucketedStateStore(store.root, store.numBuckets)
    assert(reopened.table(spark, "r").columns.contains("extra"))
    // evolving an existing column is refused
    assertThrows[IllegalArgumentException](reopened.evolveTable("r", "extra BIGINT"))
  }

  test("CAS expectedSeq: stale writer raises WriteConflict, current applies") {
    val store = newStore()
    var data = srcDf(("a", "k1", 1.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store, trackSeqs = true)

    // writer 1 applies seq 5 for id a (plain batch — still feeds the ledger)
    data = srcDf(("a", "k1", 2.0))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      Seq(Change(5, Change.Updated, "src", "a")), 1L, batchId = 1L)
    assert(reduced(store) == Map("k1" -> 2.0))

    // a STALE writer (read before seq 5, expects 0) conflicts — the 409
    // analogue: nothing applies, nothing commits
    data = srcDf(("a", "k1", 3.0))
    val ex = intercept[BucketedRun.WriteConflict] {
      BucketedRun.applyChanges(spark, pipeline, sources, store,
        Seq(Change(6, Change.Updated, "src", "a")), 2L, batchId = 2L,
        expectedSeq = Map(("src", "a") -> 0L))
    }
    assert(ex.conflicts == Seq(("src", "a", 0L, 5L)))
    assert(reduced(store) == Map("k1" -> 2.0))
    assert(store.committedBatch.contains(1L))

    // the correctly-read writer (expects 5) applies unchanged
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      Seq(Change(7, Change.Updated, "src", "a")), 3L, batchId = 3L,
      expectedSeq = Map(("src", "a") -> 5L))
    assert(reduced(store) == Map("k1" -> 3.0))

    // create-CAS: expecting 0 for an unwritten id succeeds…
    data = data.union(srcDf(("b", "k2", 9.0)))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      Seq(Change(8, Change.Created, "src", "b")), 4L, batchId = 4L,
      expectedSeq = Map(("src", "b") -> 0L))
    assert(reduced(store) == Map("k1" -> 3.0, "k2" -> 9.0))
    // …and a duplicate create of the same id then conflicts
    val ex2 = intercept[BucketedRun.WriteConflict] {
      BucketedRun.applyChanges(spark, pipeline, sources, store,
        Seq(Change(9, Change.Created, "src", "b")), 5L, batchId = 5L,
        expectedSeq = Map(("src", "b") -> 0L))
    }
    assert(ex2.conflicts == Seq(("src", "b", 0L, 8L)))

    // a resync preserves the revision ledger: stale writers still conflict
    BucketedRun.resyncFull(pipeline, sources, store, batchId = 6L)
    val ex3 = intercept[BucketedRun.WriteConflict] {
      BucketedRun.applyChanges(spark, pipeline, sources, store,
        Seq(Change(10, Change.Updated, "src", "a")), 7L, batchId = 7L,
        expectedSeq = Map(("src", "a") -> 5L))
    }
    assert(ex3.conflicts == Seq(("src", "a", 5L, 7L)))

    // CAS on a store WITHOUT the ledger is a usage error, not silence
    val bare = newStore()
    BucketedRun.initialize(pipeline, sources, bare)
    assertThrows[IllegalStateException] {
      BucketedRun.applyChanges(spark, pipeline, sources, bare,
        Seq(Change(1, Change.Updated, "src", "a")), 1L, batchId = 1L,
        expectedSeq = Map(("src", "a") -> 0L))
    }

    // a batch holding many changes of one id stamps its NEWEST seq, so a
    // writer who read before the batch conflicts against that revision
    data = srcDf(("a", "k1", 50.0))
    val backlog = (20L to 45L).map(i => Change(i, Change.Updated, "src", "a"))
    BucketedRun.applyChanges(spark, pipeline, sources, store, backlog,
      8L, batchId = 8L)
    assert(reduced(store) == Map("k1" -> 50.0, "k2" -> 9.0))
    val ex4 = intercept[BucketedRun.WriteConflict] {
      BucketedRun.applyChanges(spark, pipeline, sources, store,
        Seq(Change(50, Change.Updated, "src", "a")), 9L, batchId = 9L,
        expectedSeq = Map(("src", "a") -> 10L))
    }
    assert(ex4.conflicts == Seq(("src", "a", 10L, 45L)))
    // and the correctly-read writer (expects the backlog's 45) applies
    data = srcDf(("a", "k1", 51.0))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      Seq(Change(50, Change.Updated, "src", "a")), 10L, batchId = 10L,
      expectedSeq = Map(("src", "a") -> 45L))
    assert(reduced(store) == Map("k1" -> 51.0, "k2" -> 9.0))
  }

  test("property: random batches — driver path ≡ recompute") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get

    val keys = Seq("k1", "k2", "k3", "k4")
    def keyOf(id: String): String = keys(id.stripPrefix("id").toInt % keys.length)
    var truth: Map[String, Double] =
      (0 until 12).map(i => s"id$i" -> i.toDouble).toMap
    def data = truth.toSeq.map { case (id, v) => (id, keyOf(id), v) }
      .toDF("id", "k", "v")
    val sources: IncrementalRun.Sources = _ => data

    val store = newStore(buckets = 8)
    BucketedRun.initialize(pipeline, sources, store)

    var seqN = 0L
    for (g <- 1L to 5L) {
      // 6 random ops over ids 0..19: duplicates per id exercise A12
      // newest-wins; deletes exercise tombstone purge
      val ops = (0 until 6).map { j =>
        val id = s"id${sample(Gen.chooseNum(0, 19), g * 1000 + j)}"
        val isDel = sample(Gen.chooseNum(0, 3), g * 777 + j) == 0
        val v = sample(Gen.chooseNum(0, 100), g * 555 + j).toDouble
        seqN += 1
        (seqN, id, isDel, v)
      }
      ops.groupBy(_._2).values.map(_.maxBy(_._1)).foreach {
        case (_, id, true, _) => truth -= id
        case (_, id, false, v) => truth += id -> v
      }
      val cs = ops.map { case (s, id, isDel, _) =>
        Change(s, if (isDel) Change.Deleted else Change.Updated, "src", id) }
      BucketedRun.applyChanges(spark, pipeline, sources, store, cs, g, batchId = g)
    }

    val expected = truth.toSeq.groupBy { case (id, _) => keyOf(id) }
      .view.mapValues(_.map(_._2).sum).toMap
    assert(reduced(store) == expected, "driver path diverged from recompute")
  }

  // ---- manifest-resolved reads ---------------------------------------------

  /** A 64-bucket store with every bucket of "r" populated — above Spark's
    * 32-path parallel-discovery threshold, where a `spark.read.parquet`
    * of the bucket directories would launch a listing job. */
  private def wideRows(bump: Set[Int] = Set.empty): DataFrame =
    (0 until 1000).map(i => (s"id$i", s"k$i", if (bump(i)) i + 0.5 else i.toDouble))
      .toDF("id", "k", "v")

  private def wideStore(): BucketedStateStore = {
    val store = newStore(buckets = 64)
    BucketedRun.initialize(pipeline, _ => wideRows(), store)
    assert(store.bucketPaths("r").size == 64)
    store
  }

  /** The read the store made before it resolved files from the manifest. */
  private def sparkListedRead(store: BucketedStateStore, rels: Iterable[String],
                              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(rels.toSeq.map(r => s"${store.root}/$r"): _*)

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq)
  }

  test("opening table, readBuckets and tableAsOf on 64 buckets runs no Spark job") {
    val store = wideStore()
    val b0 = store.committedBatch.get
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("store-open", "open frames without an action")
      val frames = Seq(store.table(spark, "r"), store.readBuckets(spark, "r", 0 until 64),
        store.tableAsOf(spark, "r", b0))
      // the listener bus delivers in order: once the marker job is seen,
      // every job the opens started has been seen too
      sc.setJobGroup("store-marker", "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("store-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("store-marker"))
      assert(!groups.contains("store-open"), "opening a store frame ran a Spark job")
      sc.clearJobGroup()
      frames.foreach(f => assert(f.count() == 1000))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("manifest reads match a Spark-listed read: full, scoped and as-of") {
    val store = wideStore()
    val b0 = store.committedBatch.get
    val dirs0 = store.bucketPaths("r")
    val schema = store.table(spark, "r").schema
    assertSameRows(store.table(spark, "r"), sparkListedRead(store, dirs0.values, schema))
    val some = Seq(3, 17, 40)
    assertSameRows(store.readBuckets(spark, "r", some),
      sparkListedRead(store, some.map(dirs0), schema))
    assert(store.table(spark, "r").inputFiles.toSet ==
      sparkListedRead(store, dirs0.values, schema).inputFiles.toSet)

    // tableAsOf on an older retained snapshot reads that batch's directories
    BucketedRun.applyChanges(spark, pipeline, _ => wideRows(Set(1, 2)), store,
      changes((1, Change.Updated, "id1"), (2, Change.Updated, "id2")), 2L, batchId = b0 + 1)
    BucketedRun.applyChanges(spark, pipeline, _ => wideRows(Set(1, 2, 3)), store,
      changes((3, Change.Updated, "id3")), 3L, batchId = b0 + 2)
    assert(store.bucketPaths("r") != dirs0)
    assertSameRows(store.tableAsOf(spark, "r", b0), sparkListedRead(store, dirs0.values, schema))
  }

  test("manifest reads match a Spark-listed read: empty table, evolved schema, sibling files") {
    // an empty table has no bucket directories at all
    val empty = newStore()
    BucketedRun.initialize(pipeline, _ => srcDf(), empty)
    assert(empty.bucketPaths("r").isEmpty)
    // (its frame keeps the DDL's nullability, as it always has)
    val e = empty.table(spark, "r")
    val listed = sparkListedRead(empty, Nil, e.schema)
    assert(e.schema.map(f => f.name -> f.dataType) == listed.schema.map(f => f.name -> f.dataType))
    assert(e.collect().isEmpty && listed.collect().isEmpty)

    val store = newStore()
    val data = srcDf(("a", "k1", 1.0), ("b", "k2", 2.0), ("c", "k3", 3.0))
    BucketedRun.initialize(pipeline, _ => data, store)
    val b0 = store.committedBatch.get

    // after evolveTable, files written before it read the new column as NULL
    store.evolveTable("r", "extra BIGINT")
    store.commit(b0 + 1)
    val evolved = store.table(spark, "r")
    assert(evolved.columns.contains("extra"))
    assert(evolved.filter(col("extra").isNotNull).count() == 0)
    assertSameRows(evolved, sparkListedRead(store, store.bucketPaths("r").values, evolved.schema))

    // _SUCCESS, .crc and other hidden siblings are never read
    val rel = store.bucketPaths("r").values.head
    val dir = java.nio.file.Paths.get(store.root, rel)
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve("_committed_123"), "{}".getBytes)
    Files.write(dir.resolve(".part-x.parquet.crc"), "crc".getBytes)
    Files.write(dir.resolve(".hidden.parquet"), "not parquet".getBytes)
    val withSiblings = store.table(spark, "r")
    assert(withSiblings.inputFiles.forall(_.endsWith(".parquet")))
    assert(withSiblings.inputFiles.forall { f =>
      val n = f.split('/').last; !n.startsWith("_") && !n.startsWith(".") })
    assertSameRows(withSiblings,
      sparkListedRead(store, store.bucketPaths("r").values, withSiblings.schema))
  }

  test("a deleted bucket directory fails at open, before any action") {
    val store = newStore()
    BucketedRun.initialize(pipeline,
      _ => (1 to 16).map(i => (s"id$i", s"k$i", i.toDouble)).toDF("id", "k", "v"), store)
    val paths = store.bucketPaths("r")
    assert(paths.size >= 2)
    val (lost, rel) = paths.head
    val survivors = store.readBuckets(spark, "r", (paths - lost).keys).count()
    val dir = java.nio.file.Paths.get(store.root, rel)
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    // no action runs: each open itself throws, naming the lost directory
    Seq(() => store.table(spark, "r"), () => store.readBuckets(spark, "r", Seq(lost)),
      () => store.tableAsOf(spark, "r", store.committedBatch.get)).foreach { open =>
      assert(intercept[Exception](open()).getMessage.contains(rel))
    }
    // buckets whose directories survive still read
    assert(store.readBuckets(spark, "r", (paths - lost).keys).count() == survivors)
  }

  test("incr_schema_evolve query is a fixed point across invocations") {
    val dir = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("incr_schema_evolve")(spark, dir)
      .as[(String, String, Double, Option[Long])].collect().sorted.toSeq
    val first = run()
    assert(first.nonEmpty)
    assert(run() == first)
    assert(run() == first)
  }
}
