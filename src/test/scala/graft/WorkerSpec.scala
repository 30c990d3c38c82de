package graft

import graft.core._
import graft.incr.{BucketedStateStore, Change, Lease}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The handlers config of the worker end-to-end test — resolved by
  * reflection from its fully-qualified name, like the reference's
  * dotted-path import (worker.py:28-30). */
object WorkerTestPipeline extends PipelineProvider {
  val pipeline: Pipeline = Pipeline(
    maps = Seq(MapSpec("src", "m", 1, idCol = "id",
      fn = MapFns.item("k", Some("v"), idCol = "id"))),
    reduces = Seq(ReduceSpec("m", "r", 1, ExprReduce(sum))))
}

/** The same pipeline with BOTH handler versions bumped and the reduce
  * semantics changed (sum → max), so a resync's convergence is
  * observable in the store, not just in the registry. */
object WorkerTestPipelineV2 extends PipelineProvider {
  val pipeline: Pipeline = Pipeline(
    maps = Seq(MapSpec("src", "m", 2, idCol = "id",
      fn = MapFns.item("k", Some("v"), idCol = "id"))),
    reduces = Seq(ReduceSpec("m", "r", 2, ExprReduce(max))))
}

/** The packaged worker entry point: INI config, reflective pipeline
  * loading, lease, resync-on-version-change, drain-then-exit. */
class WorkerSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("IniConfig parses sections, comments, duplicates; rejects garbage") {
    val c = IniConfig.parse(
      """; top comment
        |[spark]
        |master = local[4]
        |# hash comment
        |[sources]
        |src = /a/b = c
        |src = /x/y
        |[empty]
        |""".stripMargin)
    assert(c.get("spark", "master").contains("local[4]"))
    assert(c.get("sources", "src").contains("/x/y")) // last duplicate wins
    assert(c.section("empty").isEmpty && c.section("absent").isEmpty)
    assert(c.getLongOrElse("spark", "missing", 7L) == 7L)
    assertThrows[IllegalArgumentException](IniConfig.parse("key = before section"))
    assertThrows[IllegalArgumentException](IniConfig.parse("[s]\nno equals sign"))
  }

  test("PipelineProvider.load resolves objects, rejects non-providers") {
    assert(PipelineProvider.load("graft.WorkerTestPipeline").pipeline
      == WorkerTestPipeline.pipeline)
    assertThrows[IllegalArgumentException](PipelineProvider.load("no.such.Thing"))
    assertThrows[IllegalArgumentException](PipelineProvider.load("graft.Worker"))
  }

  /** Write a change batch as ONE flat parquet FILE in the stream dir —
    * the file stream source watches direct files, and `.write.parquet`
    * would create a subdirectory it never lists. */
  private def writeChangeFile(changesDir: String, name: String,
                              cs: Seq[Change]): Unit = {
    val tmp = Files.createTempDirectory("graft_chg").toString
    cs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(changesDir, s"$name.parquet"))
  }

  private def setupDirs(): (String, String, String, String) = {
    val base = Files.createTempDirectory("graft_worker").toString
    val srcDir = s"$base/src.parquet"
    val changesDir = s"$base/changes"
    val storeRoot = s"$base/store"
    Files.createDirectories(Paths.get(changesDir))
    val ini = s"$base/worker.ini"
    Files.writeString(Paths.get(ini),
      s"""[store]
         |root = $storeRoot
         |buckets = 8
         |[sources]
         |src = $srcDir
         |[changes]
         |dir = $changesDir
         |[qvarnmr]
         |instance = spec-worker
         |keep_alive_timeout = 60
         |""".stripMargin)
    (srcDir, changesDir, storeRoot, ini)
  }

  test("drain mode: cold start, then a second run applies stream changes") {
    val (srcDir, changesDir, storeRoot, ini) = setupDirs()
    Seq(("a", "k1", 1.0), ("b", "k1", 2.0), ("c", "k2", 5.0))
      .toDF("id", "k", "v").write.parquet(srcDir)

    // run 1: cold start — recompute + registry write, empty stream
    assert(Worker.run(Seq("graft.WorkerTestPipeline", "-c", ini), Some(spark)) == 0)
    // a fresh handle per read: the store snapshots its manifest at
    // construction, so a held handle would not see later commits
    def reduced = new BucketedStateStore(storeRoot, 8).table(spark, "r")
      .select(col(MrSchema.Key), col(MrSchema.Value))
      .as[(String, Double)].collect().toMap
    assert(reduced == Map("k1" -> 3.0, "k2" -> 5.0))
    // lease released on exit (clear_listener_owners); registry persisted
    assert(!Files.exists(Paths.get(storeRoot, "_lease")))
    assert(Files.exists(Paths.get(storeRoot, "_handlers")))

    // run 2: registry is current (no resync), so the NEW source row can
    // only reach state through the change stream — proving the drain path
    Seq(("d", "k2", 4.0)).toDF("id", "k", "v")
      .write.mode("append").parquet(srcDir)
    writeChangeFile(changesDir, "late", Seq(Change(1, Change.Created, "src", "d")))
    assert(Worker.run(Seq("graft.WorkerTestPipeline", "-c", ini), Some(spark)) == 0)
    assert(reduced == Map("k1" -> 3.0, "k2" -> 9.0))

    // run 3, after a NON-empty run: the stream resumes from its checkpoint,
    // so only the new file is read, as the next stream batch — a restart
    // that renumbered from 0 would have it dropped as a re-delivery
    Seq(("e", "k1", 10.0)).toDF("id", "k", "v")
      .write.mode("append").parquet(srcDir)
    writeChangeFile(changesDir, "later", Seq(Change(2, Change.Created, "src", "e")))
    assert(Worker.run(Seq("graft.WorkerTestPipeline", "-c", ini), Some(spark)) == 0)
    assert(reduced == Map("k1" -> 13.0, "k2" -> 9.0))
  }

  test("a store vacuum leaves the Worker's stream checkpoint intact") {
    val (srcDir, changesDir, storeRoot, ini) = setupDirs()
    Seq(("a", "k1", 1.0)).toDF("id", "k", "v").write.parquet(srcDir)
    assert(Worker.run(Seq("graft.WorkerTestPipeline", "-c", ini), Some(spark)) == 0)
    Seq(("b", "k1", 2.0)).toDF("id", "k", "v")
      .write.mode("append").parquet(srcDir)
    writeChangeFile(changesDir, "c1", Seq(Change(1, Change.Created, "src", "b")))
    assert(Worker.run(Seq("graft.WorkerTestPipeline", "-c", ini), Some(spark)) == 0)

    val checkpoint = Paths.get(storeRoot, "_stream_checkpoint")
    def logEntries(sub: String): Seq[String] = {
      val s = Files.list(checkpoint.resolve(sub))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
    val before = (logEntries("offsets"), logEntries("commits"))
    assert(before._2.nonEmpty, "the non-empty run committed a stream batch")
    new BucketedStateStore(storeRoot, 8).vacuum()
    assert((logEntries("offsets"), logEntries("commits")) == before)

    // and the next run still resumes: its change is applied, not dropped
    Seq(("c", "k1", 4.0)).toDF("id", "k", "v")
      .write.mode("append").parquet(srcDir)
    writeChangeFile(changesDir, "c2", Seq(Change(2, Change.Created, "src", "c")))
    assert(Worker.run(Seq("graft.WorkerTestPipeline", "-c", ini), Some(spark)) == 0)
    assert(new BucketedStateStore(storeRoot, 8).table(spark, "r")
      .select(col(MrSchema.Value)).as[Double].collect().toSeq == Seq(7.0))
  }

  test("a live lease held by another worker exits 1 without touching state") {
    val (srcDir, _, storeRoot, ini) = setupDirs()
    Seq(("a", "k1", 1.0)).toDF("id", "k", "v").write.parquet(srcDir)
    val foreign = new Lease(Paths.get(storeRoot, "_lease"), "other-worker", 60000L)
    foreign.keepAlive()
    val code = Worker.run(
      Seq("graft.WorkerTestPipeline", "-c", ini), Some(spark))
    assert(code == 1)
    assert(new BucketedStateStore(storeRoot, 8).isEmpty,
      "a busy worker must not have initialized the store")
  }

  private def jobIni(storeRoot: String): String = {
    val ini = Files.createTempFile("graft_job", ".ini").toString
    Files.writeString(Paths.get(ini),
      s"""[store]
         |root = $storeRoot
         |buckets = 8
         |[sources]
         |documents = /root/testdata/sf0.001/documents.parquet
         |[job:curate]
         |input = documents
         |[qvarnmr]
         |instance = spec-job-worker
         |keep_alive_timeout = 60
         |""".stripMargin)
    ini
  }

  private def curatedRows(storeRoot: String): Seq[String] =
    new BucketedStateStore(storeRoot, 8).table(spark, "curated")
      .collect().map(_.toString).toSeq.sorted

  test("named curate job: end-to-end through the CLI, leased, inspectable") {
    val storeRoot = Files.createTempDirectory("graft_jobstore").toString
    val ini = jobIni(storeRoot)
    // fresh store: --jobs reports all three stages pending (no lease)
    assert(Worker.run(Seq("--jobs", "-c", ini), Some(spark)) == 0)
    assert(Jobs.progressLines(new BucketedStateStore(storeRoot, 8)) ==
      Seq("curate/survivors: pending", "curate/gated: pending",
        "curate/curated: pending"))

    assert(Worker.run(Seq("--job", "curate", "-c", ini), Some(spark)) == 0)
    val store = new BucketedStateStore(storeRoot, 8)
    assert(store.committedBatch.contains(3L))
    val rows = curatedRows(storeRoot)
    assert(rows.nonEmpty, "the curate job must emit a mixed corpus")
    assert(!Files.exists(Paths.get(storeRoot, "_lease")), "lease released")
    // progress listing: every stage done with its row count
    val lines = Jobs.progressLines(store)
    assert(lines.forall(_.contains("done (rows=")), lines.mkString("; "))
    assert(lines.head == s"curate/survivors: done (rows=${
      store.meta("job.curate.survivors.rows").get})")
    // a re-run of the finished job is a no-op (all stages skip)
    graft.core.KillPoint.hook =
      s => if (s.endsWith(".start")) fail(s"stage re-ran: $s")
    try assert(Worker.run(Seq("--job", "curate", "-c", ini), Some(spark)) == 0)
    finally graft.core.KillPoint.hook = _ => ()
    assert(curatedRows(storeRoot) == rows)
  }

  test("curate job resumes past committed stages after a crash") {
    val cleanRoot = Files.createTempDirectory("graft_jobclean").toString
    assert(Worker.run(Seq("--job", "curate", "-c", jobIni(cleanRoot)),
      Some(spark)) == 0)
    val want = curatedRows(cleanRoot)

    val storeRoot = Files.createTempDirectory("graft_jobcrash").toString
    val ini = jobIni(storeRoot)
    // crash right AFTER stage 1 commits
    final class Kill extends RuntimeException("injected crash")
    graft.core.KillPoint.hook =
      s => if (s == "job.curate.survivors.committed") throw new Kill
    try intercept[Kill](Worker.run(Seq("--job", "curate", "-c", ini), Some(spark)))
    finally graft.core.KillPoint.hook = _ => ()
    assert(!Files.exists(Paths.get(storeRoot, "_lease")),
      "a crashed job must release the lease")
    assert(new BucketedStateStore(storeRoot, 8).committedBatch.contains(1L))
    assert(Jobs.progressLines(new BucketedStateStore(storeRoot, 8))
      .count(_.contains("pending")) == 2)

    // the re-run must SKIP stage 1 (its start kill point never fires)...
    graft.core.KillPoint.hook =
      s => if (s == "job.curate.survivors.start") fail("stage 1 re-ran")
    try assert(Worker.run(Seq("--job", "curate", "-c", ini), Some(spark)) == 0)
    finally graft.core.KillPoint.hook = _ => ()
    // ...and converge to the crash-free run exactly
    assert(curatedRows(storeRoot) == want)
  }

  test("a lost lease aborts the curate job before its next commit") {
    val storeRoot = Files.createTempDirectory("graft_jobsteal").toString
    val ini = jobIni(storeRoot)
    val conf = IniConfig.read(Paths.get(ini))
    val store = new BucketedStateStore(storeRoot, 8)
    val sources: graft.incr.IncrementalRun.Sources =
      _ => spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the lease is stolen while stage 1 is committing: stage 1's swap
    // completes (it was already past the check), but the job must stop
    // BEFORE stage 2 commits anything — no concurrent-writer window
    @volatile var stolen = false
    graft.core.KillPoint.hook =
      s => if (s == "job.curate.survivors.committed") stolen = true
    val code =
      try Jobs.run("curate", spark, conf, store, sources, () => stolen)
      finally graft.core.KillPoint.hook = _ => ()
    assert(code == 1)
    val after = new BucketedStateStore(storeRoot, 8)
    assert(Jobs.progressLines(after) == Seq(
      s"curate/survivors: done (rows=${
        after.meta("job.curate.survivors.rows").get})",
      "curate/gated: pending", "curate/curated: pending"))
    assert(!after.tableNames.contains("gated"),
      "a post-steal stage must never commit")
    // a cancellation visible BEFORE any commit leaves the store untouched
    val freshRoot = Files.createTempDirectory("graft_jobsteal2").toString
    val fresh = new BucketedStateStore(freshRoot, 8)
    assert(Jobs.run("curate", spark,
      IniConfig.read(Paths.get(jobIni(freshRoot))), fresh, sources,
      () => true) == 1)
    assert(new BucketedStateStore(freshRoot, 8).isEmpty)
  }

  test("job progress is job-scoped: foreign commits don't fake 'done'") {
    val storeRoot = Files.createTempDirectory("graft_jobforeign").toString
    val ini = jobIni(storeRoot)
    // a store that already carries THREE commits from another workload
    // (committedBatch >= 3) — keyed on the bare batch counter this would
    // silently skip every stage and report 'done' with no curated table
    val pre = new BucketedStateStore(storeRoot, 8)
    val other = Seq(("x", 1L)).toDF("id", "n")
    (1L to 3L).foreach { b =>
      pre.stageBuckets("other", (0 until 8).toSet, other, b, "id")
      pre.commit(b)
    }
    assert(Jobs.progressLines(new BucketedStateStore(storeRoot, 8)) ==
      Seq("curate/survivors: pending", "curate/gated: pending",
        "curate/curated: pending"))
    assert(Worker.run(Seq("--job", "curate", "-c", ini), Some(spark)) == 0)
    val store = new BucketedStateStore(storeRoot, 8)
    assert(Jobs.progressLines(store).forall(_.contains("done (rows=")))
    assert(curatedRows(storeRoot).nonEmpty,
      "the job must actually run on a pre-populated store")
    assert(store.table(spark, "other").count() == 1L,
      "the foreign table must survive the job's commits")
  }

  test("index jobs: build → update → compact end-to-end through the CLI") {
    import graft.dedup.LshIndex
    val base = Files.createTempDirectory("graft_idxjob").toString
    val idxDir = s"$base/lsh"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .write.parquet(s"$base/init.parquet")
    docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .write.parquet(s"$base/updates.parquet")
    val ini = s"$base/index.ini"
    Files.writeString(Paths.get(ini),
      s"""[store]
         |root = $base/store
         |buckets = 8
         |[sources]
         |documents = $base/init.parquet
         |doc_updates = $base/updates.parquet
         |[job:index]
         |dir = $idxDir
         |updates = doc_updates
         |[qvarnmr]
         |instance = spec-index-worker
         |keep_alive_timeout = 60
         |""".stripMargin)

    // build (gen 0), then update (gen 1) — both leased CLI invocations
    assert(Worker.run(Seq("--job", "index-build", "-c", ini), Some(spark)) == 0)
    assert(graft.core.GenPointer.committed(idxDir) == 0L)
    assert(Worker.run(Seq("--job", "index-update", "-c", ini), Some(spark)) == 0)
    assert(graft.core.GenPointer.committed(idxDir) == 1L)
    assert(!Files.exists(Paths.get(s"$base/store", "_lease")), "lease released")

    // the CLI-built index answers probes exactly like the API-built one
    val idx = LshIndex.Index(idxDir, threshold = 0.8, numHashes = 32,
      bands = 8, shingleN = 3, nPartitions = 64)
    val batch = spark.read.parquet(s"$base/updates.parquet")
    def probe() = LshIndex.pairsFor(idx, batch, "text", "doc_id")
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val before = probe()
    val apiIdx = LshIndex.build(spark.read.parquet(s"$base/init.parquet"),
      "text", "doc_id", s"$base/lsh_api", threshold = 0.8)
    LshIndex.applyBatch(apiIdx, batch, "text", "doc_id",
      Seq.empty[Long].toDF("doc_id"), gen = 1L)
    val apiPairs = LshIndex.pairsFor(apiIdx, batch, "text", "doc_id")
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(before == apiPairs && before.nonEmpty)

    // compact through the CLI: probes identical, tombstones cleared
    assert(Worker.run(Seq("--job", "compact", "-c", ini), Some(spark)) == 0)
    assert(probe() == before)
    assert(!Files.exists(Paths.get(idx.tombstoneDir)))

    // a re-run of index-build against a built index is a NO-OP
    assert(Worker.run(Seq("--job", "index-build", "-c", ini), Some(spark)) == 0)
    assert(graft.core.GenPointer.committed(idxDir) == 1L,
      "an accidental re-build must not reset the index")
    assert(probe() == before)

    // a foreign live lease blocks index jobs like any worker run
    val foreign = new Lease(Paths.get(s"$base/store", "_lease"),
      "other-worker", 60000L)
    foreign.keepAlive()
    assert(Worker.run(Seq("--job", "compact", "-c", ini), Some(spark)) == 1)
  }

  test("--job resync: version bump → staged resume after a mid-job kill → " +
    "converged store + bumped registry") {
    val (srcDir, _, storeRoot, ini) = setupDirs()
    Seq(("a", "k1", 1.0), ("b", "k1", 2.0), ("c", "k2", 5.0))
      .toDF("id", "k", "v").write.parquet(srcDir)
    def reduced = new BucketedStateStore(storeRoot, 8).table(spark, "r")
      .select(col(MrSchema.Key), col(MrSchema.Value))
      .as[(String, Double)].collect().toMap

    // v1 stream run initializes the store (sum semantics) + registry v1
    assert(Worker.run(Seq("graft.WorkerTestPipeline", "-c", ini),
      Some(spark)) == 0)
    assert(reduced == Map("k1" -> 3.0, "k2" -> 5.0))

    // versions bump to v2 (max semantics); the resync job CRASHES right
    // after its first stage (map:m) commits — the reduce stage never runs
    graft.core.KillPoint.hook = s =>
      if (s == "job.resync.map:m.committed")
        throw new RuntimeException("chaos: killed after map stage")
    try intercept[RuntimeException] {
      Worker.run(Seq("graft.WorkerTestPipelineV2", "--job", "resync",
        "-c", ini), Some(spark))
    } finally graft.core.KillPoint.hook = _ => ()
    val mid = new BucketedStateStore(storeRoot, 8)
    assert(mid.meta("job.resync.stage").contains("1"),
      "the map stage must have committed durably before the kill")
    assert(reduced == Map("k1" -> 3.0, "k2" -> 5.0),
      "the reduce table must still carry v1 state after the kill")
    assert(Jobs.progressLines(mid).filter(_.startsWith("resync/")) == Seq(
      s"resync/map:m: done (rows=${mid.meta("job.resync.map:m.rows").get})",
      "resync/reduce:r: pending"))

    // the re-run RESUMES at the staged stage: map:m must not restart
    graft.core.KillPoint.hook = s =>
      if (s == "job.resync.map:m.start")
        throw new AssertionError("stage 1 must not re-run on resume")
    try assert(Worker.run(Seq("graft.WorkerTestPipelineV2", "--job",
      "resync", "-c", ini), Some(spark)) == 0)
    finally graft.core.KillPoint.hook = _ => ()
    assert(reduced == Map("k1" -> 2.0, "k2" -> 5.0),
      "the converged store must carry v2 (max) semantics")

    // redelivery of the SAME versions is a no-op (no stage runs at all)
    graft.core.KillPoint.hook = s =>
      if (s.startsWith("job.resync.") && s.endsWith(".start"))
        throw new AssertionError(s"no stage may run on redelivery: $s")
    try assert(Worker.run(Seq("graft.WorkerTestPipelineV2", "--job",
      "resync", "-c", ini), Some(spark)) == 0)
    finally graft.core.KillPoint.hook = _ => ()

    // the registry bumped with the job, so a stream-mode run does NOT
    // auto-resync: a source row appended WITHOUT a change notification
    // stays invisible (a resync would have swept it in)
    Seq(("z", "k3", 9.0)).toDF("id", "k", "v")
      .write.mode("append").parquet(srcDir)
    assert(Worker.run(Seq("graft.WorkerTestPipelineV2", "-c", ini),
      Some(spark)) == 0)
    assert(reduced == Map("k1" -> 2.0, "k2" -> 5.0),
      "a bumped registry must suppress the startup auto-resync")

    // a FRESH version bump (v1 again: different fingerprint) restarts the
    // job from stage 1 — the pointer is fingerprint-scoped
    graft.core.KillPoint.hook = s =>
      if (s == "job.resync.reduce:r.committed")
        throw new RuntimeException("chaos: killed after reduce stage")
    try intercept[RuntimeException] {
      Worker.run(Seq("graft.WorkerTestPipeline", "--job", "resync",
        "-c", ini), Some(spark))
    } finally graft.core.KillPoint.hook = _ => ()
    // both stages of the v1 fingerprint ran (the v2 pointer didn't leak)
    // and the state now carries v1 (sum) semantics INCLUDING the swept-in
    // z row — resync recomputes from current sources
    assert(reduced == Map("k1" -> 3.0, "k2" -> 5.0, "k3" -> 9.0))
  }

  test("startup failure after lease acquisition releases the lease promptly") {
    val (srcDir, _, storeRoot, ini) = setupDirs()
    Seq(("a", "k1", 1.0)).toDF("id", "k", "v").write.parquet(srcDir)
    // the provider loads AFTER the lease is held; a load failure must
    // release the single-writer slot instead of blocking it for the full
    // keep_alive_timeout (60s here)
    intercept[IllegalArgumentException](
      Worker.run(Seq("no.such.Provider", "-c", ini), Some(spark)))
    assert(!Files.exists(Paths.get(storeRoot, "_lease")),
      "a crashed startup must not squat the lease until expiry")
  }

  test("forever mode keeps draining late-arriving batches until stopped") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._

    val (srcDir, changesDir, storeRoot, ini) = setupDirs()
    Seq(("a", "k1", 1.0)).toDF("id", "k", "v").write.parquet(srcDir)

    val before = spark.streams.active.map(_.id).toSet
    val fut = Future(Worker.run(
      Seq("graft.WorkerTestPipeline", "-c", ini, "-f"), Some(spark)))
    def eventually[A](what: String)(probe: => Option[A]): A = {
      val deadline = System.currentTimeMillis() + 60000
      var r = probe
      while (r.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); r = probe
      }
      r.getOrElse(fail(s"timed out waiting for $what"))
    }
    val q = eventually("the worker's stream to start") {
      spark.streams.active.find(x => !before.contains(x.id))
    }
    try {
      // fresh handles per probe: a store handle snapshots its manifest
      eventually("cold-start initialize")(
        new BucketedStateStore(storeRoot, 8).committedBatch)

      // a NEW source row lands, then its change notification arrives —
      // forever mode must pick it up without restarting
      Seq(("b", "k1", 5.0)).toDF("id", "k", "v")
        .write.mode("append").parquet(srcDir)
      writeChangeFile(changesDir, "late",
        Seq(Change(1, Change.Created, "src", "b")))
      eventually("the late batch to apply") {
        val r = new BucketedStateStore(storeRoot, 8).table(spark, "r")
          .select(col(MrSchema.Key), col(MrSchema.Value))
          .as[(String, Double)].collect().toMap
        if (r == Map("k1" -> 6.0)) Some(()) else None
      }
    } finally q.stop()
    assert(Await.result(fut, 60.seconds) == 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(storeRoot, "_lease")))
  }

  test("--queue lists the committed notification queue: no lease, no stream") {
    val (_, _, storeRoot, ini) = setupDirs()
    // a store whose committed manifest carries a retry-ledger payload
    val led = new graft.incr.RetryLedger(maxRetries = 2)
    val cs = Seq(Change(5, Change.Updated, "src", "x"),
      Change(6, Change.Deleted, "src", "y"))
    led.record(cs, cs, Nil, now = 100L)
    new BucketedStateStore(storeRoot, 8)
      .commit(0L, ledger = Some("stream=0\n" + led.serialize))
    // a FOREIGN live lease must not block the read-only peek
    val foreign = new Lease(Paths.get(storeRoot, "_lease"), "other-worker", 60000L)
    foreign.keepAlive()

    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Worker.run(Seq("graft.WorkerTestPipeline", "-c", ini, "--queue"), Some(spark))
    }
    assert(code == 0)
    val lines = out.toString("UTF-8").trim.split("\n").toSeq
    assert(lines.head.startsWith("state\tseq\tchange"))
    // both failures pending with retries=0, first failure 100, gate 350
    assert(lines.tail == Seq(
      "pending\t5\tupdated\tsrc\tx\t0\t100\t350",
      "pending\t6\tdeleted\tsrc\ty\t0\t100\t350"))
    // read-only: the foreign lease survives and the store is untouched
    assert(new BucketedStateStore(storeRoot, 8).committedBatch.contains(0L))
  }

  test("arg parsing mirrors the reference CLI") {
    assert(Worker.parseArgs(Seq("x.Y", "-c", "a.ini")) ==
      Worker.Args("x.Y", "a.ini", forever = false))
    assert(Worker.parseArgs(Seq("-f", "x.Y", "--config", "a.ini")) ==
      Worker.Args("x.Y", "a.ini", forever = true))
    assert(Worker.parseArgs(Seq("x.Y", "-c", "a.ini", "-q")) ==
      Worker.Args("x.Y", "a.ini", forever = false, queue = true))
    assertThrows[IllegalArgumentException](Worker.parseArgs(Seq("-c", "a.ini")))
    assertThrows[IllegalArgumentException](Worker.parseArgs(Seq("x.Y")))
    assertThrows[IllegalArgumentException](Worker.parseArgs(Seq("x.Y", "-c", "a", "-z")))
  }
}
