package perfbench

import graft.core.{MrSchema, TempDirs}
import graft.incr.{BucketedRun, BucketedStateStore, BucketedStreamingEngine, Change, IncrementalRun}
import graft.ops.QvarnUrl
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.{LinkedBlockingDeque, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The product benchmark: seeded change notifications drive
  * `BucketedStreamingEngine.processBatch` (the Worker's `foreachBatch` body)
  * into the bucketed store, and Qvarn URL searches read the derived views.
  *
  * {{{
  *   perfbench.Main --workload notify|search --seed N --seconds S
  *                  --trace 0|1 --work DIR --fixture DIR
  * }}}
  * `--work` is the run's scratch directory; `--fixture` caches the base
  * source tables, which are the same for every run.
  * The last stdout line is one JSON object of everything measured. The
  * correctness gate (every reduce target equals a recompute over the final
  * source state) runs first; a mismatch exits 3 without printing it.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, fixture: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Set("notify", "search").contains(w), s"unknown workload '$w'")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("work"),
      need("fixture"))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try new Run(parseArgs(argv)).run()
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }
}

/** A notification with the time it was due (its scheduled creation). */
final case class Offered(change: Change, dueNs: Long)

/** One applied engine batch as seen from outside. */
final case class BatchRec(startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                          changes: Int, commits: Long, bucketsWritten: Int,
                          bytesWritten: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One search, with its phase times. */
final case class SearchRec(kind: String, startMs: Long, endMs: Long,
                           openNs: Long, parseNs: Long, execNs: Long,
                           rows: Int, files: Int) {
  def ms: Double = (openNs + parseNs + execNs) / 1e6
}

/** What one timed window measured. */
final class Window {
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  val fresh = mutable.ArrayBuffer.empty[Double] // s, per applied change
  val searches = mutable.ArrayBuffer.empty[SearchRec]
  var offered = 0L
  var applied = 0L
  var lagChangesMax = 0
  var genLagMsMax = 0.0
  var startMs = 0L
  var endMs = 0L
  var gcMs = 0L
  var heapPeakMb = 0.0
  def busyS: Double = batches.map(_.ms).sum / 1e3

  def open(): Unit = {
    gcMs = Jvm.gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    startMs = System.currentTimeMillis()
  }

  def close(): Unit = {
    endMs = System.currentTimeMillis()
    gcMs = Jvm.gcMs() - gcMs
    heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}

object Jvm {
  /** Collection time so far, over all collectors. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}

final class Run(args: Main.Args) {
  import Fixture._
  import MrSchema._
  import Stats._

  /** Open-loop notification rate, changes/s. */
  private val Rate = 2.0
  /** The changes pending when a window opens arrived over this span. */
  private val PrefillS = 10
  private val WarmupChanges = 5
  /** Searches of the drained store on the workloads that are not `search`. */
  private val ProbeSearches = 10
  /** The search mix, 60% point lookups, 30% sorted pages, 10% ranges, as a
    * fixed cycle: every run and every ten searches see the same kinds, and
    * the seed picks keys and bounds. */
  private val Kinds = "PPSPPSPRPS"

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val cores = Runtime.getRuntime.availableProcessors()
  private val work = Paths.get(args.work).toAbsolutePath.toString
  private val tracer = new Tracer(false)
  private val gen = new SplittableRandom(args.seed * 0x9E3779B97F4A7C15L + 1)
  private val arrivals = new SplittableRandom(args.seed * 31 + 17)
  private val out = mutable.LinkedHashMap.empty[String, Double]
  private def put(k: String, v: Double): Unit = out(k) = v

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private def attempt(): Unit = synchronized { attempted += 1 }
  private def fail(what: String, t: Throwable): Unit = synchronized {
    failed += 1
    failures += s"$what: ${t.getClass.getName}: ${t.getMessage}".take(400)
  }

  private def nowMs = System.currentTimeMillis()
  private def sec(ns: Long) = ns / 1e9
  /** Poisson arrivals at `Rate` over `seconds` from `from` (ns), given
    * their expected count: uniform order statistics. A fixed count keeps the
    * work of a run the same across seeds; the seed moves only the times. */
  private def schedule(from: Long, seconds: Int): Seq[Long] =
    Seq.fill((Rate * seconds).toInt)(from + (arrivals.nextDouble() * seconds * 1e9).toLong).sorted

  def run(): Int = {
    Files.createDirectories(Paths.get(work))
    // the session graft.Worker builds (Worker.scala:196-206)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  private def body(spark: SparkSession): Int = {
    import spark.implicits._
    val sc = spark.sparkContext
    val sessionS = (nowMs - jvmStartMs) / 1e3
    val rec = new JobRecorder
    if (args.trace) sc.addSparkListener(rec)
    sc.setLocalProperty(JobRecorder.RoleKey, "setup")

    // ---- set-up: fixture, restore, warm-up batch -------------------------------
    // The base tables and the store initialized from them are the same for
    // every run: the first run of a build writes them under --fixture, and
    // each run restores the engine from a copy, as a restarted worker does.
    val (state, fixtureNs) = tracer.span("setup.fixture", "setup") {
      val s = new SourceState(spark, Orders + 20000)
      val cache = Paths.get(args.fixture).toAbsolutePath
      if (!Files.exists(cache.resolve("_complete"))) {
        val tmp = Paths.get(s"$cache.tmp-${ProcessHandle.current().pid()}")
        s.writeBase(tmp.toString)
        s.publish()
        BucketedRun.initialize(pipeline, s.sources,
          new BucketedStateStore(tmp.resolve("store").toString, Buckets))
        Files.createFile(tmp.resolve("_complete"))
        TempDirs.deleteRecursively(cache)
        Files.move(tmp, cache)
      }
      s.useBase(cache.toString)
      s.publish()
      copyTree(cache.resolve("store"), Paths.get(work, "store"))
      s
    }
    val (engine, restoreNs) = tracer.span("setup.restore", "setup") {
      BucketedStreamingEngine.restore(spark, pipeline, state.sources,
        new BucketedStateStore(s"$work/store", Buckets))
    }
    val store = engine.store
    // the engine stages tables on a shared pool whose threads inherit this
    // thread's properties when first created: create them as the writer
    sc.setLocalProperty(JobRecorder.RoleKey, "writer")
    var streamId = 0L

    def bucketSnapshot(): Map[(String, Int), String] =
      store.tableNames.flatMap(t => store.bucketPaths(t).map { case (b, p) => (t, b) -> p }).toMap

    /** One engine batch, timed from outside; None when it failed. `measure`
      * also diffs the committed bucket paths and sizes what was written. */
    def applyBatch(ds: Dataset[Change], n: Int, trace: String, measure: Boolean): Option[BatchRec] = {
      attempt()
      val before = store.committedBatch.getOrElse(0L)
      val deadBefore = engine.deadLetters.size
      val pendBefore = engine.pending.size
      val snapBefore = if (measure) bucketSnapshot() else Map.empty[(String, Int), String]
      val t0 = System.nanoTime(); val m0 = nowMs
      val ok =
        try { tracer.span("engine.processBatch", trace)(engine.processBatch(ds, streamId)); true }
        catch { case t: Throwable => fail(s"batch $trace", t); false }
      val t1 = System.nanoTime(); val m1 = nowMs
      streamId += 1
      val commits = store.committedBatch.getOrElse(0L) - before
      if (!ok) None
      else if (engine.deadLetters.size > deadBefore || engine.pending.size > pendBefore) {
        fail(s"batch $trace", new IllegalStateException(
          s"dead letters ${engine.deadLetters.size}, pending retries ${engine.pending.size}"))
        None
      } else {
        // more than one manifest swap means bisection or a ledger-only
        // commit (or, for a backlog-sized batch, the silent resyncFull divert)
        if (commits != 1)
          fail(s"batch $trace", new IllegalStateException(s"$commits commits for one batch"))
        val (written, bytes) =
          if (!measure) (0, 0L)
          else {
            val changed = bucketSnapshot().filter { case (k, p) => !snapBefore.get(k).contains(p) }
            (changed.size, changed.values.toSeq.distinct.map(p => du(Paths.get(store.root, p))._1).sum)
          }
        Some(BatchRec(t0, t1, m0, m1, n, commits, written, bytes))
      }
    }

    // the first batch of a fresh JVM pays for class loading and compilation
    val warmFrom = nowMs
    val (warm, warmNs) = tracer.span("setup.warmup", "setup") {
      val cs = (1 to WarmupChanges).map(_ => state.nextChange(gen))
      state.publish()
      applyBatch(cs.toDS(), cs.size, "warmup", measure = args.trace)
    }
    if (warm.isEmpty) return report(1, "warm-up batch failed")
    val warmJobs = rec.jobsIn("writer", warmFrom, nowMs)
    // and so does the first search of each kind
    locally {
      val g = new SplittableRandom(args.seed * 131 + 3)
      val zipf = new Zipf(Customers, 1.0, args.seed)
      val rs = spark.newSession()
      "PSR".foreach(k => search(rs, store.root, g, zipf, s"warmup-$k", k))
    }

    // ---- timed window(s) -----------------------------------------------------
    def window(): Window = {
      val w = new Window
      openLoop(spark, state, w, (ds, n, t) => applyBatch(ds, n, t, tracer.enabled))
      reads(spark, store, w)
      w.close()
      w
    }

    // A traced run measures an untraced window first, then a traced one on
    // the store it left, and reports the difference as the tracing overhead.
    if (args.trace) sc.removeSparkListener(rec)
    val plain = window()
    put("setup_s", (plain.startMs - jvmStartMs) / 1e3)
    put("setup.session_s", sessionS)
    put("setup.fixture_s", sec(fixtureNs))
    put("setup.restore_s", sec(restoreNs))
    put("setup.warmup_s", sec(warmNs))
    val w = if (!args.trace) plain else {
      sc.addSparkListener(rec)
      tracer.enabled = true
      window()
    }

    // ---- correctness gate ----------------------------------------------------
    if (engine.pending.nonEmpty)
      fail("drain", new IllegalStateException(s"${engine.pending.size} changes still pending"))
    state.publish()
    val mismatches = gate(spark, store.root, state)
    if (mismatches.nonEmpty) return report(3, s"CORRECTNESS GATE FAILED: ${mismatches.mkString("; ")}")

    // a traced run adds three searches of each kind, so every kind has a median
    val eachKind =
      if (!args.trace) Nil
      else {
        val g = new SplittableRandom(args.seed * 131 + 7)
        val zipf = new Zipf(Customers, 1.0, args.seed)
        for (k <- "PSR"; i <- 1 to 3; r <- search(spark.newSession(), store.root, g, zipf, s"k$k$i", k))
          yield r
      }

    // ---- store footprint -------------------------------------------------------
    val diskEnd = du(Paths.get(store.root))._1
    val dirsEnd = bucketDirs(Paths.get(store.root))
    store.vacuum()
    put("store_mb", du(Paths.get(store.root))._1 / 1048576.0)

    // ---- end-to-end metrics ----------------------------------------------------
    def drainRate(x: Window) = x.applied / math.max(x.busyS, 1e-9)
    def searchP50(x: Window) = pct(x.searches.map(_.ms).toSeq, 50)
    put("freshness_p50_s", pct(w.fresh.toSeq, 50))
    put("drain_changes_per_s", drainRate(w))
    put("search_p50_ms", searchP50(w))
    put("searches_per_s", w.searches.size / math.max(1e-9, w.searches.map(_.ms).sum / 1e3))
    put("gen.offered", w.offered.toDouble)
    put("gen.applied", w.applied.toDouble)
    put("gen.lag_ms_max", w.genLagMsMax)
    put("samples.freshness", w.fresh.size.toDouble)
    put("samples.batches", w.batches.size.toDouble)
    put("samples.searches", w.searches.size.toDouble)
    put("failed_share", failed.toDouble / math.max(1L, attempted))

    // ---- per-layer metrics (traced run) ----------------------------------------
    if (args.trace) {
      // initialize runs only when a store is first built: time it once more
      // into a scratch store, and its recompute alone through the noop sink
      val (_, initNs) = tracer.span("setup.initialize", "setup") {
        BucketedRun.initialize(pipeline, state.sources,
          new BucketedStateStore(s"$work/initialize", Buckets))
      }
      val (_, recomputeNs) = tracer.span("setup.recompute", "setup") {
        val st = IncrementalRun.recompute(pipeline, state.sources)
        (pipeline.mapTargets.toSeq.sorted ++ pipeline.reduces.map(_.target))
          .foreach(t => st(t).write.format("noop").mode("overwrite").save())
      }
      put("setup.initialize_s", sec(initNs))
      put("setup.recompute_s", sec(recomputeNs))
      put("setup.write_s", math.max(0.0, sec(initNs) - sec(recomputeNs)))
      put("trace.overhead_share",
        if (args.workload == "search") searchP50(w) / searchP50(plain) - 1
        else drainRate(plain) / drainRate(w) - 1)
      val bs = w.batches.toSeq
      put("engine.batch_ms_p50", pct(bs.map(_.ms), 50))
      put("engine.batch_ms_p95", pct(bs.map(_.ms), 95))
      put("engine.changes_per_batch_p50", pct(bs.map(_.changes.toDouble), 50))
      put("engine.commits_per_batch", mean(bs.map(_.commits.toDouble)))
      put("engine.dead_letters", engine.deadLetters.size.toDouble)
      put("engine.lag_changes_max", w.lagChangesMax.toDouble)
      val perBatch = bs.map(b => rec.jobsIn("writer", b.startMs, b.endMs))
      def perB(f: Seq[JobRec] => Double): Double = mean(perBatch.map(f))
      def sited(p: String)(j: JobRec) = rec.site(j).startsWith(p)
      put("run.jobs_per_batch", perB(_.size.toDouble))
      put("run.tasks_per_batch", perB(_.map(_.tasks.get).sum.toDouble))
      put("run.collect_ms_per_batch", perB(_.filter(sited("collect")).map(_.durMs).sum.toDouble))
      put("run.broadcast_ms_per_batch", perB(_.filter(_.broadcast).map(_.durMs).sum.toDouble))
      put("run.cpu_ms_per_batch", perB(_.map(_.cpuNs.get).sum / 1e6))
      put("run.shuffle_mb_per_batch", perB(_.map(_.shuffleBytes.get).sum / 1048576.0))
      put("store.buckets_written_per_batch", mean(bs.map(_.bucketsWritten.toDouble)))
      // tables stage concurrently: the blocking write is first start to last end
      put("store.write_ms_per_batch", perB { js =>
        val ws = js.filter(sited("parquet at"))
        if (ws.isEmpty) 0.0 else (ws.map(_.endMs).max - ws.map(_.startMs).min).toDouble
      })
      put("store.mb_written_per_batch", mean(bs.map(_.bytesWritten / 1048576.0)))
      put("store.mb_read_per_batch", perB(_.map(_.inputBytes.get).sum / 1048576.0))
      put("store.bytes_written_per_change",
        bs.map(_.bytesWritten).sum.toDouble / math.max(1L, bs.map(_.changes.toLong).sum))
      put("store.disk_mb_end", diskEnd / 1048576.0)
      put("store.dirs_end", dirsEnd.toDouble)
      val ss = w.searches.toSeq
      def execP50(k: String) = pct((ss ++ eachKind).filter(_.kind == k).map(_.execNs / 1e6), 50)
      put("search.open_ms_p50", pct(ss.map(_.openNs / 1e6), 50))
      put("search.parse_ms_p50", pct(ss.map(_.parseNs / 1e6), 50))
      put("search.exec_ms_p50.point", execP50("point"))
      put("search.exec_ms_p50.sort", execP50("sort"))
      put("search.exec_ms_p50.range", execP50("range"))
      put("search.files_per_search", mean(ss.map(_.files.toDouble)))
      put("search.mb_read_per_search",
        mean(ss.map(s => rec.jobsIn("reader", s.startMs, s.endMs).map(_.inputBytes.get).sum / 1048576.0)))
      put("search.rows_per_search", mean(ss.map(_.rows.toDouble)))
      val inWindow = rec.jobs.values.asScala.filter(j => j.startMs >= w.startMs && j.startMs <= w.endMs)
      put("spark.busy_share",
        inWindow.map(_.runMs.get).sum.toDouble / (math.max(1L, w.endMs - w.startMs) * cores.toDouble))
      put("jvm.gc_ms", w.gcMs.toDouble)
      put("jvm.heap_peak_mb", w.heapPeakMb)
      // counts that repeat exactly for a seed: the warm-up batch has fixed
      // content and meets the same store every run
      put("count.warmup_jobs", warmJobs.size.toDouble)
      put("count.warmup_tasks", warmJobs.map(_.tasks.get).sum.toDouble)
      put("count.warmup_buckets_written", warm.get.bucketsWritten.toDouble)
      put("count.warmup_bytes_written", warm.get.bytesWritten.toDouble)
      tracer.write(Paths.get(work, "spans.jsonl"))
      rec.jobs.values.asScala.toSeq.groupBy(rec.site).toSeq
        .map { case (s, js) => (s, js.size, js.map(_.durMs).sum) }.sortBy(-_._3).take(12)
        .foreach { case (s, n, ms) => System.err.println(f"[site] $ms%8d ms $n%5d jobs  $s") }
    }
    report(0, "")
  }

  /** Print failures and, on success, the result line; returns the exit code. */
  private def report(code: Int, why: String): Int = {
    failures.foreach(f => System.err.println(s"[failure] $f"))
    if (code != 0) System.err.println(why)
    else println(Json.obj(Seq(
      "correct" -> "true",
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "values" -> Json.obj(out.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    code
  }

  // ---- the open loop: generator and drain threads --------------------------------

  private def openLoop(spark: SparkSession, state: SourceState, w: Window,
                       apply: (Dataset[Change], Int, String) => Option[BatchRec]): Unit = {
    import spark.implicits._
    val queue = new LinkedBlockingDeque[Offered]()
    w.open()
    val t0 = System.nanoTime()
    // the window opens on the queue a running worker has at any moment: the
    // arrivals of the PrefillS before it
    schedule(t0 - PrefillS * 1000000000L, PrefillS).foreach { due =>
      queue.put(Offered(state.nextChange(gen), due))
      w.offered += 1
    }
    // `search` applies only that queue: its window is for reading
    val dues = if (args.workload == "search") Nil else schedule(t0, args.seconds)
    @volatile var genDone = false
    @volatile var drained = false

    // a change is due at its scheduled time whether or not the engine has
    // caught up, and is timed from then
    val generator = new Thread(() => {
      dues.foreach { due =>
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val c = state.nextChange(gen)
        w.genLagMsMax = math.max(w.genLagMsMax, (System.nanoTime() - due) / 1e6)
        queue.put(Offered(c, due))
        w.offered += 1
      }
      genDone = true
    }, "perfbench-generator")

    // the worker's drain loop: every pending change goes into one batch
    val drain = new Thread(() => {
      spark.sparkContext.setLocalProperty(JobRecorder.RoleKey, "writer")
      var n = 0
      while (!(genDone && queue.isEmpty)) {
        val head = queue.poll(20, TimeUnit.MILLISECONDS)
        if (head != null) {
          val rest = new java.util.ArrayList[Offered]()
          queue.drainTo(rest)
          val batch = head +: rest.asScala.toSeq
          w.lagChangesMax = math.max(w.lagChangesMax, batch.size)
          state.publish()
          n += 1
          apply(batch.map(_.change).toDS(), batch.size, s"b$n") match {
            case Some(b) =>
              w.batches += b
              w.applied += batch.size
              w.fresh ++= batch.map(o => sec(b.endNs - o.dueNs))
            case None =>
              // redelivered with the next batch, as a restarted stream would
              batch.reverse.foreach(queue.putFirst)
          }
        }
      }
      drained = true
    }, "perfbench-drain")

    generator.start(); drain.start()
    generator.join(); drain.join()
  }

  /** Searches of the drained store by one closed-loop reader on its own
    * session (`BatchConf` asks that of foreground queries): for the window's
    * length on `search`, ten (one cycle of the mix) elsewhere. */
  private def reads(spark: SparkSession, store: BucketedStateStore, w: Window): Unit = {
    spark.sparkContext.setLocalProperty(JobRecorder.RoleKey, "reader")
    val rs = spark.newSession()
    val g = new SplittableRandom(args.seed * 131 + 5)
    val zipf = new Zipf(Customers, 1.0, args.seed)
    val until = System.nanoTime() + args.seconds * 1000000000L
    var i = 0
    while (if (args.workload == "search") System.nanoTime() < until else i < ProbeSearches) {
      w.searches ++= search(rs, store.root, g, zipf, s"s$i", Kinds(i % Kinds.length))
      i += 1
    }
    spark.sparkContext.setLocalProperty(JobRecorder.RoleKey, "writer")
  }

  // ---- searches ---------------------------------------------------------------

  /** One Qvarn URL search of kind `k`: a Zipf point lookup (P), a filtered
    * sorted page (S) or a value range (R). The store is opened, as a second
    * process would open it, before every search. */
  private def search(rs: SparkSession, root: String, g: SplittableRandom,
                     zipf: Zipf, trace: String, k: Char): Option[SearchRec] = {
    attempt()
    val (kind, table, url) =
      if (k == 'P') ("point", "customer_report",
        s"/customer_report/search/exact/_mr_key/${zipf.next(g)}/show_all")
      else if (k == 'S')
        ("sort", "customer_report",
          s"/customer_report/search/gt/acctbal/${g.nextInt(9000)}/startswith/customer_name/" +
            s"customer%2300000${g.nextInt(2)}/sort/acctbal/limit/50/show/customer_name/show/acctbal")
      else {
        val lo = 100000 + g.nextInt(1500000)
        ("range", "orders_sum",
          s"/orders_sum/search/gt/_mr_value/$lo/lt/_mr_value/${lo + 200000}" +
            "/sort/_mr_value/limit/50/show/_mr_value")
      }
    val m0 = nowMs
    try tracer.span("search", trace) {
      val (df, openNs) = tracer.span("search.open", trace, "search") {
        new BucketedStateStore(root, Buckets).table(rs, table)
      }
      val (q, parseNs) = tracer.span("search.parse", trace, "search")(QvarnUrl.parse(df, url, Key))
      val (rows, execNs) = tracer.span(s"search.exec.$kind", trace, "search")(q.result().collect())
      // customers are never deleted, so a key lookup finds exactly one row
      if (kind == "point" && rows.length != 1)
        throw new IllegalStateException(s"point search returned ${rows.length} rows: $url")
      if (rows.length > 50) throw new IllegalStateException(s"limit ignored: $url")
      Some(SearchRec(kind, m0, nowMs, openNs, parseNs, execNs, rows.length,
        if (tracer.enabled) df.inputFiles.length else 0))
    }._1
    catch { case t: Throwable => fail(s"search $trace", t); None }
  }

  // ---- correctness gate ---------------------------------------------------------

  /** Every reduce target, read from a freshly opened store, equals the
    * recompute over the final source state, doubles rounded to 2 dp like the
    * DuckDB oracle. A row-count + hash-sum fingerprint decides; on a mismatch
    * an exact diff names the damage. Returns the mismatching targets. */
  private def gate(spark: SparkSession, root: String, state: SourceState): Seq[String] = {
    val reopened = new BucketedStateStore(root, Buckets)
    val expected = IncrementalRun.recompute(pipeline, state.sources)
    def norm(df: DataFrame): DataFrame = {
      val cols = df.columns.filterNot(_ == Timestamp).sorted
      df.select(cols.map { c =>
        df.schema(c).dataType match {
          case DoubleType | FloatType => round(col(c), 2).as(c)
          case _ => col(c)
        }
      }: _*)
    }
    def fingerprint(df: DataFrame) =
      df.select(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        .collect().head.toSeq
    pipeline.reduces.map(_.target).flatMap { t =>
      val a = norm(reopened.table(spark, t))
      val e = norm(expected(t))
      if (fingerprint(a) == fingerprint(e)) None
      else Some(s"$t: ${a.exceptAll(e).count()} rows not in recompute, " +
        s"${e.exceptAll(a).count()} recompute rows missing")
    }
  }

  // ---- helpers --------------------------------------------------------------------

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach(f => Files.copy(f, to.resolve(from.relativize(f))))
    finally s.close()
  }

  /** (bytes, files) under `p`. */
  private def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  /** Bucket directories (`__b=<k>`) on disk under the store root. */
  private def bucketDirs(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.count(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("__b="))
    finally s.close()
  }
}

object Stats {
  /** Linear-interpolated percentile; NaN on no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Zipf(s) over customer keys 1..n; ranks map to keys through a seeded
  * permutation, so the hot keys differ per seed but not per run. */
final class Zipf(n: Int, s: Double, seed: Long) {
  private val cdf = {
    val c = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s)).scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val keys = {
    val r = new SplittableRandom(seed * 7 + 3)
    val k = Array.tabulate(n)(_ + 1)
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = k(i); k(i) = k(j); k(j) = t }
    k
  }
  def next(g: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, g.nextDouble())
    keys(math.min(n - 1, if (i >= 0) i else -i - 1))
  }
}
