package graft

import graft.core.{IniConfig, PipelineProvider, Sessions}
import graft.incr.{BucketedRun, BucketedStateStore, BucketedStreamingEngine,
  Change, HandlerRegistry, Lease}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The packaged worker entry point — `qvarnmr-worker`
  * (reference scripts/worker.py:27-38, setup.py console_scripts):
  *
  *   runMain graft.Worker <pipeline-object> -c <config.ini> [-f | -q]
  *
  * `<pipeline-object>` is a fully-qualified Scala object extending
  * [[graft.core.PipelineProvider]] (the dotted-path handlers config,
  * worker.py:28-30). The INI config supplies what the reference reads
  * from its app config (config.py:9-42):
  *
  * {{{
  * [spark]
  * master = local[32]              ; default local[*]
  * shuffle_partitions = 32
  * [store]
  * root = /data/mr-state           ; bucketed durable state
  * buckets = 64
  * track_seqs = false              ; opt-in CAS revision ledger
  * [sources]
  * src = /data/src.parquet         ; one parquet path per source name
  * [changes]
  * dir = /data/changes             ; streamed dir of Change parquet rows
  * [qvarnmr]
  * instance = mr-worker-1          ; lease identity (listeners.py:33-47)
  * keep_alive_timeout = 60        ; seconds, lease steal horizon
  * keep_alive_update_interval = 10 ; seconds between heartbeats
  * }}}
  *
  * Lifecycle, mirroring worker.py's main: acquire the single-writer lease
  * (A19 — a live lease held by another worker prints the busy error and
  * exits 1, worker.py:96-98), full-resync any handler whose registered
  * version changed (A16/A17, resync.py:91-128 — the registry persists
  * next to the store manifest), then run the change stream through the
  * durable retry engine: drain-then-exit by default, `-f` forever
  * (worker.py:76-89). The lease heartbeats from a daemon thread during
  * the run and releases on exit (clear_listener_owners).
  */
object Worker {

  final case class Args(provider: String, config: String, forever: Boolean,
                        queue: Boolean = false, job: Option[String] = None,
                        jobs: Boolean = false)

  def parseArgs(argv: Seq[String]): Args = {
    var provider: Option[String] = None
    var config: Option[String] = None
    var forever = false
    var queue = false
    var job: Option[String] = None
    var jobs = false
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "-c" | "--config" =>
          require(i + 1 < argv.length, "-c needs a value")
          config = Some(argv(i + 1)); i += 2
        case "-f" | "--forever" => forever = true; i += 1
        case "-q" | "--queue" => queue = true; i += 1
        case "-j" | "--job" =>
          require(i + 1 < argv.length, "--job needs a value")
          job = Some(argv(i + 1)); i += 2
        case "--jobs" => jobs = true; i += 1
        case flag if flag.startsWith("-") =>
          throw new IllegalArgumentException(s"unknown flag $flag")
        case positional =>
          require(provider.isEmpty, s"unexpected extra argument $positional")
          provider = Some(positional); i += 1
      }
    }
    // --job/--jobs modes run a NAMED batch job (no handler pipeline):
    // the positional provider argument is not used there — except
    // `--job resync`, which resyncs the provider's own pipeline
    if ((job.isEmpty || job.contains("resync")) && !jobs && provider.isEmpty)
      throw new IllegalArgumentException(
        "usage: Worker <pipeline-object> -c <config.ini> [-f | -q] " +
          "| Worker [<pipeline-object>] --job <name> -c <config.ini> " +
          "| Worker --jobs -c <config.ini>")
    Args(provider.getOrElse(""),
      config.getOrElse(throw new IllegalArgumentException("-c <config.ini> is required")),
      forever, queue, job, jobs)
  }

  /** Registry of applied handler versions, persisted beside the store
    * (the reference keeps `qvarnmr_handlers` resources, resync.py:52-88). */
  private def registryPath(storeRoot: String) = Paths.get(storeRoot, "_handlers")
  private def loadRegistry(storeRoot: String): HandlerRegistry = {
    val p = registryPath(storeRoot)
    if (!Files.exists(p)) HandlerRegistry.empty
    else HandlerRegistry(Files.readAllLines(p).toArray(Array.empty[String])
      .filter(_.contains('=')).map { line =>
        val i = line.lastIndexOf('=')
        line.substring(0, i) -> line.substring(i + 1).toInt
      }.toMap)
  }
  private def saveRegistry(storeRoot: String, reg: HandlerRegistry): Unit = {
    val p = registryPath(storeRoot)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling("_handlers.tmp")
    Files.write(tmp, reg.versions.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def main(argv: Array[String]): Unit = sys.exit(run(argv.toSeq))

  /** Testable body; returns the process exit code. */
  def run(argv: Seq[String],
          sparkOverride: Option[SparkSession] = None): Int = {
    val args = parseArgs(argv)
    val conf = IniConfig.read(Paths.get(args.config))

    // `--queue`: list the notification queue (pending retries with their
    // backoff gates + dead letters) from the store's COMMITTED ledger and
    // exit — the reference's notification listing (listeners.py:37-40) as
    // a read-only peek: no lease, no SparkSession, no stream started.
    if (args.queue) {
      val root = conf.get("store", "root").getOrElse(
        throw new IllegalArgumentException("[store] root is required"))
      val st = new BucketedStateStore(root,
        conf.getLongOrElse("store", "buckets", 64L).toInt)
      val led = graft.incr.RetryLedger.restore(0, st.committedLedger.getOrElse(""))
      graft.incr.Notifications.lines(led.pending, led.deadLetters).foreach(println)
      return 0
    }

    // `--jobs`: list named-job progress from the store's COMMITTED
    // manifest and exit — the batch twin of `--queue`: no lease, no
    // SparkSession, no job started
    if (args.jobs) {
      val root = conf.get("store", "root").getOrElse(
        throw new IllegalArgumentException("[store] root is required"))
      val st = new BucketedStateStore(root,
        conf.getLongOrElse("store", "buckets", 64L).toInt)
      Jobs.progressLines(st).foreach(println)
      return 0
    }

    // lease FIRST, before any SparkSession exists: a worker losing the
    // single-writer race should print the busy error and exit 1 in
    // milliseconds (worker.py:96-98), not after paying a full Spark
    // startup it will never use
    val storeRootEarly = conf.get("store", "root").getOrElse(
      throw new IllegalArgumentException("[store] root is required"))
    val instance = conf.getOrElse("qvarnmr", "instance", "mr-worker")
    val timeoutMs = conf.getLongOrElse("qvarnmr", "keep_alive_timeout", 60L) * 1000L
    val intervalMs =
      conf.getLongOrElse("qvarnmr", "keep_alive_update_interval", 10L) * 1000L
    val lease = new Lease(Paths.get(storeRootEarly, "_lease"),
      s"$instance@${ProcessHandle.current().pid()}", timeoutMs)
    try lease.keepAlive()
    catch {
      case Lease.BusyListenerError(heldBy) =>
        // the reference prints the busy error and exits 1 (worker.py:96-98)
        System.err.println(s"lease held by '$heldBy'")
        return 1
    }

    // from here the lease is HELD: if provider load or Spark startup throws
    // on a non-lease error path, release promptly instead of blocking the
    // single-writer slot for the full keep_alive_timeout
    try runLeased(args, conf, lease, storeRootEarly, sparkOverride)
    catch {
      case e: Throwable =>
        try lease.release() catch { case _: Throwable => () }
        throw e
    }
  }

  private def runLeased(args: Args, conf: IniConfig, lease: Lease,
                        storeRootEarly: String,
                        sparkOverride: Option[SparkSession]): Int = {
    val intervalMs =
      conf.getLongOrElse("qvarnmr", "keep_alive_update_interval", 10L) * 1000L
    // named-job mode runs without a handler pipeline — except `--job
    // resync`, which resyncs the pipeline's own targets; stream mode (and
    // resync) load the provider EAGERLY so a bad dotted path still fails
    // fast, before any SparkSession exists
    val pipelineOpt =
      if (args.job.isEmpty || args.job.contains("resync")) {
        require(args.provider.nonEmpty,
          "--job resync needs the pipeline provider argument")
        Some(PipelineProvider.load(args.provider).pipeline)
      } else None

    val spark = sparkOverride.getOrElse {
      Sessions.builder(conf.getOrElse("spark", "master", "local[*]"),
          conf.getLongOrElse("spark", "shuffle_partitions", 32L).toInt)
        // the library's kernels + custom strategies (graft_* functions,
        // KernelSubstitution rewrite, native as-of join) ride the session
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .getOrCreate()
    }
    import spark.implicits._

    val sourcePaths = conf.section("sources")
    val sources: graft.incr.IncrementalRun.Sources = name =>
      spark.read.parquet(sourcePaths.getOrElse(name,
        throw new NoSuchElementException(s"no [sources] entry for '$name'")))

    val storeRoot = storeRootEarly
    val store = new BucketedStateStore(storeRoot,
      conf.getLongOrElse("store", "buckets", 64L).toInt)
    val trackSeqs = conf.getBooleanOrElse("store", "track_seqs", default = false)

    // re-assert the lease after Spark startup: with an aggressive timeout a
    // long session init could have let another worker steal it meanwhile
    try lease.keepAlive()
    catch {
      case Lease.BusyListenerError(heldBy) =>
        System.err.println(s"lease held by '$heldBy'")
        return 1
    }
    @volatile var running = true
    @volatile var leaseLost = false
    val heartbeat = new Thread(() => {
      while (running) {
        try lease.keepAlive()
        catch {
          // the lease was stolen (a pause exceeded keep_alive_timeout and
          // another worker took over): continuing to write would violate
          // single-writer — stop the stream and make run() exit 1, like
          // the reference worker's main loop on BusyListenerError
          // (worker.py:96-98)
          case Lease.BusyListenerError(heldBy) =>
            leaseLost = true
            running = false
            System.err.println(s"lease lost to '$heldBy'; shutting down")
            try spark.streams.active.foreach(_.stop())
            catch { case _: Throwable => () }
          // transient heartbeat hiccups (fs blips) keep the loop alive
          case _: Throwable => ()
        }
        // interrupt() from the shutdown path lands here mid-sleep; exit
        // the loop quietly instead of letting the default uncaught-
        // exception handler print a spurious stack trace
        if (running)
          try Thread.sleep(math.max(intervalMs / 2, 100L))
          catch { case _: InterruptedException => running = false }
      }
    }, "graft-lease-heartbeat")
    heartbeat.setDaemon(true)
    heartbeat.start()

    try {
      args.job match {
        // named batch job: leased like the stream worker, resumable via
        // the job's committed stage pointer (Jobs.Curate). The lease-lost
        // flag is threaded in so a stolen lease aborts the job BEFORE its
        // next manifest swap — mirroring the stream path's stop-on-steal,
        // instead of letting the job keep committing against a store
        // another worker now owns.
        case Some(jobName) =>
          val code = Jobs.run(jobName, spark, conf, store, sources,
            cancelled = () => leaseLost, pipeline = pipelineOpt)
          // a COMPLETED resync job bumps the persisted handler registry,
          // so the next stream-mode startup won't redo the same resync
          // (the job is the operable form of worker.py:66-71's auto path)
          if (jobName == "resync" && code == 0 && !leaseLost)
            saveRegistry(storeRoot,
              loadRegistry(storeRoot).bumped(pipelineOpt.get))
          if (leaseLost) 1 else code
        case None =>
          val pipeline = pipelineOpt.get
          // automatic full resync for new or changed handlers
          // (worker.py:66-70, resync.py:91-128). resyncFull/initialize
          // preserve the CAS revision ledger across the recompute.
          val registry = loadRegistry(storeRoot)
          val (mapsChanged, reducesChanged) = registry.changed(pipeline)
          if (store.isEmpty)
            BucketedRun.initialize(pipeline, sources, store, trackSeqs = trackSeqs)
          else if (mapsChanged.nonEmpty || reducesChanged.nonEmpty)
            BucketedRun.resyncFull(pipeline, sources, store,
              store.committedBatch.getOrElse(0L) + 1)
          saveRegistry(storeRoot, registry.bumped(pipeline))

          val engine = BucketedStreamingEngine.restore(spark, pipeline, sources, store)
          val changesDir = conf.get("changes", "dir").getOrElse(
            throw new IllegalArgumentException("[changes] dir is required"))
          val stream = spark.readStream
            .schema("seq LONG, change STRING, resourceType STRING, resourceId STRING")
            .parquet(changesDir)
            .as[Change]
          val q = engine.start(stream, availableNow = !args.forever)
          q.awaitTermination()
          if (leaseLost) 1 else 0
      }
    } finally {
      // stop the heartbeat BEFORE releasing: a tick in flight (or one
      // more after a sleep) would otherwise re-create the lease file
      // AFTER release and squat the single-writer slot for the full
      // keep_alive_timeout — the next worker would see a live foreign
      // lease from a process that already exited
      running = false
      heartbeat.interrupt()
      try heartbeat.join(10000L) catch { case _: InterruptedException => () }
      if (!leaseLost) lease.release()
    }
  }
}
