package graft

import graft.core.IniConfig
import graft.dedup.{Components, DocDedup}
import graft.incr.BucketedStateStore
import graft.ops.ReduceOp
import graft.text.{Curation, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Named BATCH jobs for the worker CLI — the flagship LLM-curation
  * pipeline gets the same operational surface the reference's worker
  * gives its MR pipelines: config-file-driven
  * (`runMain graft.Worker --job curate -c config.ini`), single-writer
  * leased, RESUMABLE through the durable store's committed batch ids,
  * and inspectable without a lease or a SparkSession (`--jobs`, the
  * batch twin of `--queue`).
  *
  * Resumability contract: each stage writes its full output table into
  * the store and commits it under the stage's fixed batch id (manifest
  * swap — all-or-nothing). A re-run skips every stage at or below the
  * committed pointer and reads its output back from the store, so a
  * crash between stages costs only the unfinished stage, and a re-run
  * of a finished job is a no-op. Per-stage row counts ride the same
  * manifest swap as store meta ([[BucketedStateStore.setMeta]]), so the
  * `--jobs` listing can answer "how far did it get" from the manifest
  * alone. */
object Jobs {

  /** Thrown when a job must stop mid-run (single-writer lease lost):
    * continuing to commit would write concurrently with the new lease
    * holder — the exact violation the lease exists to prevent. */
  final case class AbortedException(msg: String) extends RuntimeException(msg)

  /** Run a named job; returns the process exit code. `cancelled` is
    * polled before every stage start and again immediately before every
    * durable commit (the worker wires it to its lease-lost flag), so a
    * stolen lease aborts the job BEFORE the next manifest swap — the
    * batch twin of the stream path's stop-on-steal. */
  def run(name: String, spark: SparkSession, conf: IniConfig,
          store: BucketedStateStore,
          sources: graft.incr.IncrementalRun.Sources,
          cancelled: () => Boolean = () => false,
          pipeline: Option[graft.core.Pipeline] = None): Int = {
    def guarded(body: => Unit): Int =
      try { body; 0 }
      catch { case AbortedException(msg) => System.err.println(msg); 1 }
    name match {
      case "curate" => guarded(Curate.run(spark, conf, store, sources, cancelled))
      case "index-build" => guarded(IndexJobs.build(spark, conf, sources, cancelled))
      case "index-update" => guarded(IndexJobs.update(spark, conf, sources, cancelled))
      case "compact" => guarded(IndexJobs.compact(spark, conf, cancelled))
      case "resync" => guarded(ResyncJob.run(spark,
        pipeline.getOrElse(throw new IllegalArgumentException(
          "--job resync needs the pipeline provider argument")),
        store, sources, cancelled))
      case other =>
        System.err.println(s"unknown job '$other' (known: curate, " +
          "index-build, index-update, compact, resync)")
        1
    }
  }

  /** Committed stage pointer for a named job — how many of its stages
    * have durably committed. Job progress is JOB-SCOPED store meta (it
    * rides the same atomic manifest swap as the stage's table), NOT the
    * store's global batch counter: a store that already carries commits
    * from another workload (a stream worker's, say) must not make a
    * never-run job look 'done'. */
  private[graft] def stagePointer(store: BucketedStateStore,
                                  job: String): Long =
    store.meta(s"job.$job.stage").map(_.toLong).getOrElse(0L)

  /** `--jobs`: progress listing from the committed manifest alone. */
  def progressLines(store: BucketedStateStore): Seq[String] = {
    val done = stagePointer(store, "curate")
    val curate = Curate.Stages.zipWithIndex.map { case (stage, i) =>
      val status =
        if (done >= i + 1L)
          s"done (rows=${store.meta(s"job.curate.$stage.rows").getOrElse("?")})"
        else "pending"
      s"curate/$stage: $status"
    }
    // resync's stage list is pipeline-shaped, so the committed manifest
    // carries it (job.resync.stages) — the listing stays SparkSession- and
    // provider-free like the rest of `--jobs`
    val resync = store.meta("job.resync.stages").toSeq.flatMap { names =>
      val p = stagePointer(store, "resync")
      names.split(',').toSeq.zipWithIndex.map { case (stage, i) =>
        val status =
          if (p >= i + 1L)
            s"done (rows=${store.meta(s"job.resync.$stage.rows").getOrElse("?")})"
          else "pending"
        s"resync/$stage: $status"
      }
    }
    curate ++ resync
  }

  /** Operational surface for the log-structured near-dup index — the
    * maintenance story the reference's worker gives resync, for OUR
    * index: a leased `--job index-build` (cold build / explicit rebuild,
    * the resync analogue), `--job index-update` (apply one change slice
    * at the next generation — redelivery-idempotent through the index's
    * own committed-gen pointer), and `--job compact` (fold the log,
    * single-writer by the SAME lease the worker already holds — exactly
    * the writer-exclusion compact's contract demands).
    *
    * {{{
    * [job:index]
    * dir = /data/lsh-index   ; required — the index directory
    * input = documents       ; [sources] name of the corpus (build)
    * updates = doc_updates   ; [sources] name of the upsert slice (update)
    * deletes = doc_deletes   ; optional [sources] name of id-only deletes
    * id_col = doc_id
    * text_col = text
    * threshold = 0.8
    * num_hashes = 32
    * bands = 8
    * shingle_n = 3
    * partitions = 64
    * gen = 3                 ; optional explicit generation for update
    * }}} */
  object IndexJobs {
    private val Sec = "job:index"

    private def index(conf: IniConfig): graft.dedup.LshIndex.Index = {
      val dir = conf.get(Sec, "dir").getOrElse(
        throw new IllegalArgumentException(s"[$Sec] dir is required"))
      graft.dedup.LshIndex.Index(dir,
        threshold = conf.get(Sec, "threshold").map(_.toDouble).getOrElse(0.8),
        numHashes = conf.getLongOrElse(Sec, "num_hashes", 32L).toInt,
        bands = conf.getLongOrElse(Sec, "bands", 8L).toInt,
        shingleN = conf.getLongOrElse(Sec, "shingle_n", 3L).toInt,
        nPartitions = conf.getLongOrElse(Sec, "partitions", 64L).toInt)
    }
    private def committed(idx: graft.dedup.LshIndex.Index): Long =
      graft.core.GenPointer.committed(idx.dir)
    private def isBuilt(idx: graft.dedup.LshIndex.Index): Boolean =
      committed(idx) != Long.MaxValue
    private def abortIfCancelled(cancelled: () => Boolean, at: String): Unit =
      if (cancelled()) throw AbortedException(
        s"lease lost; aborting index job at $at")

    /** Cold build (generation 0). A re-run against an already-built index
      * is a NO-OP — rebuild is an explicit operator decision (delete the
      * dir or point at a new one), not an accidental re-invocation. */
    def build(spark: SparkSession, conf: IniConfig,
              sources: graft.incr.IncrementalRun.Sources,
              cancelled: () => Boolean): Unit = {
      val idx = index(conf)
      if (isBuilt(idx)) {
        println(s"index-build: ${idx.dir} already built " +
          s"(committed gen ${committed(idx)}); no-op")
        return
      }
      abortIfCancelled(cancelled, "build start")
      val docs = sources(conf.getOrElse(Sec, "input", "documents"))
      graft.dedup.LshIndex.build(docs,
        conf.getOrElse(Sec, "text_col", "text"),
        conf.getOrElse(Sec, "id_col", "doc_id"),
        idx.dir, idx.threshold, idx.numHashes, idx.bands, idx.shingleN,
        idx.nPartitions)
      println(s"index-build: ${idx.dir} built at gen 0")
    }

    /** Apply one change slice at the next generation (or an explicit
      * `gen` from config — the redelivery-safe form: a committed gen is
      * skipped by the index's own pointer). */
    def update(spark: SparkSession, conf: IniConfig,
               sources: graft.incr.IncrementalRun.Sources,
               cancelled: () => Boolean): Unit = {
      val idx = index(conf)
      require(isBuilt(idx), s"index-update: no built index at ${idx.dir} " +
        "(run --job index-build first)")
      val idCol = conf.getOrElse(Sec, "id_col", "doc_id")
      val upserts = sources(conf.get(Sec, "updates").getOrElse(
        throw new IllegalArgumentException(s"[$Sec] updates is required")))
      val deletes = conf.get(Sec, "deletes").map(sources)
        .getOrElse(upserts.limit(0))
      val gen = conf.getLongOrElse(Sec, "gen", committed(idx) + 1L)
      abortIfCancelled(cancelled, s"update gen $gen")
      graft.dedup.LshIndex.applyBatch(idx, upserts,
        conf.getOrElse(Sec, "text_col", "text"), idCol,
        deletes.select(org.apache.spark.sql.functions.col(idCol)), gen)
      println(s"index-update: ${idx.dir} committed gen ${committed(idx)}")
    }

    /** Fold the log: keep only live rows, clear tombstones. Crash-healed
      * internally (DirSwap); safe to re-run. The worker's lease provides
      * the single-writer exclusion compaction requires. */
    def compact(spark: SparkSession, conf: IniConfig,
                cancelled: () => Boolean): Unit = {
      val idx = index(conf)
      require(isBuilt(idx), s"compact: no built index at ${idx.dir}")
      abortIfCancelled(cancelled, "compact start")
      graft.dedup.LshIndex.compact(spark, idx)
      println(s"compact: ${idx.dir} folded to gen ${committed(idx)}")
    }
  }

  /** Full resync as a leased, STAGE-RESUMABLE named job — the crash
    * story the index jobs already have, applied to A16/A17: where the
    * worker's startup auto-resync (Worker.scala, worker.py:66-71)
    * replaces the whole state in ONE commit, a 100 TB resync wants
    * per-target durability. Each map target commits as its own stage
    * (table + id-index projection in one manifest swap), each reduce
    * target then recomputes FROM THE COMMITTED map table in the store,
    * so a crash costs only the unfinished target and a re-run resumes at
    * the staged stage.
    *
    * The stage pointer is scoped to the PIPELINE FINGERPRINT (every
    * handler's version): a version bump invalidates the pointer and the
    * job starts over, while redelivery of the same versions is a no-op —
    * the job twin of the index's committed-gen redelivery idempotence.
    * Untouched tables (the seq ledger, CAS revisions, foreign tables)
    * carry forward through every commit, matching resyncFull's
    * ledger-preservation contract. */
  object ResyncJob {
    def stages(pipeline: graft.core.Pipeline): Seq[String] =
      pipeline.mapTargets.toSeq.sorted.map("map:" + _) ++
        pipeline.reduces.map(_.target).distinct.sorted.map("reduce:" + _)

    private[graft] def fingerprint(pipeline: graft.core.Pipeline): String =
      (pipeline.maps.map(m => s"m:${m.source}>${m.target}=${m.version}") ++
        pipeline.reduces.map(r => s"r:${r.target}=${r.version}"))
        .sorted.mkString(";")

    def run(spark: SparkSession, pipeline: graft.core.Pipeline,
            store: BucketedStateStore,
            sources: graft.incr.IncrementalRun.Sources,
            cancelled: () => Boolean = () => false): Unit = {
      import graft.incr.{BucketedRun, IncrementalRun}
      import graft.core.MrSchema
      val fp = fingerprint(pipeline)
      val names = stages(pipeline)
      val allBuckets = (0 until store.numBuckets).toSet
      def abortIfCancelled(at: String): Unit =
        if (cancelled()) throw AbortedException(
          s"lease lost; aborting job 'resync' at $at (no further commits)")
      // the pointer counts only under ITS fingerprint: a version bump
      // restarts from stage 1, same-version redelivery skips everything
      def pointer: Long =
        if (store.meta("job.resync.fingerprint").contains(fp))
          stagePointer(store, "resync")
        else 0L
      def commitStage(stage: String, idx: Long,
                      tables: Seq[(String, DataFrame, String)]): Unit = {
        val batch = store.committedBatch.getOrElse(0L) + 1L
        var rows = -1L
        tables.foreach { case (name, df, keyCol) =>
          val cached = graft.ops.Caches.track(df)
          store.stageBuckets(name, allBuckets, cached, batch, keyCol)
          if (rows < 0) rows = cached.count()
        }
        store.setMeta(s"job.resync.$stage.rows", rows.toString)
        store.setMeta("job.resync.fingerprint", fp)
        store.setMeta("job.resync.stages", names.mkString(","))
        store.setMeta("job.resync.stage", idx.toString)
        abortIfCancelled(s"commit of stage '$stage'")
        store.commit(batch)
        graft.core.KillPoint(s"job.resync.$stage.committed")
      }
      names.zipWithIndex.foreach { case (stage, i) =>
        val idx = i + 1L
        if (pointer < idx) {
          abortIfCancelled(s"start of stage '$stage'")
          graft.core.KillPoint(s"job.resync.$stage.start")
          stage.split(":", 2) match {
            case Array("map", t) =>
              val df = IncrementalRun.mapTable(pipeline, t, sources)
              commitStage(stage, idx, Seq(
                (t, df, MrSchema.Key),
                (BucketedRun.indexName(t),
                  df.select(col(MrSchema.SourceType), col(MrSchema.SourceId),
                    col(MrSchema.Key)).distinct(), MrSchema.SourceId)))
            case Array("reduce", t) =>
              val spec = pipeline.reduces.find(_.target == t).get
              // read the map side BACK from the store: the reduce stage
              // depends only on durably-committed state, never on a map
              // recompute that may predate a crash
              commitStage(stage, idx, Seq(
                (t, ReduceOp(spec, store.table(spark, spec.source)),
                  MrSchema.Key)))
          }
        }
      }
      graft.ops.Caches.release()
      println(s"resync: ${names.size} stages committed " +
        s"(fingerprint ${fp.hashCode.toHexString})")
    }
  }

  /** The capstone curation chain (the `pipeline_curate` query as an
    * operable job): near-dup RESOLUTION (MinHash pairs → connected
    * components → survivors) ∘ language + quality gates ∘ per-source
    * quantile length gate ∘ temperature mixing to per-source budgets.
    *
    * {{{
    * [job:curate]
    * input = documents     ; [sources] name of the document table
    * id_col = doc_id
    * text_col = text
    * source_col = source
    * threshold = 0.8       ; near-dup MinHash Jaccard threshold
    * lang = en
    * quality_min = 0.55
    * alpha = 0.7           ; mixing temperature
    * frac = 0.5            ; token budget as a fraction of the corpus
    * }}} */
  object Curate {
    val Stages: Seq[String] = Seq("survivors", "gated", "curated")

    def run(spark: SparkSession, conf: IniConfig, store: BucketedStateStore,
            sources: graft.incr.IncrementalRun.Sources,
            cancelled: () => Boolean = () => false): Unit = {
      val sec = "job:curate"
      val input = conf.getOrElse(sec, "input", "documents")
      val idCol = conf.getOrElse(sec, "id_col", "doc_id")
      val textCol = conf.getOrElse(sec, "text_col", "text")
      val sourceCol = conf.getOrElse(sec, "source_col", "source")
      def dbl(key: String, default: Double) =
        conf.get(sec, key).map(_.toDouble).getOrElse(default)
      val threshold = dbl("threshold", 0.8)
      val qualityMin = dbl("quality_min", 0.55)
      val alpha = dbl("alpha", 0.7)
      val frac = dbl("frac", 0.5)
      val lang = conf.getOrElse(sec, "lang", "en")

      val allBuckets = (0 until store.numBuckets).toSet
      def abortIfCancelled(at: String): Unit =
        if (cancelled()) throw AbortedException(
          s"lease lost; aborting job 'curate' at $at (no further commits)")
      // progress is the JOB's stage pointer (store meta, atomic with the
      // stage's table), never the store's global batch counter — so a
      // store pre-populated by any other workload can't fake 'done', and
      // a 'done' pointer always has its table (same manifest swap). A
      // pointer without its table is a corrupted store: fail loud.
      def stageDone(idx: Long, stage: String): Boolean = {
        val done = stagePointer(store, "curate") >= idx
        if (done && !store.tableNames.contains(stage))
          throw new IllegalStateException(
            s"job.curate.stage=$idx but stage table '$stage' is absent — " +
              "store meta and tables disagree; refusing to skip")
        done
      }
      def commitStage(stage: String, idx: Long, rows: DataFrame,
                      keyCol: String): Unit = {
        val batch = store.committedBatch.getOrElse(0L) + 1L
        val cached = graft.ops.Caches.track(rows)
        store.stageBuckets(stage, allBuckets, cached, batch, keyCol)
        store.setMeta(s"job.curate.$stage.rows", cached.count().toString)
        store.setMeta("job.curate.stage", idx.toString)
        abortIfCancelled(s"commit of stage '$stage'")
        store.commit(batch) // the stage becomes durable HERE, atomically
        graft.core.KillPoint(s"job.curate.$stage.committed")
      }

      // stage 1 — survivors: near-dup resolution + language/quality gates
      if (!stageDone(1L, "survivors")) {
        abortIfCancelled("start of stage 'survivors'")
        graft.core.KillPoint("job.curate.survivors.start")
        val docs = sources(input)
        val pairs = DocDedup.nearDupPairs(docs, textCol, idCol,
          threshold = threshold, numHashes = 32, bands = 8,
          maxBucketSize = 10000)
        val filtered = Components.survivors(docs, idCol, pairs)
          .filter(TextFunctions.langId(col(textCol)) === lang &&
            TextFunctions.qualityScore(col(textCol)) >= qualityMin)
        commitStage("survivors", 1L, filtered, idCol)
      }

      // stage 2 — gated: per-source quantile length gate over stage 1
      if (!stageDone(2L, "gated")) {
        abortIfCancelled("start of stage 'gated'")
        graft.core.KillPoint("job.curate.gated.start")
        val filtered = store.table(spark, "survivors")
        val gated = Curation.lengthGate(filtered, textCol, idCol, sourceCol)
        commitStage("gated", 2L,
          filtered.join(gated.select(col(idCol)), Seq(idCol)), idCol)
      }

      // stage 3 — curated: temperature mixing to per-source token budgets
      if (!stageDone(3L, "curated")) {
        abortIfCancelled("start of stage 'curated'")
        graft.core.KillPoint("job.curate.curated.start")
        val gatedDocs = store.table(spark, "gated")
        commitStage("curated", 3L,
          Curation.mixByTemperature(gatedDocs, idCol, textCol, sourceCol,
            alpha = alpha, frac = frac), idCol)
      }
      graft.ops.Caches.release()
    }
  }
}
