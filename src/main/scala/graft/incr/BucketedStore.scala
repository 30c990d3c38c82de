package graft.incr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.Base64
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._

/** Hash-bucketed durable state — the A3/A4 sink shaped for 100 TB.
  *
  * A store that rewrites every derived table whole per batch would, at
  * scale, rewrite terabytes for a 10-row change batch. Here each table is
  * persisted as `numBuckets` hash buckets of its key column, and a batch
  * replaces only the buckets that contain touched keys — the file-level
  * MERGE a Delta/Iceberg sink performs, on a write-new-then-swap-manifest
  * protocol (crash mid-write leaves the previous consistent snapshot
  * committed; reference analogue: deferred tombstone purge,
  * processor.py:141-148).
  *
  * Reads ([[table]], [[readBuckets]], [[tableAsOf]]) resolve their files
  * from the manifest: one driver `Files.list` per referenced directory,
  * eagerly at open (a missing directory fails there), handed to Spark as a
  * fixed file list — no Spark job before the first action. Above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths,
  * `spark.read.parquet(dirs)` would instead run a distributed listing job on
  * every open. Raising that threshold was not the fix: it is session-global,
  * every caller's session (readers use `spark.newSession()`) would need it,
  * and Spark would still check and list each path.
  *
  * Layout:
  * {{{
  *   <root>/_manifest                              committed pointer (atomic swap)
  *   <root>/_manifest.b<batch>                     retained snapshot (time travel)
  *   <root>/<table>/b<batch>_<n>/__b=<k>/part-….parquet   one dir per staged bucket
  *   <root>/_stream_checkpoint/                    the engine query's checkpoint
  * }}}
  * The manifest maps (table, bucket) -> directory, so untouched buckets are
  * carried forward BY REFERENCE — never copied, never rewritten. `vacuum()`
  * drops directories neither the committed manifest nor a retained snapshot
  * references; [[tableAsOf]] reads any retained batch's exact state.
  *
  * On a cluster the local atomic rename becomes a conditional put on the
  * object store; everything else is already object-store-shaped (immutable
  * directories, manifest indirection).
  */
final class BucketedStateStore(val root: String, val numBuckets: Int = 32,
                               val autoVacuumEvery: Int = 16,
                               val keepSnapshots: Int = 8) {
  require(numBuckets > 0)

  private val manifestPath = Paths.get(root, "_manifest")

  /** The Structured Streaming checkpoint of the engine query that feeds
    * this store ([[BucketedStreamingEngine.start]]). It is not a table:
    * [[vacuum]] never touches it. */
  def streamCheckpoint: String =
    Paths.get(root, BucketedStateStore.StreamCheckpointDir).toString

  /** Snapshot manifest of one committed batch: `_manifest.b<batchId>` in
    * `root`. Because bucket directories are immutable and carried by
    * reference, retaining the manifest IS retaining the snapshot — time
    * travel costs one small file per commit, no data copies. The newest
    * [[keepSnapshots]] are kept; [[vacuum]] treats their referenced
    * directories as live, so an as-of read inside the retention window
    * never races the GC. */
  private def snapshotPath(batchId: Long) = Paths.get(root, s"_manifest.b$batchId")

  /** `buckets`: bucket id -> path relative to `root` (absent = empty). */
  private final case class TableMeta(keyCol: String, ddl: String, buckets: Map[Int, String])

  // crash recovery on open: a kill between writing a `_swap.tmp*` file and
  // its ATOMIC_MOVE strands the tmp (never referenced — the committed
  // pointer still names the previous batch), so sweep them here; a store
  // that crashed mid-swap reopens to the last committed batch with no
  // leftover temp files (ChaosStoreSpec kills at every step and asserts it)
  locally {
    val p = Paths.get(root)
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("_swap.tmp"))
        .toList.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
    // a kill between the snapshot write and the pointer swap strands a
    // snapshot manifest AHEAD of the committed pointer: whole, but
    // uncommitted — time travel must not serve it, and vacuum must not
    // treat its directories as live forever. Reap it; the batch will be
    // re-staged and re-committed (writeAtomic REPLACE_EXISTING).
    val ptr = committedBatch.getOrElse(-1L)
    snapshots.filter(_ > ptr).foreach(b => Files.deleteIfExists(snapshotPath(b)))
  }

  /** TEST SEAM — [[commit]] reports each durability step here
    * ("tmp-written:<file>", "snapshot-written", "pointer-swapped");
    * a hook that THROWS simulates a crash at that exact point
    * (ChaosStoreSpec). Production leaves it a no-op. */
  private[graft] var onCommitStep: String => Unit = _ => ()

  private var committed: Map[String, TableMeta] = loadManifest()
  /** Opaque engine payload carried inside the atomic manifest swap — the
    * crash-durable home of the A18 retry ledger (see [[commit]]). */
  private var ledgerPayload: Option[String] = loadLedger()
  /** Small caller-owned key/value metadata, persisted in the same atomic
    * manifest swap — e.g. per-table drain progress for exactly-once sinks
    * ([[graft.streaming.EventWindows.upsertBatch]]). */
  private var metaMap: Map[String, String] = loadMeta()
  private var commitsSinceVacuum = 0
  // per-table bucket-path deltas staged for the next commit (None = now empty)
  private var staged: Map[String, (String, String, Map[Int, Option[String]])] = Map.empty
  private var stageSeq = 0

  /** Deterministic bucket id of a key value (null hashes like xxhash64(null)
    * — the seed — so null keys land in one fixed bucket). */
  def bucketOf(key: Column): Column = pmod(xxhash64(key), lit(numBuckets.toLong)).cast("int")

  def tableNames: Seq[String] = committed.keys.toSeq.sorted
  def isEmpty: Boolean = committed.isEmpty
  def committedBatch: Option[Long] =
    if (!Files.exists(manifestPath)) None
    else Files.readAllLines(manifestPath).asScala.headOption
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)

  /** Committed bucket -> directory map (tests assert untouched buckets keep
    * their directory across batches — carried by reference, not rewritten). */
  def bucketPaths(table: String): Map[Int, String] =
    committed.get(table).map(_.buckets).getOrElse(Map.empty)

  /** Read the full table (union of all committed buckets). */
  def table(spark: SparkSession, name: String): DataFrame =
    readPaths(spark, name, committed(name).buckets.values.toSeq)

  /** Batch ids with a retained snapshot manifest, ascending. */
  def snapshots: Seq[Long] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_manifest.b"))
        .map(_.stripPrefix("_manifest.b").toLong).toSeq.sorted
      finally s.close()
    }
  }

  /** Time travel: read `name` exactly as batch `batchId` committed it.
    * The snapshot must still be retained (see [[keepSnapshots]]); reads
    * resolve against the immutable directories that batch referenced, so
    * the result is byte-stable no matter how many batches, compactions or
    * vacuums happened since. */
  def tableAsOf(spark: SparkSession, name: String, batchId: Long): DataFrame = {
    // existence check + read under the store lock: commit()'s retention
    // delete holds the same lock, so a concurrent commit can't reap the
    // snapshot between the check and the read (it would otherwise surface
    // as NoSuchFileException instead of the retention message below)
    val meta = synchronized {
      val p = snapshotPath(batchId)
      require(Files.exists(p),
        s"no retained snapshot for batch $batchId (have: ${snapshots.mkString(",")})")
      parseTables(Files.readAllLines(p).asScala.toSeq).getOrElse(name,
        sys.error(s"table '$name' absent from batch $batchId snapshot"))
    }
    readPathsWithDdl(spark, meta.ddl, meta.buckets.values.toSeq)
  }

  /** Read ONLY the given buckets — the per-batch scoped read. */
  def readBuckets(spark: SparkSession, name: String, buckets: Iterable[Int]): DataFrame = {
    val meta = committed(name)
    readPaths(spark, name, buckets.toSeq.distinct.flatMap(meta.buckets.get))
  }

  private def readPaths(spark: SparkSession, name: String, rels: Seq[String]): DataFrame =
    readPathsWithDdl(spark,
      staged.get(name).map(_._2).orElse(committed.get(name).map(_.ddl))
        .getOrElse(sys.error(s"unknown state table '$name'")), rels)

  private def readPathsWithDdl(spark: SparkSession, ddl: String,
                               rels: Seq[String]): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    if (rels.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else {
      // list the manifest's directories on the driver (see the class doc),
      // eagerly: a missing directory fails here, at open, and frames keep
      // the files they resolved (the vacuum grace contract)
      val dirs = rels.map(r => Paths.get(root, r).toAbsolutePath)
      def hadoopPath(p: java.nio.file.Path) = new Path(new java.net.URI("file", "", p.toString, null))
      val files = dirs.flatMap { d =>
        if (!Files.isDirectory(d))
          throw new java.io.FileNotFoundException(s"bucket directory does not exist: $d")
        BucketedStateStore.dataFiles(d).map { case (f, attrs) =>
          new FileStatus(attrs.size, false, 1, BucketedStateStore.LocalBlockSize,
            attrs.lastModifiedTime.toMillis, hadoopPath(f))
        }
      }
      // explicit schema: skips footer merging, keeps column order stable
      // across bucket directories written by different batches, and reads
      // columns added by evolveTable as NULL from older files
      spark.baseRelationToDataFrame(HadoopFsRelation(
        new ManifestFileIndex(dirs.map(hadoopPath), files),
        StructType(Nil), BucketedStateStore.nullable(schema), None,
        new ParquetFileFormat, Map.empty)(spark))
    }
  }

  /** Stage replacement content for `buckets` of `name`. `rows` must hold
    * exactly the new content of those buckets (rows of other buckets are
    * the caller's bug — they would be duplicated against their own bucket).
    * Several stage calls for one table in one batch merge; later wins per
    * bucket. */
  def stageBuckets(name: String, buckets: Set[Int], rows: DataFrame,
                   batchId: Long, keyCol: String): Unit = {
    // only the metadata mutations hold the lock: the parquet write itself is
    // the long pole and stage calls for DIFFERENT tables run concurrently
    // (each writes its own immutable directory)
    val seq = synchronized { stageSeq += 1; stageSeq }
    val rel = s"$name/b${batchId}_$seq"
    val ordered = orderedLike(name, rows)
    // repartition on the bucket id first: without it every upstream task
    // opens a writer per bucket dir (tasks × buckets tiny files, and every
    // later scoped read pays the footer storm). One task per STAGED bucket
    // (not per bucket of the table — a small batch stages a strict subset)
    // → one file per bucket; at real scale raise maxRecordsPerFile to split.
    ordered.withColumn("__b", bucketOf(col(keyCol)))
      .repartition(math.max(1, math.min(buckets.size, numBuckets)), col("__b"))
      .write.mode(SaveMode.Overwrite).partitionBy("__b")
      // the manifest is the commit marker; per-directory _SUCCESS files are
      // dead weight (one FS op per staged table per batch)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(s"$root/$rel")
    val written = buckets.iterator.map { k =>
      val dir = Paths.get(root, rel, s"__b=$k")
      k -> (if (Files.isDirectory(dir)) Some(s"$rel/__b=$k") else None)
    }.toMap
    synchronized {
      val (kc, _, prev) = staged.getOrElse(name,
        (keyCol, "", Map.empty[Int, Option[String]]))
      staged += name -> (kc, ordered.schema.toDDL, prev ++ written)
    }
  }

  /** Keep the committed column order so parquet schemas stay aligned. */
  private def orderedLike(name: String, rows: DataFrame): DataFrame =
    committed.get(name) match {
      case Some(m) =>
        val want = StructType.fromDDL(m.ddl).fieldNames.toSeq
        if (want.toSet == rows.columns.toSet) rows.select(want.map(col): _*) else rows
      case None => rows
    }

  /** Full-table write (cold start / resync): every bucket of every table. */
  def initialize(tables: Map[String, (DataFrame, String)], batchId: Long = 0L): Unit = {
    tables.foreach { case (name, (df, keyCol)) =>
      stageBuckets(name, (0 until numBuckets).toSet, df, batchId, keyCol)
    }
    commit(batchId)
  }

  /** Atomically publish all staged buckets as batch `batchId`.
    *
    * `ledger`: when set, the payload replaces the stored engine ledger in
    * the SAME atomic manifest swap — so retry/dead-letter state and table
    * state can never diverge across a crash (the reference's analogue is
    * failed notifications staying unacked in its queue,
    * processor.py:437-471). When absent, the previously committed payload
    * is carried forward (a mid-engine-batch sub-commit must not drop it).
    *
    * Retention runs here too: every `autoVacuumEvery` commits a [[vacuum]]
    * reaps superseded/orphaned stage directories (steady state would
    * otherwise accumulate one directory per staged table per batch,
    * forever). 0 disables the cadence (manual vacuum only). */
  def commit(batchId: Long, ledger: Option[String] = None): Unit = synchronized {
    committed = staged.foldLeft(committed) { case (acc, (name, (keyCol, ddl, delta))) =>
      val prev = acc.get(name).map(_.buckets).getOrElse(Map.empty)
      val merged = delta.foldLeft(prev) {
        case (b, (k, Some(p))) => b + (k -> p)
        case (b, (k, None)) => b - k
      }
      acc + (name -> TableMeta(keyCol, ddl, merged))
    }
    staged = Map.empty
    ledger.foreach(p => ledgerPayload = Some(p))
    val sb = new StringBuilder(s"batch=$batchId\n")
    ledgerPayload.foreach { p =>
      sb.append(s"ledger=${Base64.getEncoder.encodeToString(p.getBytes(StandardCharsets.UTF_8))}\n")
    }
    metaMap.toSeq.sortBy(_._1).foreach { case (k, v) =>
      def b64(s: String) = Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
      sb.append(s"meta=${b64(k)}|${b64(v)}\n")
    }
    committed.toSeq.sortBy(_._1).foreach { case (name, m) =>
      val ddl64 = Base64.getEncoder.encodeToString(m.ddl.getBytes(StandardCharsets.UTF_8))
      sb.append(s"table=$name|${m.keyCol}|$ddl64\n")
      m.buckets.toSeq.sorted.foreach { case (k, p) => sb.append(s"bucket=$name|$k|$p\n") }
    }
    Files.createDirectories(Paths.get(root))
    // snapshot first, pointer swap second: a crash between the two leaves
    // an orphaned (but whole) snapshot file, never a committed batch without
    // one. The snapshot itself goes through tmp+ATOMIC_MOVE too — a torn
    // _manifest.b<id> would parse as partial state (or break parseTables in
    // vacuum's snapshot scan). The tmp name must not match the
    // `_manifest.b` prefix snapshots() globs for.
    def writeAtomic(target: java.nio.file.Path): Unit = {
      val tmp = target.resolveSibling(s"_swap.tmp${target.getFileName}")
      Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
      onCommitStep(s"tmp-written:${target.getFileName}")
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    writeAtomic(snapshotPath(batchId))
    onCommitStep("snapshot-written")
    writeAtomic(manifestPath)
    onCommitStep("pointer-swapped")
    snapshots.dropRight(keepSnapshots).foreach(b => Files.delete(snapshotPath(b)))
    commitsSinceVacuum += 1
    if (autoVacuumEvery > 0 && commitsSinceVacuum >= autoVacuumEvery) {
      commitsSinceVacuum = 0
      // grace = one cadence window: lazily-evaluated frames handed out by
      // table()/readBuckets() in the recent past still resolve their (now
      // superseded) directories; only dirs older than a full cadence are
      // reaped. Readers holding frames longer than autoVacuumEvery batches
      // must re-resolve (same contract as any MVCC snapshot horizon).
      vacuum(grace = autoVacuumEvery.toLong)
    }
  }

  /** The committed engine ledger payload, if any (crash/restart recovery). */
  def committedLedger: Option[String] = synchronized(ledgerPayload)

  /** Committed metadata value for `key` (see [[setMeta]]). */
  def meta(key: String): Option[String] = synchronized(metaMap.get(key))

  /** Stage a metadata entry; it persists with the NEXT [[commit]]'s atomic
    * manifest swap, so callers can make progress markers and table state
    * indivisible. */
  def setMeta(key: String, value: String): Unit =
    synchronized { metaMap += key -> value }

  /** ZERO-COPY schema evolution: append nullable columns to `name`'s
    * schema. No bucket directory is rewritten — reads resolve with an
    * explicit schema, so parquet files written before the evolution simply
    * surface NULL for the new columns (by-name resolution; column order in
    * old files is irrelevant). The widened DDL is staged and publishes with
    * the next [[commit]]'s atomic manifest swap; retained snapshots keep
    * the DDL they committed with, so [[tableAsOf]] before the evolution
    * batch still reads the old shape. Buckets staged in the SAME batch
    * should carry the widened schema (a narrower stage after evolve would
    * re-narrow the staged DDL). */
  def evolveTable(name: String, addColumnsDdl: String): Unit = synchronized {
    val keyCol = staged.get(name).map(_._1)
      .orElse(committed.get(name).map(_.keyCol))
      .getOrElse(sys.error(s"unknown state table '$name'"))
    val cur = StructType.fromDDL(staged.get(name).map(_._2).filter(_.nonEmpty)
      .getOrElse(committed(name).ddl))
    val add = StructType.fromDDL(addColumnsDdl)
    val dup = add.fieldNames.filter(cur.fieldNames.contains)
    require(dup.isEmpty, s"columns already exist: ${dup.mkString(",")}")
    val evolved = StructType(cur.fields ++ add.fields).toDDL
    staged += name -> (keyCol, evolved,
      staged.get(name).map(_._3).getOrElse(Map.empty))
  }

  /** Drop all staged-but-uncommitted bucket deltas. A FAILED batch must call
    * this before any later batch commits: stage metadata is store-level, so
    * a half-staged failed batch would otherwise be published by the next
    * successful commit. The orphaned directories on disk stay invisible (the
    * manifest never references them) and are reaped by [[vacuum]] once the
    * committed pointer passes their batch id. */
  def discardStaged(): Unit = synchronized { staged = Map.empty }

  private def loadLedger(): Option[String] =
    if (!Files.exists(manifestPath)) None
    else Files.readAllLines(manifestPath).asScala
      .find(_.startsWith("ledger="))
      .map(l => new String(Base64.getDecoder.decode(l.stripPrefix("ledger=")),
        StandardCharsets.UTF_8))

  private def loadMeta(): Map[String, String] =
    if (!Files.exists(manifestPath)) Map.empty
    else Files.readAllLines(manifestPath).asScala.collect {
      case l if l.startsWith("meta=") =>
        val Array(k, v) = l.stripPrefix("meta=").split("\\|", -1)
        def un(s: String) = new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
        un(k) -> un(v)
    }.toMap

  private def loadManifest(): Map[String, TableMeta] =
    if (!Files.exists(manifestPath)) Map.empty
    else parseTables(Files.readAllLines(manifestPath).asScala.toSeq)

  private def parseTables(lines: Seq[String]): Map[String, TableMeta] = {
    val tables = lines.collect { case l if l.startsWith("table=") =>
      val Array(name, keyCol, ddl64) = l.stripPrefix("table=").split('|')
      name -> TableMeta(keyCol,
        new String(Base64.getDecoder.decode(ddl64), StandardCharsets.UTF_8), Map.empty)
    }.toMap
    lines.collect { case l if l.startsWith("bucket=") =>
      val Array(name, k, p) = l.stripPrefix("bucket=").split('|')
      (name, k.toInt, p)
    }.foldLeft(tables) { case (acc, (name, k, p)) =>
      acc + (name -> acc(name).copy(buckets = acc(name).buckets + (k -> p)))
    }
  }

  private def listDirs(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.filter(Files.isDirectory(_)).toList finally s.close()
  }

  /** Integrity audit: every bucket directory the committed manifest
    * references must exist and contain at least one parquet part.
    * Returns damaged (table, bucket, relPath) triples, sorted. The
    * manifest indirection is what makes damage DETECTABLE — a restored
    * store that lost directories (partial copy, external cleaner racing
    * a sync, operator delete) would otherwise silently serve partial
    * state. Healing is [[BucketedRun.repair]]'s scoped recompute. */
  def fsck(): Seq[(String, Int, String)] = synchronized {
    committed.toSeq.flatMap { case (tname, meta) =>
      meta.buckets.toSeq.collect {
        case (b, rel) if !bucketDirHealthy(Paths.get(root, rel)) =>
          (tname, b, rel)
      }
    }.sortBy(t => (t._1, t._2))
  }

  private def bucketDirHealthy(dir: java.nio.file.Path): Boolean =
    Files.isDirectory(dir) && BucketedStateStore.dataFiles(dir).nonEmpty

  /** Delete stage directories no committed bucket references (safe GC —
    * includes orphans from crashed batches). Directories staged for a batch
    * BEYOND the committed pointer are skipped: they may belong to an
    * in-flight batch whose commit races this call (stage writes happen
    * outside the lock). `grace` additionally retains superseded dirs staged
    * within the last `grace` batches, so recently-resolved lazy frames keep
    * reading — the cadence-triggered vacuum passes its own interval. */
  def vacuum(grace: Long = 0L): Unit = synchronized {
    // live = the committed manifest PLUS every retained snapshot: an as-of
    // read inside the retention window must never lose a directory under it
    val snapshotLive: Set[String] = snapshots.flatMap { b =>
      parseTables(Files.readAllLines(snapshotPath(b)).asScala.toSeq)
        .values.flatMap(_.buckets.values)
    }.toSet
    val live: Set[String] = (committed.values.flatMap(_.buckets.values) ++ snapshotLive)
      .map(_.split('/').take(2).mkString("/")).toSet
    val horizon = committedBatch.getOrElse(-1L) - grace
    def stagedBatchOf(dirName: String): Option[Long] =
      if (!dirName.startsWith("b")) None
      else dirName.stripPrefix("b").takeWhile(_.isDigit) match {
        case "" => None
        case ds => Some(ds.toLong)
      }
    val rootPath = Paths.get(root)
    if (Files.isDirectory(rootPath)) {
      val tableDirs = listDirs(rootPath)
        .filterNot(_.getFileName.toString == BucketedStateStore.StreamCheckpointDir)
      tableDirs.foreach { tdir =>
        listDirs(tdir).foreach { sdir =>
          val rel = s"${tdir.getFileName}/${sdir.getFileName}"
          val inFlight = stagedBatchOf(sdir.getFileName.toString).exists(_ > horizon)
          if (!live.contains(rel) && !inFlight)
            graft.core.TempDirs.deleteRecursively(sdir)
        }
      }
    }
  }
}

object BucketedStateStore {
  /** Directory name of [[BucketedStateStore.streamCheckpoint]] under the
    * root. Matched exactly: index tables are `_`-prefixed too (`_idx_<map>`). */
  private[incr] val StreamCheckpointDir = "_stream_checkpoint"

  /** Hadoop's local-filesystem block size (`fs.local.block.size` default),
    * the value a Spark listing of these files would report. */
  private val LocalBlockSize = 32L << 20

  /** A bucket directory's data files, sorted by name: non-hidden (no `_` or
    * `.` prefix) `.parquet` files with content. The ONE definition both
    * reads and [[BucketedStateStore.fsck]] use, so a directory fsck calls
    * healthy is exactly one a read can serve; `_SUCCESS`, `.crc` and other
    * siblings are never read. */
  private[incr] def dataFiles(dir: java.nio.file.Path): Seq[(java.nio.file.Path, BasicFileAttributes)] = {
    val s = Files.list(dir)
    try s.iterator().asScala.flatMap { p =>
      val n = p.getFileName.toString
      if (!n.endsWith(".parquet") || n.startsWith("_") || n.startsWith(".")) None
      else {
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        if (a.isRegularFile && a.size > 0) Some(p -> a) else None
      }
    }.toList.sortBy(_._1.getFileName.toString)
    finally s.close()
  }

  /** Every field and nested element nullable — the shape Spark's parquet
    * reader gives a user-specified schema. */
  private[incr] def nullable(t: StructType): StructType =
    StructType(t.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case ArrayType(e, _) => ArrayType(nullableType(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullableType(k), nullableType(v), valueContainsNull = true)
    case other => other
  }
}

/** The fixed file list of one manifest-resolved read: no partition columns,
  * no discovery, no refresh (bucket directories are immutable). Equal by
  * root directories, like Spark's `InMemoryFileIndex`, so two reads of the
  * same buckets still match the cache manager and exchange reuse. */
private final class ManifestFileIndex(override val rootPaths: Seq[Path],
                                      files: Seq[FileStatus]) extends FileIndex {
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.map(FileStatusWithMetadata(_))))
  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
  override def refresh(): Unit = ()
  override lazy val sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = StructType(Nil)
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => m.rootPaths.toSet == rootPaths.toSet
    case _ => false
  }
  override def hashCode: Int = rootPaths.toSet.hashCode
}
