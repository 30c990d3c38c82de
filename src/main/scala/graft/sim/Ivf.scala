package graft.sim

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbors — the second scale
  * path next to [[Similarity.lshTopK]].
  *
  * Train: a few Lloyd iterations of k-means over the corpus (no MLlib, no
  * RNG — centroid seeds are an id-ordered stride so runs are reproducible).
  * Centroids are CONTROL data (nCells × dim doubles — kilobytes at any
  * corpus scale), so each iteration collects them to the driver and inlines
  * them as literals: nearest-centroid assignment is then a pure narrow
  * projection over the corpus — zero shuffles, zero joins, and the corpus
  * is scanned once per iteration. (The previous formulation kept centroids
  * as a DataFrame: assignment needed a crossJoin + groupBy shuffle of the
  * full vector set per iteration, and the uncollected lineage nested each
  * iteration's plan inside the next.)
  *
  * Search: score the query against the nCells centroid literals, probe the
  * nProbe best cells, exact-cosine only within probed cells. Cost per query
  * ~ (nProbe / nCells) of the corpus; at 100 TB the assignment (id, cell)
  * table is written bucketed by cell so a probe is a partition-pruned read,
  * not a scan, and the probe side is broadcast into the cell join.
  */
object Ivf {

  /** All centroids as ONE literal array<struct<vec,cell,norm>> plus a
    * `transform` lambda per row. One per-centroid expression tree instead
    * (greatest over nCells structs, each embedding a dot over a literal
    * vector) generates thousands of codegen lines PER DISTINCT CENTROID SET
    * — janino recompiles dominated the query (~3 s × every train iteration
    * and probe stage). The lambda body is evaluated per cell via the
    * compiled [[graft.functions.VectorDot]] kernel, so the per-row cost is
    * the same; only the compile blowup goes away. Centroid norms are
    * precomputed on the driver — per pair only one dot remains. */
  private[sim] def centLit(cents: Seq[(Int, Seq[Double])]): Column =
    typedlit(cents.map { case (cell, arr) =>
      (arr, cell, math.sqrt(arr.map(x => x * x).sum))
    })

  /** (score, cell) structs for a vector against every centroid; `vnorm` is
    * the vector's precomputed norm column (ties → larger cell). */
  private[sim] def cellScores(v: Column, vnorm: Column, cents: Column): Column =
    transform(cents, e => {
      val den = vnorm * e.getField("_3")
      struct(
        when(den === 0, lit(0.0))
          .otherwise(Similarity.dot(v, e.getField("_1")) / den),
        e.getField("_2")).cast("struct<s:double,cell:int>")
    })

  /** Nearest-centroid cell id as a narrow expression. */
  private[sim] def nearestCell(v: Column, vnorm: Column, cents: Column): Column =
    array_max(cellScores(v, vnorm, cents)).getField("cell")

  /** Best (max) cosine similarity against a centroid set — the cost
    * substrate of k-means|| seeding ([[KmeansPar]]). */
  private[sim] def bestSim(v: Column, vnorm: Column, cents: Column): Column =
    array_max(cellScores(v, vnorm, cents)).getField("s")

  /** The assignment as a reusable narrow expression over a raw (float)
    * vector column — lets composites (e.g. IVF-PQ) derive cell AND other
    * per-row columns in ONE scan instead of joining [[assignCells]]. */
  def cellExpr(vec: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    val v = transform(vec, _.cast("double"))
    nearestCell(v, sqrt(Similarity.dot(v, v)), centLit(cents))
  }

  /** Deterministic Lloyd training; centroids collected per iteration. */
  private def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    GraftFunctions.register(corpus.sparkSession)
    import corpus.sparkSession.implicits._
    val vecs = corpus.select(col(idCol).as("__id"),
      transform(col(vecCol), _.cast("double")).as("__v")).cache()
    // seed: the nCells vectors with the smallest id hash — a deterministic
    // pseudo-random sample. orderBy+limit plans as TakeOrdered (per-partition
    // top-k merged on the driver), NOT a single-partition global sort, so
    // seeding scales to any corpus size.
    var cents: Seq[(Int, Seq[Double])] = vecs
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(nCells)
      .select(col("__v"))
      .as[Seq[Double]].collect().toSeq
      .zipWithIndex.map { case (v, i) => i -> v }

    for (_ <- 0 until iters) {
      // element-wise mean per cell: posexplode → avg → assemble on driver
      cents = vecs
        .withColumn("__n", sqrt(Similarity.dot(col("__v"), col("__v"))))
        .select(nearestCell(col("__v"), col("__n"), centLit(cents)).as("cell"),
          posexplode(col("__v")).as(Seq("__pos", "__x")))
        .groupBy(col("cell"), col("__pos"))
        .agg(avg(col("__x")).as("__m"))
        .as[(Int, Int, Double)].collect()
        .groupBy(_._1).toSeq
        .map { case (cell, xs) => cell -> xs.sortBy(_._2).map(_._3).toSeq }
        .sortBy(_._1)
    }
    vecs.unpersist(blocking = false)
    cents
  }

  /** Lloyd training with EXTERNALLY REPRODUCIBLE arithmetic — the
    * oracle-checkable twin of [[train]]: the seed is the `nCells`
    * smallest-id vectors (the same substrate as the fixed-centroid
    * oracles, no hash involved) and each iteration's centroid means are
    * quantized to 6 decimals before the next assignment. The quantization
    * pins the cross-engine FP surface: the only inter-engine divergence
    * (the distributed mean's merge order, ±1 ulp) is crushed by the
    * rounding, so an external engine unrolling the same iterations
    * reproduces centroids — and therefore the final assignment — exactly.
    * Cells that lose every member drop out (a group-by mirrors this).
    * Same scale shape as [[train]]: centroids are collected control data,
    * assignment is a narrow projection, one corpus scan per iteration. */
  def trainQuantized(corpus: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    GraftFunctions.register(corpus.sparkSession)
    import corpus.sparkSession.implicits._
    val vecs = corpus.select(col(idCol).as("__id"),
      transform(col(vecCol), _.cast("double")).as("__v")).cache()
    var cents: Seq[(Int, Seq[Double])] = vecs
      .orderBy(col("__id")).limit(nCells)
      .select(col("__v")).as[Seq[Double]].collect().toSeq
      .zipWithIndex.map { case (v, i) => i -> v }
    for (_ <- 0 until iters)
      cents = lloydQuantizedOnce(vecs, cents)
    vecs.unpersist(blocking = false)
    cents
  }

  /** One quantized Lloyd iteration over pre-projected (__id, __v) rows:
    * assignment against the literal centroid set, per-(cell, dim) means
    * rounded to 6 decimals (the cross-engine FP pin), empty cells drop.
    * Shared by [[trainQuantized]] and [[KmeansPar]]. */
  private[sim] def lloydQuantizedOnce(
      vecs: DataFrame,
      cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
    import vecs.sparkSession.implicits._
    vecs
      .withColumn("__n", sqrt(Similarity.dot(col("__v"), col("__v"))))
      .select(nearestCell(col("__v"), col("__n"), centLit(cents)).as("cell"),
        posexplode(col("__v")).as(Seq("__pos", "__x")))
      .groupBy(col("cell"), col("__pos"))
      .agg(round(avg(col("__x")), 6).as("__m"))
      .as[(Int, Int, Double)].collect()
      .groupBy(_._1).toSeq
      .map { case (cell, xs) => cell -> xs.sortBy(_._2).map(_._3).toSeq }
      .sortBy(_._1)
  }

  /** Deterministic k-means: returns (cell, centroid array<double>). */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            nCells: Int, iters: Int = 2): DataFrame = {
    import corpus.sparkSession.implicits._
    trainCentroids(corpus, idCol, vecCol, nCells, iters).toDF("cell", "centroid")
  }

  /** Nearest-cell id per corpus row for a FIXED centroid set — the
    * assignment substrate of the index, exposed so it can be oracle-checked
    * (and reused by incremental maintenance). Narrow projection: centroids
    * are literals, no join, no shuffle. Output: (idCol, cell). */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  cents: Seq[(Int, Seq[Double])]): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    corpus.select(col(idCol),
        transform(col(vecCol), _.cast("double")).as("__v"))
      .withColumn("__n", sqrt(Similarity.dot(col("__v"), col("__v"))))
      .select(col(idCol), nearestCell(col("__v"), col("__n"), centLit(cents)).as("cell"))
  }

  /** A built inverted-file index: the centroids (control data — kilobytes)
    * plus the corpus assignment persisted partitioned by cell, so a probe
    * is a partition-pruned read of `nProbe` directories, never a corpus
    * scan. Build once, probe many — the asymmetry is the point of IVF.
    *
    * Incremental maintenance ([[updateIndex]]) is log-structured: assignment
    * rows carry a generation `gen`; an update batch APPENDS the new vectors'
    * rows to their cells' partitions and appends (id, upto_gen) tombstones
    * under `_tombstones/` (ignored by partition discovery — underscore
    * prefix). A probe filters rows whose gen is below their id's tombstone
    * horizon, so superseded versions and deletes resolve at read with one
    * broadcast join against control-sized tombstones. Rebuild ([[buildIndex]])
    * is the compaction. */
  final case class Index(centroids: Seq[(Int, Seq[Double])], assignDir: String) {
    def nCells: Int = centroids.size
    def tombstoneDir: String = s"$assignDir/_tombstones"
  }

  /** Train centroids and persist the assignment (gen 0). */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
                 nCells: Int = 16, iters: Int = 2): Index =
    buildIndexWith(trainCentroids(corpus, idCol, vecCol, nCells, iters),
      corpus, idCol, vecCol, dir)

  /** Persist the (neighbor_id, vec, cell, gen) assignment for a FIXED
    * centroid set under `dir`, one partition directory per cell. The
    * assignment projection is narrow (centroids are literals) — the only
    * exchange is the per-cell repartition of the write, which also gives
    * one file per cell directory. */
  def buildIndexWith(cents: Seq[(Int, Seq[Double])], corpus: DataFrame,
                     idCol: String, vecCol: String, dir: String): Index = {
    GraftFunctions.register(corpus.sparkSession)
    corpus.select(col(idCol).as("neighbor_id"),
        transform(col(vecCol), _.cast("double")).as("__cv"))
      .withColumn("__cn", sqrt(Similarity.dot(col("__cv"), col("__cv"))))
      .withColumn("cell", nearestCell(col("__cv"), col("__cn"), centLit(cents)))
      .drop("__cn")
      .withColumn("gen", lit(0L))
      .repartition(cents.size, col("cell"))
      // gen is a PARTITION column (cell=…/gen=…): a change batch owns its
      // gen subdirectories, so redelivery after a crash REPLACES its own
      // partial appends (dynamic overwrite in updateIndex) — no duplicate
      // neighbor rows can reach the probe's top-k window
      .write.mode("overwrite").partitionBy("cell", "gen")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(dir)
    graft.core.GenPointer.commit(dir, 0L)
    Index(cents, dir)
  }

  /** Apply one change batch to a built index WITHOUT retraining or
    * rebuilding: new/updated vectors assign to their nearest (fixed)
    * centroid and append to that cell's partition directory under `gen`;
    * upserted and deleted ids gain a tombstone at `gen` so their older
    * rows die at probe time. `gen` must increase per batch (the engine's
    * batch id). Deletes are an id-only frame (`idCol`). */
  def updateIndex(index: Index, upserts: DataFrame, idCol: String, vecCol: String,
                  deletes: DataFrame, gen: Long): Unit = {
    val spark = upserts.sparkSession
    GraftFunctions.register(spark)
    // redelivery of an already-committed gen is a no-op
    if (graft.core.GenPointer.committed(index.assignDir) != Long.MaxValue &&
        graft.core.GenPointer.committed(index.assignDir) >= gen) return
    val assigned = upserts
      .select(col(idCol).as("neighbor_id"),
        transform(col(vecCol), _.cast("double")).as("__cv"))
      .withColumn("__cn", sqrt(Similarity.dot(col("__cv"), col("__cv"))))
      .withColumn("cell", nearestCell(col("__cv"), col("__cn"), centLit(index.centroids)))
      .drop("__cn")
      .withColumn("gen", lit(gen))
    // dynamic partition overwrite: this batch writes ONLY …/gen=<gen>
    // partitions, so a redelivered crashed batch replaces its own partial
    // appends in place — committed generations are never touched
    assigned
      .repartition(index.nCells, col("cell"))
      .write.mode("overwrite").partitionBy("cell", "gen")
      .option("partitionOverwriteMode", "dynamic")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(index.assignDir)
    graft.core.KillPoint("ivf.assign")
    // tombstones: a superseded upsert's old row may sit in a DIFFERENT cell
    // (the vector moved), which a cell-pruned probe cannot see — the
    // (id, upto_gen) horizon kills it wherever it lives
    upserts.select(col(idCol).as("neighbor_id"))
      .unionByName(deletes.select(col(idCol).as("neighbor_id")))
      .distinct()
      .withColumn("upto_gen", lit(gen))
      .write.mode("overwrite").partitionBy("upto_gen")
      .option("partitionOverwriteMode", "dynamic")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(index.tombstoneDir)
    graft.core.KillPoint("ivf.tombstones")
    // the batch becomes visible HERE, atomically — a crash between the two
    // writes above leaves it invisible (GenPointer's crash contract)
    graft.core.GenPointer.commit(index.assignDir, gen)
    graft.core.KillPoint("ivf.committed")
  }

  /** Compaction WITHOUT re-assigning any vector — the crash-consistent
    * twin of [[buildIndexWith]]-as-rebuild (which overwrites the live
    * directory in place and therefore tears on a mid-rebuild crash):
    * rewrite the surviving rows into a staging directory at the CURRENT
    * MAX generation and swap it in with [[graft.core.DirSwap]] (old copy
    * kept until the new one is in place; crashed swaps self-heal on the
    * next compact). The tombstones live INSIDE the assignment directory,
    * so the swap retires rows and horizon ATOMICALLY — probes before,
    * during (any crash prefix), and after are identical. */
  def compact(spark: org.apache.spark.sql.SparkSession, index: Index): Unit = {
    graft.core.DirSwap.heal(index.assignDir)
    val live = liveRows(index, spark.read.parquet(index.assignDir))
    val gen = live.agg(coalesce(max(col("gen")).cast("long"), lit(0L)))
      .head().getLong(0)
    // the pointer lives INSIDE assignDir, so the swap below would destroy
    // it — and after a deletes-only final batch max(live gen) < committed,
    // so re-deriving it from the rows would REGRESS it and break the
    // redelivered-committed-gen short-circuit in updateIndex. Capture the
    // pre-swap value and stamp it into STAGING, so the pointer rides the
    // swap atomically with the rows (no pointer-absent window at all).
    val target = math.max(gen,
      graft.core.GenPointer.committedOpt(index.assignDir).getOrElse(gen))
    val staging = index.assignDir + "__compacting"
    live.withColumn("gen", lit(gen))
      .repartition(index.nCells, col("cell"))
      .write.mode("overwrite").partitionBy("cell", "gen")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(staging)
    graft.core.GenPointer.commit(staging, target)
    graft.core.DirSwap.swap(staging, index.assignDir)
    graft.core.KillPoint("ivf.compact.assign")
  }

  /** Cell rows surviving the tombstone horizon AND the committed-generation
    * pointer: row.gen ≤ committed (a torn batch's appends stay invisible),
    * and row.gen ≥ max(upto_gen ≤ committed) of its id (no tombstone →
    * survives). Tombstones are control-sized; the join is a broadcast. */
  private def liveRows(index: Index, cells: DataFrame): DataFrame = {
    val spark = cells.sparkSession
    val committed = graft.core.GenPointer.committed(index.assignDir)
    val visible =
      if (committed == Long.MaxValue) cells
      else cells.filter(col("gen") <= committed)
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(index.tombstoneDir)))
      visible
    else {
      val horizon = spark.read.parquet(index.tombstoneDir)
        .filter(col("upto_gen") <= committed)
        .groupBy(col("neighbor_id")).agg(max(col("upto_gen")).as("__upto"))
      visible.join(broadcast(horizon), Seq("neighbor_id"), "left")
        .filter(col("__upto").isNull || col("gen") >= col("__upto"))
        .drop("__upto")
    }
  }

  /** ANN top-k against a built index: rank the centroid literals per query,
    * read ONLY the probed cells' partitions, exact cosine within. The probed
    * cell set is control data (≤ nCells ints), so the assignment read is
    * statically partition-pruned before any join.
    * Output: (query_id, neighbor_id, cosine, rank). */
  def probe(index: Index, queries: DataFrame, idCol: String, vecCol: String,
            k: Int, nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val cents = centLit(index.centroids)

    // per query: rank centroid literals, explode the nProbe best probes —
    // cached (and registered for release) because the probed-cell collect
    // below and the join both consume it
    val probes = graft.ops.Caches.track(queries
      .select(col(idCol).as("query_id"), transform(col(vecCol), _.cast("double")).as("__qv"))
      .withColumn("__qn", sqrt(Similarity.dot(col("__qv"), col("__qv"))))
      .select(col("query_id"), col("__qv"),
        explode(slice(reverse(array_sort(
          cellScores(col("__qv"), col("__qn"), cents))), 1, nProbe)).as("__p"))
      .select(col("query_id"), col("__qv"), col("__p").getField("cell").as("cell")))

    val probedCells: Seq[Int] =
      probes.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    val cells = liveRows(index, spark.read.parquet(index.assignDir)
      .filter(col("cell").isin(probedCells: _*)))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(probes).join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("__qv"), col("__cv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** One-shot convenience: build a throwaway index, then probe it. Use
    * [[buildIndex]] + [[probe]] anywhere the index outlives one query. The
    * throwaway directory is registered for JVM-exit cleanup (the returned
    * frame still reads from it, so it cannot be deleted eagerly). */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
           k: Int, nCells: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val dir = graft.core.TempDirs.create("graft_ivf")
    probe(buildIndex(corpus, idCol, vecCol, dir, nCells, iters),
      queries, idCol, vecCol, k, nProbe)
  }
}
