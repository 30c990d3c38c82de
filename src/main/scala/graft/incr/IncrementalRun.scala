package graft.incr

import graft.core.Pipeline
import graft.ops.{MapOp, ReduceOp}
import org.apache.spark.sql.DataFrame

/** Derived-table state: one DataFrame per map / reduce target. */
final case class MrState(tables: Map[String, DataFrame]) {
  def apply(name: String): DataFrame = tables(name)
  def updated(name: String, df: DataFrame): MrState = MrState(tables + (name -> df))
}

/** The recompute oracle: every derived table built from scratch over the
  * current source snapshots — map each source, union per map target, reduce
  * per reduce target.
  *
  * The incremental engine ([[BucketedRun]], driven by
  * [[BucketedStreamingEngine]]) exists to keep the stored tables exactly
  * equal to this recompute after every batch (the invariant the reference's
  * whole notification loop maintains, processor.py:99-227). So this object
  * is the ground truth that specs and `perfbench` compare the store against,
  * the cold-start and handler-resync primitive ([[BucketedRun.initialize]],
  * [[BucketedRun.resyncFull]], A16/A17), and the staged resync of `Jobs`.
  *
  * Provenance columns (`_mr_source_type`, `_mr_source_id`) ride along on
  * every map row, so a map target fed by several sources (the `join()`
  * shape) keeps each row's origin.
  */
object IncrementalRun {
  /** Current-state reader for source tables (the reference re-fetches by id
    * on every notification — clients/qvarn.py:111-137). */
  type Sources = String => DataFrame

  /** One map target over the current sources: the union of its map specs. */
  private[graft] def mapTable(pipeline: Pipeline, target: String,
                              sources: Sources): DataFrame =
    pipeline.mapSpecsByTarget(target).map(m => MapOp(m, sources(m.source)))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Full batch recompute over current snapshots — the ground truth the
    * incremental path must equal (and the A16/A17 resync primitive). */
  def recompute(pipeline: Pipeline, sources: Sources, timestampNs: Long = 0L): MrState = {
    val mapTables = pipeline.mapTargets.map { t =>
      t -> mapTable(pipeline, t, sources)
    }.toMap
    val reduceTables = pipeline.reduces.map { r =>
      r.target -> ReduceOp(r, mapTables(r.source), timestampNs)
    }.toMap
    MrState(mapTables ++ reduceTables)
  }
}
