package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Every entry point (Bench,
  * Verify, the Worker, the plan tools, the test base) needs the same
  * settings, so they live here instead of in a copy per `main`. */
object Sessions {

  /** UI off, UTC, `events.ts` (parquet TIMESTAMP(NANOS)) read as long ns,
    * and `shufflePartitions` shuffle partitions. Callers add their own
    * settings (the Worker's extensions, an app name) before `getOrCreate`. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** A local session on `cpus` cores with one shuffle partition per core. */
  def local(cpus: Int): SparkSession =
    builder(s"local[$cpus]", cpus).getOrCreate()

  /** Between-query cleanup for a host that runs many queries on one
    * session (Bench, Verify, the plan tools, specs). */
  def reset(spark: SparkSession): Unit = {
    // incremental queries cache intermediates; drop them so later queries
    // don't inherit a full block manager (GC thrash skews timings).
    graft.ops.Caches.release()
    spark.catalog.clearCache()
    // streaming queries leave loaded state-store providers (plus their
    // maintenance pool) and terminated-query references behind; across
    // a 170+-query run they accumulate into measurable drag on later
    // queries. stop() unloads all providers (lazily restarted on next
    // use); resetTerminated() drops the query handles.
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.streams.resetTerminated()
    // localCheckpoint blocks of finished queries are only reaped by the
    // ContextCleaner once the driver GCs the RDD handles — without the
    // nudge they accumulate and later runs measure GC debt (observed 75s
    // vs 9s on the same incremental query).
    System.gc()
  }
}
