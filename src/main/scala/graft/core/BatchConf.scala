package graft.core

import org.apache.spark.sql.SparkSession

/** Serializes bodies that tune session-global SQL conf for batch-sized work.
  *
  * The incremental batch paths ([[graft.incr.BucketedRun]],
  * [[graft.incr.IncrementalRun]]) and the connected-components loop
  * ([[graft.dedup.Components]]) all run tiny-data bodies where AQE's
  * per-stage job splitting and a session-wide shuffle width only add fixed
  * overhead (measured ~30 jobs/batch with AQE vs ~10 without), so they set
  * `spark.sql.adaptive.enabled=false` and a narrow
  * `spark.sql.shuffle.partitions` around the body and restore afterwards.
  *
  * Those settings are SESSION-GLOBAL: two such bodies interleaving their
  * save/set/restore from different threads could clobber the session's
  * steady-state settings permanently. This lock makes the mutation safe by
  * serializing all tuned bodies per session.
  *
  * Deliberate limitation (documented contract): an UNRELATED foreground
  * query running concurrently on the same session still observes the tuned
  * settings while a body holds the lock. Hosts that interleave ad-hoc
  * queries with streaming batches should run them on `spark.newSession()`
  * (separate conf, shared cache/context) — the engine never requires the
  * tuned settings outside the locked body.
  */
object BatchConf {

  // one lock per session so independent sessions (spark.newSession()) tune
  // and run concurrently; identity semantics are what we want here
  private val locks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Object]())

  private def lockFor(spark: SparkSession): Object = {
    val m = locks
    m.synchronized {
      var l = m.get(spark)
      if (l == null) { l = new Object; m.put(spark, l) }
      l
    }
  }

  /** Static shuffle width of a tuned body. */
  private val ShufflePartitions = 8

  /** Run `body` with AQE off and [[ShufflePartitions]] static shuffle width,
    * restoring the previous settings afterwards. Reentrant per thread. */
  def withBatchTuning[T](spark: SparkSession)(body: => T): T =
    lockFor(spark).synchronized {
      val aqeKey = "spark.sql.adaptive.enabled"
      val shufKey = "spark.sql.shuffle.partitions"
      val aqePrev = spark.conf.get(aqeKey, "true")
      val shufPrev = spark.conf.get(shufKey)
      spark.conf.set(aqeKey, "false")
      spark.conf.set(shufKey, ShufflePartitions.toString)
      try body
      finally {
        spark.conf.set(aqeKey, aqePrev)
        spark.conf.set(shufKey, shufPrev)
      }
    }
}
