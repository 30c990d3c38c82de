package graft.incr

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Notification-queue introspection.
  *
  * The reference exposes its listener queue as queryable resources: a
  * `POST <type>/listeners` creates a listener, and each pending change is a
  * notification resource that can be listed and GET-ted until the consumer
  * deletes it (listeners.py:37-40, tests/test_notifications.py:19-77). This
  * engine collapses listeners into Structured Streaming sources (SURVEY
  * §1.3/§1.4), which covers delivery — but not LOOKING AT the queue. This
  * view closes that gap: one row per retry-ledger entry, shaped like the
  * reference's notification record (resource type / id / change kind /
  * sequence) plus the A18 state machine's bookkeeping — how many retries a
  * pending change has burned, when it first failed, and when its backoff
  * gate opens ([[RetryLedger.gateOpensAtMs]], the instant [[RetryLedger.due]]
  * opens it). Dead-lettered changes appear with `state = 'dead'` and null
  * retry bookkeeping (the ledger keeps only the change itself for the audit
  * log).
  *
  * The frame is driver-built from control data: the ledger is by
  * construction small (it holds FAILURES, not the feed — the reference's
  * unacked queue, processor.py:437-471), so `createDataFrame` over its
  * entries is the honest shape; the 100 TB feed itself never lands here.
  */
object Notifications {

  val schema: StructType = StructType(Seq(
    StructField("state", StringType),
    StructField("seq", LongType, nullable = false),
    StructField("change", StringType),
    StructField("resource_type", StringType),
    StructField("resource_id", StringType),
    StructField("retries", IntegerType),
    StructField("first_failed_at_ms", LongType),
    StructField("gate_opens_at_ms", LongType)))

  /** One row per pending retry and per dead letter. */
  def frame(spark: SparkSession, pending: Seq[FailedChange], dead: Seq[Change]): DataFrame = {
    val pendRows = pending.map { f =>
      Row("pending", f.change.seq, f.change.change, f.change.resourceType,
        f.change.resourceId, f.retries, f.firstFailedAtMs, RetryLedger.gateOpensAtMs(f))
    }
    val deadRows = dead.map { c =>
      Row("dead", c.seq, c.change, c.resourceType, c.resourceId, null, null, null)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame((pendRows ++ deadRows).asJava, schema)
  }

  /** The same queue as tab-separated text lines (header first) — the
    * Worker's `--queue` listing needs no SparkSession for a read-only
    * peek at a store's committed ledger. Dead letters print `-` for the
    * retry bookkeeping the ledger does not keep. */
  def lines(pending: Seq[FailedChange], dead: Seq[Change]): Seq[String] = {
    val header = "state\tseq\tchange\tresource_type\tresource_id\t" +
      "retries\tfirst_failed_at_ms\tgate_opens_at_ms"
    val p = pending.sortBy(f => (f.change.resourceType, f.change.resourceId, f.change.seq))
      .map { f =>
        s"pending\t${f.change.seq}\t${f.change.change}\t${f.change.resourceType}\t" +
          s"${f.change.resourceId}\t${f.retries}\t${f.firstFailedAtMs}\t" +
          RetryLedger.gateOpensAtMs(f)
      }
    val d = dead.sortBy(c => (c.resourceType, c.resourceId, c.seq))
      .map(c => s"dead\t${c.seq}\t${c.change}\t${c.resourceType}\t${c.resourceId}\t-\t-\t-")
    header +: (p ++ d)
  }
}
