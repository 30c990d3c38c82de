package graft.incr

import java.nio.charset.StandardCharsets
import java.util.Base64

/** A failed notification awaiting retry — the reference's FailedNotification
  * (processor.py:37-44): `retries` counts retry attempts used so far and
  * `firstFailedAtMs` anchors the backoff gates (the reference keeps the
  * original processed_at across retries, processor.py:273-280). */
final case class FailedChange(change: Change, retries: Int, firstFailedAtMs: Long)

/** A18 — the per-notification retry/dead-letter state machine of
  * [[BucketedStreamingEngine]] (reference: processor.py:261-304):
  *
  *   - failures are tracked PER NOTIFICATION, never per batch;
  *   - a failed record retries no sooner than [[RetryLedger.gateOpensAtMs]]
  *     (0.25 s, then 1.5 s after its FIRST failure — the reference keeps the
  *     original processed_at across retries, processor.py:273-280);
  *   - after the `maxRetries`-th retry fails the record drops to the
  *     dead-letter log; `maxRetries = 0` dead-letters on the FIRST failure
  *     (no retry attempts at all — 0 and 1 are distinct settings);
  *   - a success clears its failure entry (_report_success,
  *     processor.py:255-259), including any OLDER pending change of the same
  *     id (replaying a superseded notification would undo newer state).
  *
  * The ledger serializes to a line-oriented payload so the engine can
  * persist it inside its store commit and resume the backoff schedule
  * after a crash — the durability the reference gets from failed
  * notifications staying unacked in its queue (processor.py:437-471).
  *
  * Not thread-safe: callers serialize batches (the engine holds a batch
  * lock around [[record]]).
  */
final class RetryLedger(val maxRetries: Int) {

  private var pendingMap: Map[(String, String, Long), FailedChange] = Map.empty
  private var dead: List[Change] = Nil

  def pending: Seq[FailedChange] = pendingMap.values.toSeq
  def deadLetters: List[Change] = dead

  private def key(c: Change): (String, String, Long) =
    (c.resourceType, c.resourceId, c.seq)

  /** Failures whose backoff gate is open at `now`. */
  def due(now: Long): Seq[FailedChange] =
    pendingMap.values.filter(f => now >= RetryLedger.gateOpensAtMs(f)).toSeq

  /** Post-batch bookkeeping. `work` is everything attempted this batch
    * (due retries ++ fresh changes), `failed` the subset that failed, `due`
    * the retries whose gates were open when the batch started. */
  def record(work: Seq[Change], failed: Seq[Change], due: Seq[FailedChange], now: Long): Unit = {
    val failedKeys = failed.map(key).toSet
    // successes clear their failure entries — including any OLDER pending
    // change for the same id: once a newer change applied (current source
    // state re-fetched), replaying a stale earlier notification would un-do
    // it and diverge from the recompute
    val succeededMax: Map[(String, String), Long] = work
      .filterNot(c => failedKeys.contains(key(c)))
      .groupBy(c => (c.resourceType, c.resourceId))
      .map { case (k, cs) => k -> cs.map(_.seq).max }
    pendingMap = pendingMap.filter { case ((t, i, seq), _) =>
      succeededMax.get((t, i)).forall(_ < seq)
    }
    // a failed change superseded by a SUCCEEDED newer change of the same id
    // is dropped outright (retrying it later would undo the newer state)
    for (c <- failed
         if succeededMax.get((c.resourceType, c.resourceId)).forall(_ < c.seq)) {
      pendingMap.get(key(c)) match {
        case None =>
          if (maxRetries <= 0) dead ::= c // retries disabled: straight to dead-letter
          else pendingMap += key(c) -> FailedChange(c, retries = 0, firstFailedAtMs = now)
        case Some(f) if due.exists(d => key(d.change) == key(c)) =>
          // a due retry failed: use up one retry, or drop after the last
          if (f.retries + 1 >= maxRetries) {
            pendingMap -= key(c)
            dead ::= c
          } else
            pendingMap += key(c) -> f.copy(retries = f.retries + 1)
        case Some(_) => // failed again before its gate opened — unchanged
      }
    }
  }

  // ---- persistence --------------------------------------------------------

  /** Line-oriented payload. EVERY free-form field (change kind, resource
    * type, resource id) is base64'd: a raw '|' would shift fields, and —
    * the sharper edge — base64("") is "" and `split('|')` DROPS trailing
    * empty strings, so an empty trailing field would change the arity and
    * crash restore on a payload already committed inside the store
    * manifest (a permanent boot failure). Splitting with limit -1 keeps
    * empties; b64 keeps separators out of the data. */
  def serialize: String = {
    def b64(s: String) = Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
    val sb = new StringBuilder
    pendingMap.values.toSeq.sortBy(f => key(f.change)).foreach { f =>
      sb.append(s"pending|${f.change.seq}|${f.retries}|${f.firstFailedAtMs}|" +
        s"${b64(f.change.change)}|${b64(f.change.resourceType)}|${b64(f.change.resourceId)}\n")
    }
    dead.reverse.foreach { c => // reverse: `dead` is a prepend list
      sb.append(s"dead|${c.seq}|${b64(c.change)}|${b64(c.resourceType)}|${b64(c.resourceId)}\n")
    }
    sb.toString
  }

  private def load(payload: String): Unit = {
    def un(s: String) = new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
    payload.linesIterator.foreach {
      case l if l.startsWith("pending|") =>
        val Array(_, seq, retries, first, change, t, i) = l.split("\\|", -1)
        val c = Change(seq.toLong, un(change), un(t), un(i))
        pendingMap += key(c) -> FailedChange(c, retries.toInt, first.toLong)
      case l if l.startsWith("dead|") =>
        val Array(_, seq, change, t, i) = l.split("\\|", -1)
        dead ::= Change(seq.toLong, un(change), un(t), un(i))
      case _ => // unknown line — forward compatibility
    }
    // lines were written oldest-first and prepended here, so `dead` is back
    // to its in-memory newest-first order — no extra reverse
  }
}

object RetryLedger {
  /** Delay from a record's first failure to the gate of its n-th retry; the
    * last entry repeats for any further retry. */
  private val BackoffMs: Seq[Long] = Seq(250L, 1500L)

  /** The instant `f`'s next retry may run — [[RetryLedger.due]]'s gate and
    * the `gate_opens_at_ms` that [[Notifications]] publishes. */
  def gateOpensAtMs(f: FailedChange): Long =
    f.firstFailedAtMs + BackoffMs(math.min(f.retries, BackoffMs.size - 1))

  def restore(maxRetries: Int, payload: String): RetryLedger = {
    val l = new RetryLedger(maxRetries)
    l.load(payload)
    l
  }
}
