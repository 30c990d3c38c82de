package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `trace` groups the spans of one batch or one
  * search; `parent` names the enclosing span (empty at the root). */
final case class Span(name: String, trace: String, parent: String,
                      startNs: Long, endNs: Long)

/** Spans are kept in memory and written once, at the end of a traced run.
  * While disabled it times the same calls but keeps nothing. */
final class Tracer(@volatile var enabled: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Time `body`; returns its result and duration in ns. */
  def span[T](name: String, trace: String, parent: String = "")(body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    if (enabled) spans.add(Span(name, trace, parent, t0, t1))
    (r, t1 - t0)
  }

  /** Self time of a span: its duration minus the union of its children. */
  def selfNs(s: Span): Long = {
    val kids = spans.asScala.filter(k => k.trace == s.trace && k.parent == s.name)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L; var cur = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, cur)
      if (b > from) { covered += b - from; cur = b }
    }
    (s.endNs - s.startNs) - covered
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      sb.append(Json.obj(Seq("name" -> Json.str(s.name), "trace" -> Json.str(s.trace),
        "parent" -> Json.str(s.parent), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "self_ns" -> selfNs(s).toString))).append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark job record, attributed to the SQL execution that caused it. */
final class JobRec(val id: Int, val startMs: Long, val role: String,
                   val rootExecId: Long, val broadcast: Boolean) {
  @volatile var endMs: Long = -1L
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong // written
  val inputBytes = new AtomicLong
  def durMs: Long = if (endMs < 0) 0L else endMs - startMs
}

/** The benchmark's own SparkListener. Every job is attributed through its
  * `spark.sql.execution.root.id` property to the call site of the root SQL
  * execution (stage names alone carry pool-thread call sites for broadcast
  * and staging work). The thread-inherited `perfbench.role` property tells
  * writer jobs from reader jobs. */
final class JobRecorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** execution id -> call-site description */
  val execSite = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execSite.put(e.executionId, e.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val root = prop("spark.sql.execution.root.id").map(_.toLong).getOrElse(exec)
    // broadcast exchanges run as jobs of their parent execution on a pool
    // thread, under a job description of their own
    val rec = new JobRec(e.jobId, e.time, prop(JobRecorder.RoleKey).getOrElse("other"), root,
      prop("spark.job.description").exists(_.startsWith("broadcast exchange")))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        j.runMs.addAndGet(m.executorRunTime)
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }

  /** Call site of the job's root SQL execution (e.g. `collect at X.scala:1`). */
  def site(j: JobRec): String =
    Option(execSite.get(j.rootExecId)).getOrElse("(no sql execution)")

  /** Jobs of `role` that started inside [fromMs, toMs]. */
  def jobsIn(role: String, fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.role == role && j.startMs >= fromMs && j.startMs <= toMs)
      .toSeq.sortBy(_.id)
}

object JobRecorder {
  val RoleKey = "perfbench.role"
}

/** Minimal JSON writing (values are pre-rendered). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
