package graft
import graft.core.Sessions
import graft.queries.Registry
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    // optional comma-separated subset for targeted profiling runs; an
    // unknown name exits 1 before anything runs
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq.distinct)
    val queryList = only.fold(Registry.all.values.toSeq)(Registry.lookupOrExit)
      .sortBy(_.name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warm-up (scan + shuffle agg + broadcast join) so the first
    // measured query isn't charged session bring-up and JIT
    locally {
      import org.apache.spark.sql.functions._
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").count().count()
    }
    // Host calibration probe: a PINNED-SIZE workload (independent of the
    // SF dir) measured after warm-up — 16M-row parquet write once, then
    // 5× a scan→hash-shuffle→agg over it, min of 5. Its cost is a pure
    // function of the host (CPU + disk + contention), never of the code
    // under test, so host_factor = calib_sec / CalibRef lets any consumer
    // normalize cross-round totals: a total that drifts with host_factor
    // is contention; a total that drifts against a flat host_factor is a
    // real code change. CalibRef is the idle-host min recorded when the
    // probe was introduced (round 11).
    val CalibRef = 2.03
    // idle-host pulse base recorded when the pulse series was
    // introduced (round 12, quiet driver host) — the second, independent
    // normalizer the run-level calib is cross-checked against
    val PulseRef = 0.21
    val calibPath = {
      import org.apache.spark.sql.functions._
      val dir = graft.core.TempDirs.create("graft_calib")
      spark.range(0, 8L * 1000 * 1000, 1, 32)
        .select(col("id"), md5(col("id").cast("string")).as("h"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    def calibRun(): Double = {
      import org.apache.spark.sql.functions._
      val runs = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        // md5 chain makes the probe CPU-dominated (codegen'd digest work)
        // so it tracks CPU contention — the dominant shared-host noise —
        // rather than page-cache luck on the scan; 8 chained digests per
        // row stretch each task past the scheduler-jitter floor
        val chained = (1 to 8).foldLeft(col("h")) {
          case (c, _) => md5(concat(c, col("h")))
        }
        spark.read.parquet(calibPath)
          .select(col("h"), chained.as("h2"))
          .groupBy(substring(col("h2"), 1, 2).as("k"))
          .agg(count(lit(1)).as("c"), max("h").as("m"))
          // collect() (not count()) — count over a global agg lets
          // Catalyst prune the digest chain away and times only the scan
          .agg(sum(length(col("m"))), sum("c")).collect()
        (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    var calibSec = calibRun()
    // Per-query contention pulses: min-of-3 cannot see a host-contention
    // window that outlasts all three samples (round 11's phantom: a
    // 2.45 s query recorded at 11.83 s, stable across samples). A ~0.2 s
    // PINNED pulse between queries brackets each query with two host
    // readings; a query whose nearest pulses deviate >1.5× from the run's
    // own base pulse is flagged `contended` and re-sampled once at run
    // end (min-merged) — phantoms self-label instead of needing a judge
    // re-run. Pulse work is the calib probe shrunk (2 chained
    // digests over 250k rows): CPU-dominated, corpus-independent.
    val pulsePath = {
      import org.apache.spark.sql.functions._
      val dir = graft.core.TempDirs.create("graft_pulse")
      spark.range(0, 250L * 1000, 1, 8)
        .select(col("id"), md5(col("id").cast("string")).as("h"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    def pulseOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      val chained = (1 to 2).foldLeft(col("h")) {
        case (c, _) => md5(concat(c, col("h")))
      }
      // single global agg (8 map tasks + 1 reduce): the pulse times CPU
      // digest throughput, not scheduler fan-out — it has to stay ~0.2 s
      // to be affordable 261 times per run
      spark.read.parquet(pulsePath)
        .select(chained.as("h2"))
        .agg(sum(length(col("h2"))), count(lit(1))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Adaptive retry: a pulse right after a heavy query can catch OUR OWN
    // GC/JIT tail (observed p99 ~5x the run median on an idle host) — a
    // one-off spike re-measures clean on an immediate retry, while a real
    // host-contention window inflates the retry too. So only a SUSTAINED
    // deviation survives into the flag.
    var pulseFloor = Double.MaxValue
    def pulse(): Double = {
      val p1 = pulseOnce()
      val p = if (p1 > 1.5 * math.min(pulseFloor, p1))
        math.min(p1, pulseOnce()) else p1
      pulseFloor = math.min(pulseFloor, p)
      p
    }
    // a query that throws is an ERROR, never a sample: a fast failure timed
    // as a sample would lower the total
    def sampleOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] = {
      val t0 = System.nanoTime()
      val failure =
        try { fn(spark, sfDir).count(); None }
        catch { case t: Throwable => Some(s"${t.getClass.getName}: ${t.getMessage}") }
      val d = (System.nanoTime() - t0) / 1e9
      Sessions.reset(spark)
      failure.toLeft(d)
    }
    val pulses = new Array[Double](queryList.size + 1)
    pulses(0) = pulse()
    val sampled0 = queryList.zipWithIndex.map { case (q, i) =>
      // steady-state latency: three samples per query (first run may pay
      // planning and JIT; single-sample numbers vary ±30% on a shared
      // host). min is the headline; the median rides along as variance
      // metadata so a round-over-round drift can be attributed to host
      // noise (min≈median stable, spread wide) vs a real plan change
      // (min itself moves) without re-running the suite.
      // (stops at the first failure — the query is an error either way)
      val samples = (0 until 3).foldLeft[Either[String, Vector[Double]]](Right(Vector.empty)) {
        (acc, _) => acc.flatMap(v => sampleOnce(q.build).map(v :+ _))
      }.map(_.sorted)
      pulses(i + 1) = pulse()
      (q.name, samples.map(s => (s(0), s(1)))) // (min, median of 3)
    }
    // base = run MEDIAN pulse, not min: the min sits at the fast tail of
    // ordinary scheduler jitter, so 1.5x-of-min flags half the run
    // (observed 177/266 false flags); the median is the run's own
    // steady-state and a real contention window still clears 1.5x of it
    val pulseBase = pulses.sorted.apply(pulses.length / 2)
    val contendedIdx = sampled0.indices.filter { i =>
      sampled0(i)._2.isRight && math.max(pulses(i), pulses(i + 1)) > 1.5 * pulseBase
    }.toSet
    // one re-sample per flagged query at run end, min-merged: if the
    // contention window has passed, the phantom disappears from the
    // headline; if not, the flag tells the reader the min is an upper bound
    val resampled = sampled0.zipWithIndex.map { case ((name, r), i) =>
      name -> (if (!contendedIdx(i)) r else r.flatMap { case (mn, md) =>
        sampleOnce(queryList(i).build).map(again => (math.min(mn, again), md))
      })
    }
    val sampled = resampled.collect { case (name, Right((mn, md))) => (name, mn, md) }
    val errors = resampled.collect { case (name, Left(msg)) => name -> msg }
    errors.foreach { case (name, msg) => System.err.println(s"[bench] $name FAILED: $msg") }
    val contendedNames = contendedIdx.toSeq.sorted.map(i => sampled0(i)._1)
    // Run-level host factor, cross-checked against the run's OWN pulse
    // series before it becomes the record: round 12's one-shot
    // start-of-run calib hit a contention window and recorded
    // host_factor 23.22 against a pulse series topping out at ~4x —
    // internally impossible, and any consumer normalizing by it would
    // conclude the code got 20x faster. If the two independent
    // normalizers disagree by >2x in either direction, re-run the calib
    // probe now (the window has usually passed by run end) and
    // min-merge, so the emitted factor is consistent with the pulses by
    // construction; calib_reruns records that it happened.
    val pulseFactor = pulseBase / PulseRef
    val calibReruns =
      if (calibSec / CalibRef > 2 * pulseFactor ||
          pulseFactor > 2 * (calibSec / CalibRef)) {
        calibSec = math.min(calibSec, calibRun()); 1
      } else 0
    val hostFactor = calibSec / CalibRef
    val results = sampled.map { case (name, mn, _) => name -> mn }
    val medTotal = sampled.map(_._3).sum
    // The harness records only the LAST 2000 bytes of output and parses the
    // JSON line out of that window. With 95+ queries the key names alone are
    // ~1.8 KB, so a full per-query dict can never fit. Emit the slowest
    // queries first under a byte budget and fold the rest into "other" so
    // "value" stays the true total; 10 ms precision is far below shared-host
    // run-to-run variance.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val total = results.map(_._2).sum
    val sfName = new java.io.File(sfDir).getName
    // split the total into the live-drain family (streaming queries pay a
    // per-invocation checkpoint/state-store floor of 1-3 s that is CONSTANT
    // in corpus size) vs everything else — so round-over-round drift in
    // either bucket is attributable at a glance
    val streaming = queryList.filter(_.streaming).map(_.name).toSet
    val streamingSub = results.collect { case (n, v) if streaming(n) => v }.sum
    // variance metadata: med_total - value (sum of per-query median-min
    // gaps) is the run's own noise floor; a round-over-round total drift
    // smaller than this gap is jitter, not regression
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_samples":3,"med_total":${fmt(medTotal)},"calib_sec":${fmt(calibSec)},"host_factor":${fmt(hostFactor)},"host_factor_pulse":${fmt(pulseFactor)},"calib_reruns":$calibReruns,"pulse_base":${fmt(pulseBase)},"n_contended":${contendedNames.size},"streaming_sub":${fmt(streamingSub)},"batch_sub":${fmt(total - streamingSub)},"queries":{"""
    // failed queries are named, never folded into the total
    val errorsJson = errors.map { case (n, _) => s"\"$n\"" }.mkString("[", ",", "]")
    val tail =
      if (errors.isEmpty) s"""},"sf":"$sfName"}"""
      else s"""},"sf":"$sfName","errors":$errorsJson}"""
    val budget = 1850 - head.length - tail.length - 24 // room for "other"
    val entries = results.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => s"\"$k\":${fmt(v)}" }
    var used = 0
    val kept = entries.takeWhile { e =>
      val fits = used + e.length + 1 <= budget
      if (fits) used += e.length + 1
      fits
    }
    val otherSum = total - results.sortBy { case (k, v) => (-v, k) }
      .take(kept.size).map(_._2).sum
    val qs = (kept :+ s"\"other\":${fmt(otherSum)}").mkString(",")
    // Full per-query detail goes to a file (the tail window can't hold it)
    // — min AND median per query, so any drift can be resolved offline.
    // Subset runs (SPARK_GRAFT_ONLY) must not clobber the full-suite
    // baseline — they land in a sibling file instead.
    val full = results.map { case (k, v) => s"\"$k\":${fmt(v)}" }
      .mkString("{", ",", "}")
    val med = sampled.map { case (k, _, m) => s"\"$k\":${fmt(m)}" }
      .mkString("{", ",", "}")
    // full detail also carries the raw pulse series (261 readings, ~2 KB)
    // and the contended list, so any per-query number can be judged against
    // the host state that bracketed it without re-running anything
    val contendedJson = contendedNames.map(n => s"\"$n\"").mkString("[", ",", "]")
    val pulsesJson = pulses.map(fmt).mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_samples":3,"med_total":${fmt(medTotal)},"calib_sec":${fmt(calibSec)},"host_factor":${fmt(hostFactor)},"host_factor_pulse":${fmt(pulseFactor)},"calib_reruns":$calibReruns,"pulse_base":${fmt(pulseBase)},"contended":$contendedJson,"pulses":$pulsesJson,"streaming_sub":${fmt(streamingSub)},"batch_sub":${fmt(total - streamingSub)},"queries":$full,"queries_med":$med,"errors":$errorsJson,"sf":"$sfName"}"""
    val outFile = if (only.isEmpty) "BENCH_FULL.json" else "BENCH_SUBSET.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (fullLine + "\n").getBytes("UTF-8"))
    // Stop Spark BEFORE printing: executor/shutdown log lines must not land
    // between the JSON line and sbt's trailing "[success]" line, or they eat
    // the tail window.
    spark.stop()
    println(head + qs + tail)
    System.out.flush()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} of ${queryList.size} queries FAILED")
      sys.exit(1)
    }
  }
}
