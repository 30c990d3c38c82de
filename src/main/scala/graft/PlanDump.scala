package graft

import graft.core.Sessions
import graft.queries.Registry
import org.apache.spark.sql.execution.FormattedMode

/** Per-query `.explain("formatted")` dump for the optimization-round plan
  * records: `runMain graft.PlanDump <sfDir> <outDir> <suffix> <q,q,…>`
  * writes `<outDir>/<query>_<suffix>.txt` per query. The query is driven
  * eagerly first (collect) so AQE's final adapted plan is the one printed.
  * Streaming drains print the post-drain read (their micro-batch plans are
  * not capturable this way) — noted in the file header. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, namesCsv) = args.take(4)
    val selected = Registry.lookupOrExit(namesCsv.split(",").toSeq)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // NonFatal only — an OOM must kill the run, not land as a fake plan
    // record; any per-query failure makes the exit nonzero so a plan
    // audit can't mistake "PLAN ERROR" artifacts for captured plans
    var failures = 0
    for (q <- selected; name = q.name) {
      val text = try {
        val df = q.build(spark, sfDir)
        df.collect() // drive AQE to the final plan
        df.queryExecution.explainString(FormattedMode)
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures += 1
          s"PLAN ERROR: ${e.getMessage}"
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        (s"== $name @ $sfDir ==\n" + text).getBytes("UTF-8"))
      println(s"PLANDUMP $name -> $outDir/${name}_$suffix.txt")
      Sessions.reset(spark)
    }
    spark.stop()
    if (failures > 0) {
      System.err.println(s"PLANDUMP FAILURES: $failures of ${selected.size}")
      sys.exit(1)
    }
  }
}
