package graft

import graft.core.Sessions
import graft.queries.Registry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB wall-time breakdown of a named SparkEntry query: prints every
  * Spark job the query triggers (description, stage count, duration) so a
  * multi-action query's cost distributes to the action that pays it.
  * Usage: runMain graft.ProbeJobs <sfDir> <name> [rounds=2] */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val query = Registry.lookupOrExit(Seq(args(1))).head
    val name = query.name
    val rounds = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse(js.stageInfos.map(_.name).distinct.mkString(" | ")
            .take(160))
        starts.put(js.jobId, (System.nanoTime(), desc, js.stageIds.size))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc, nst) =>
          val dt = (System.nanoTime() - t0) / 1e9
          lines.add(f"[job] ${je.jobId}%4d $dt%7.2f s  stages=$nst%-3d $desc")
        }
      }
    })

    (0 until rounds).foreach { r =>
      lines.clear()
      val t0 = System.nanoTime()
      val n = query.build(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; give the bus a beat
      Thread.sleep(300)
      println(s"--- $name round $r: total ${f"$total%.2f"} s (n=$n)")
      lines.forEach(l => println(l))
      Sessions.reset(spark)
    }
    spark.stop()
  }
}
