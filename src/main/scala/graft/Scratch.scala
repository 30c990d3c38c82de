package graft

import graft.core.Sessions

/** Smoke tool: exercises the driver contract exactly as the driver does —
  * `SparkEntry.entry` on sf0.001 must return rows > 0. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_SMOKE rows=$n schema=${df.schema.map(_.name).mkString(",")}")
    df.show(3, false)
    spark.stop()
  }
}
