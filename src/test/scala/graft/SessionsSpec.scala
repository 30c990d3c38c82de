package graft

import graft.core.Sessions
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session decision: every main builds its SparkSession through
  * [[Sessions]], so the shared settings (UTC, `nanosAsLong` for
  * `events.ts`, UI off) cannot drift between entry points again. */
class SessionsSpec extends AnyFunSuite with SparkTestBase {

  test("src/main has no SparkSession.builder call outside core/Sessions.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from repo root: $root")
    val home = root.resolve("graft/core/Sessions.scala")
    val w = Files.walk(root)
    val offenders =
      try w.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != home)
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(_.toString).toList.sorted
      finally w.close()
    assert(offenders.isEmpty,
      s"SparkSession.builder in ${offenders.mkString(", ")} — use Sessions.builder")
    assert(Files.readString(home).contains("SparkSession.builder"))
  }

  test("the shared session carries the shared settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("reset drops cached frames and terminated stream handles") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val df = spark.range(10).toDF("id")
    df.cache().count()
    assert(df.storageLevel != StorageLevel.NONE)
    val mem = MemoryStream[Long](spark)
    mem.addData(1L, 2L)
    val q = mem.toDS().writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.streams.awaitAnyTermination(0), "the drained query terminated")
    Sessions.reset(spark)
    assert(df.storageLevel == StorageLevel.NONE)
    assert(!spark.streams.awaitAnyTermination(0),
      "resetTerminated must forget the finished query")
  }
}
