package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for specs. */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  def sf(name: String) =
    spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
}

object SparkTestBase {
  // one session for the whole forked test JVM
  lazy val session: SparkSession = graft.core.Sessions.builder("local[4]", 4)
    .appName("graft-test")
    .getOrCreate()
}
