package graft.queries

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** The input-table handle contract: a table dir is immutable for the life
  * of a session, so one session shares one analyzed handle; a new session
  * re-lists from disk; handles of stopped sessions do not outlive the next
  * lookup, whether that lookup hits or misses. */
class InputsSpec extends AnyFunSuite with SparkTestBase {

  private def tableDir(): String = {
    val dir = graft.core.TempDirs.create("graft_inputs_spec")
    write(dir, 0L, 3L, "overwrite")
    dir
  }

  private def write(dir: String, from: Long, to: Long, mode: String): Unit =
    spark.range(from, to).coalesce(1).write.mode(mode).parquet(s"$dir/x.parquet")

  test("within one session t returns the same analyzed handle") {
    val dir = tableDir()
    val a = Inputs.t(spark, dir, "x")
    assert(Inputs.t(spark, dir, "x") eq a)
    assert(a.count() === 3L)
  }

  test("a new session re-lists and sees a file added between sessions") {
    val dir = tableDir()
    assert(Inputs.t(spark, dir, "x").count() === 3L)
    write(dir, 3L, 5L, "append")
    // same session: the listing is the one taken at first use
    assert(Inputs.t(spark, dir, "x").count() === 3L)
    assert(Inputs.t(spark.newSession(), dir, "x").count() === 5L)
  }

  test("no handle owned by a stopped session survives the next lookup") {
    val dir = tableDir()
    val stopped = scala.collection.mutable.Set.empty[org.apache.spark.sql.SparkSession]
    val handles = new Inputs.TableHandles(s => !stopped(s))
    val (a, b, c) = (spark.newSession(), spark.newSession(), spark.newSession())
    handles(a, dir, "x")
    handles(b, dir, "x")
    stopped += a
    handles(b, dir, "x") // a hit
    assert(handles.owners === Set(b))
    stopped += b
    handles(c, dir, "x") // a miss
    assert(handles.owners === Set(c))
  }
}
