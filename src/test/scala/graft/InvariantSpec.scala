package graft

import graft.core._
import graft.incr._
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The invariant the whole engine exists to maintain (SURVEY §5):
  * BucketedRun.applyChanges(store, changes) ≡ recompute(snapshot') for
  * random change sequences. Raw ScalaCheck (no scalatestplus bridge in the
  * offline cache). */
class InvariantSpec extends AnyFunSuite with SparkTestBase {
  import MrSchema._
  import spark.implicits._

  private val pipeline = Pipeline(
    maps = Seq(MapSpec("src", "m", 1, idCol = "id",
      fn = MapFns.item("k", Some("v"), idCol = "id"))),
    reduces = Seq(ReduceSpec("m", "r", 1, ExprReduce(sum))))

  private val ids = (0 until 8).map(i => s"id$i")
  private val keys = Seq("k1", "k2", "k3")

  // a step either upserts (id, key, value) or deletes an id
  private case class Step(id: String, op: String, key: String, v: Double)
  private val genStep: Gen[Step] = for {
    id <- Gen.oneOf(ids)
    op <- Gen.frequency(3 -> Change.Updated, 1 -> Change.Deleted)
    k <- Gen.oneOf(keys)
    v <- Gen.chooseNum(1, 50).map(_.toDouble)
  } yield Step(id, op, k, v)

  private def toDf(m: Map[String, (String, Double)]): DataFrame =
    if (m.isEmpty) Seq.empty[(String, String, Double)].toDF("id", "k", "v")
    else m.toSeq.map { case (id, (k, v)) => (id, k, v) }.toDF("id", "k", "v")

  private def reducedOf(df: DataFrame): Map[String, Double] =
    df.select(col(Key), col(Value)).as[(String, Double)].collect().toMap

  test("incremental(state, changes) == recompute(snapshot') on random batches") {
    val prop = Prop.forAll(Gen.listOfN(2, Gen.listOfN(4, genStep))) { batches =>
      var snapshot = Map("id0" -> ("k1", 3.0), "id1" -> ("k2", 4.0))
      var data = toDf(snapshot)
      val sources: IncrementalRun.Sources = _ => data
      val store = new BucketedStateStore(
        Files.createTempDirectory("graft_invariant").toString, 4)
      BucketedRun.initialize(pipeline, sources, store)
      var ok = true
      var batchNo = 0L
      for (batch <- batches if ok) {
        batchNo += 1
        // apply the steps to the "store" (last step per id wins)
        for (s <- batch) {
          snapshot = if (s.op == Change.Deleted) snapshot - s.id
                     else snapshot + (s.id -> (s.key, s.v))
        }
        data = toDf(snapshot)
        val cs = batch.zipWithIndex.map { case (s, i) =>
          Change(i.toLong, if (s.op == Change.Deleted) Change.Deleted else Change.Updated,
            "src", s.id)
        }
        BucketedRun.applyChanges(spark, pipeline, sources, store, cs, batchNo, batchId = batchNo)
        val expect = reducedOf(IncrementalRun.recompute(pipeline, sources)("r"))
        val got = reducedOf(store.table(spark, "r"))
        ok = got == expect
      }
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
