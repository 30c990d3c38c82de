package graft

import graft.core._
import graft.incr._
import graft.ops.{MapOp, ReduceOp}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A5/A6 incremental + A12/A13/A15 lifecycle — reproduces the reference's
  * golden-state e2e tests (tests/test_mapreduce.py:279-381 CRUD,
  * tests/test_processor.py:108-157 empty-group delete, 160-232 version
  * barrier, 275-306 duplicate dedup) on synthetic data, through the
  * bucketed engine's driver-collected batch path. */
class IncrementalSpec extends AnyFunSuite with SparkTestBase {
  import MrSchema._
  import spark.implicits._

  private val pipeline = Pipeline(
    maps = Seq(MapSpec("src", "m", 1, idCol = "id",
      fn = MapFns.item("k", Some("v"), idCol = "id"))),
    reduces = Seq(ReduceSpec("m", "r", 1, ExprReduce(sum))))

  private def srcDf(rows: (String, String, Double)*): DataFrame =
    rows.toDF("id", "k", "v")

  private def changes(cs: (Long, String, String)*): Seq[Change] =
    cs.map { case (seq, op, id) => Change(seq, op, "src", id) }

  private def newStore(): BucketedStateStore =
    new BucketedStateStore(Files.createTempDirectory("graft_incr").toString, 8)

  /** One driver-path batch; `batchId` doubles as the batch timestamp. */
  private def applyBatch(p: Pipeline, sources: IncrementalRun.Sources,
                         store: BucketedStateStore, batchId: Long,
                         cs: Seq[Change]): Unit =
    BucketedRun.applyChanges(spark, p, sources, store, cs, batchId, batchId)

  private def reducedOf(df: DataFrame): Map[String, Double] =
    df.select(col(Key), col(Value)).as[(String, Double)].collect().toMap

  private def reduced(store: BucketedStateStore): Map[String, Double] =
    reducedOf(store.table(spark, "r"))

  private def recomputed(p: Pipeline, sources: IncrementalRun.Sources): Map[String, Double] =
    reducedOf(IncrementalRun.recompute(p, sources)("r"))

  test("create → update → delete lifecycle keeps reduce equal to recompute") {
    var data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0), ("c", "k2", 5.0))
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(pipeline, sources, store)
    assert(reduced(store) == Map("k1" -> 3.0, "k2" -> 5.0))

    // update: b moves from k1 to k2 with new value
    data = srcDf(("a", "k1", 1.0), ("b", "k2", 7.0), ("c", "k2", 5.0))
    applyBatch(pipeline, sources, store, 1L, changes((1, Change.Updated, "b")))
    assert(reduced(store) == Map("k1" -> 1.0, "k2" -> 12.0))
    assert(reduced(store) == recomputed(pipeline, sources))

    // create: new record d lands in k1
    data = data.union(srcDf(("d", "k1", 10.0)))
    applyBatch(pipeline, sources, store, 2L, changes((2, Change.Created, "d")))
    assert(reduced(store) == Map("k1" -> 11.0, "k2" -> 12.0))
    assert(reduced(store) == recomputed(pipeline, sources))

    // delete: c gone; k2 keeps b only
    data = srcDf(("a", "k1", 1.0), ("b", "k2", 7.0), ("d", "k1", 10.0))
    applyBatch(pipeline, sources, store, 3L, changes((3, Change.Deleted, "c")))
    assert(reduced(store) == Map("k1" -> 11.0, "k2" -> 7.0))
    assert(reduced(store) == recomputed(pipeline, sources))
  }

  test("deleting the last record of a key deletes the reduce output row") {
    var data = srcDf(("a", "k1", 1.0), ("b", "k2", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(pipeline, sources, store)
    data = srcDf(("a", "k1", 1.0))
    applyBatch(pipeline, sources, store, 1L, changes((1, Change.Deleted, "b")))
    assert(reduced(store) == Map("k1" -> 1.0)) // k2 row gone, not 0
  }

  test("A13: tombstones are purged after the key's reduce succeeds") {
    var data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(pipeline, sources, store)
    data = srcDf(("a", "k1", 1.0))
    applyBatch(pipeline, sources, store, 1L, changes((1, Change.Deleted, "b")))
    // map table holds no tombstoned rows once the reduce has run
    val m = store.table(spark, "m")
    assert(m.filter(col(Deleted)).count() == 0)
    assert(m.count() == 1)
    // and the index was purged with them: exactly the live rows' entries
    def triples(df: DataFrame) = df.select(col(SourceType), col(SourceId), col(Key))
      .as[(String, String, String)].collect().toSet
    assert(triples(store.table(spark, BucketedRun.indexName("m"))) == triples(m))
    assert(triples(m) == Set(("src", "a", "k1")))
  }

  test("A15: a key with live rows at a stale handler version is postponed") {
    val data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0), ("c", "k2", 5.0))
    val sources: IncrementalRun.Sources = _ => data
    // build map table where b's row is stale (version 0 ≠ handler version 1)
    val fresh = MapOp(pipeline.maps.head, data.filter(col("id") =!= "b"))
    val stale = MapOp(pipeline.maps.head.copy(version = 1), data.filter(col("id") === "b"))
      .withColumn(Version, lit(0))
    val m = fresh.unionByName(stale)
    val store = newStore()
    store.initialize(Map(
      "m" -> (m, Key),
      BucketedRun.indexName("m") ->
        (m.select(col(SourceType), col(SourceId), col(Key)).distinct(), SourceId),
      "r" -> (ReduceOp(pipeline.reduces.head, fresh), Key)))
    applyBatch(pipeline, sources, store, 1L, changes((1, Change.Updated, "c")))
    // k2 re-reduced; k1 output unchanged from before (a=1.0 only, since the
    // initial reduce saw only fresh rows)
    assert(reduced(store) == Map("k1" -> 1.0, "k2" -> 5.0))
    // a touches k1, but k1 still has b at stale version → k1 postponed
    applyBatch(pipeline, sources, store, 2L, changes((2, Change.Updated, "a")))
    // k1 still has the stale b row → still postponed: value stays 1.0
    assert(reduced(store) == Map("k1" -> 1.0, "k2" -> 5.0))
  }

  test("A12: duplicate reduce rows collapse newest-wins") {
    val dup = Seq(
      ("k1", 10.0, 1, 100L),
      ("k1", 20.0, 1, 200L), // newer wins
      ("k2", 5.0, 1, 50L)
    ).toDF(Key, Value, Version, Timestamp)
    val out = graft.ops.DedupOp.newestWins(dup, Seq(Key), Timestamp)
      .select(col(Key), col(Value)).as[(String, Double)].collect().toMap
    assert(out == Map("k1" -> 20.0, "k2" -> 5.0))
  }

  test("at-least-once feed: duplicate + out-of-order notifications are safe") {
    var data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(pipeline, sources, store)
    data = srcDf(("a", "k1", 4.0), ("b", "k1", 2.0))
    // same id notified three times, out of seq order
    applyBatch(pipeline, sources, store, 1L,
      changes((1, Change.Updated, "a"), (3, Change.Updated, "a"), (2, Change.Updated, "a")))
    assert(reduced(store) == Map("k1" -> 6.0))
    // an older delete of b arriving after a newer update of b in the same
    // batch loses to the update (newest seq wins); the redelivered batch id
    // is then a no-op
    applyBatch(pipeline, sources, store, 2L,
      changes((5, Change.Updated, "b"), (4, Change.Deleted, "b")))
    assert(reduced(store) == Map("k1" -> 6.0))
    applyBatch(pipeline, sources, store, 2L, changes((6, Change.Deleted, "b")))
    assert(reduced(store) == Map("k1" -> 6.0))
    assert(store.committedBatch.contains(2L))
  }

  test("golden worker flow: create (1,1)(1,2)(1,3)→6, update two→9, delete one→4") {
    // reference tests/scripts/test_worker.py:98-116 transposed
    var data = srcDf(("a", "1", 1.0), ("b", "1", 2.0), ("c", "1", 3.0))
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(pipeline, sources, store)
    assert(reduced(store) == Map("1" -> 6.0))
    data = srcDf(("a", "1", 4.0), ("b", "1", 2.0), ("c", "1", 3.0))
    applyBatch(pipeline, sources, store, 1L, changes((1, Change.Updated, "a")))
    assert(reduced(store) == Map("1" -> 9.0))
    data = srcDf(("a", "1", 4.0), ("c", "1", 3.0))
    applyBatch(pipeline, sources, store, 2L, changes((2, Change.Deleted, "b")))
    assert(reduced(store) == Map("1" -> 7.0))
    data = srcDf(("c", "1", 3.0))
    applyBatch(pipeline, sources, store, 3L, changes((3, Change.Deleted, "a")))
    assert(reduced(store) == Map("1" -> 3.0))
  }

  test("dict-valued map rows: payload columns beside _mr_*, null key and value") {
    // reference tests/test_mapreduce.py:500-575: map emits (None, {result: foo*bar})
    val spec = MapSpec("data", "data_map", 1, idCol = "id",
      fn = df => df.select(lit(null).cast("string").as(Key),
        (col("foo") * col("bar")).as("result"), col("id")))
    val src = Seq(("x", 2, 3), ("y", 4, 5)).toDF("id", "foo", "bar")
    val out = graft.ops.MapOp(spec, src)
    assert(out.columns.contains("result"))
    val rows = out.select(col("result"), col(Key).isNull, col(Value).isNull)
      .as[(Int, Boolean, Boolean)].collect().toSet
    assert(rows == Set((6, true, true), (20, true, true)))
  }

  test("multi-emission map: deleting a record removes every row it emitted") {
    // reference generator protocol (func.py:34-43): one record → n pairs
    val p = Pipeline(
      maps = Seq(MapSpec("src", "m", 1, idCol = "id",
        fn = df => df.select(explode(array(col("k"), concat(lit("x-"), col("k")))).as(Key),
          col("v").as(Value), col("id")))),
      reduces = Seq(ReduceSpec("m", "r", 1, ExprReduce(sum))))
    var data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0))
    val sources: IncrementalRun.Sources = _ => data
    val store = newStore()
    BucketedRun.initialize(p, sources, store)
    assert(reduced(store) == Map("k1" -> 3.0, "x-k1" -> 3.0))
    data = srcDf(("a", "k1", 1.0))
    applyBatch(p, sources, store, 1L, changes((1, Change.Deleted, "b")))
    assert(reduced(store) == Map("k1" -> 1.0, "x-k1" -> 1.0))
    assert(store.table(spark, "m").filter(col(SourceId) === "b").count() == 0)
  }

  test("multi-source map target: provenance delete only hits its own source type") {
    val p = Pipeline(
      maps = Seq(
        MapSpec("s1", "m", 1, idCol = "id", fn = MapFns.item("k", Some("v"), idCol = "id")),
        MapSpec("s2", "m", 1, idCol = "id", fn = MapFns.item("k", Some("v"), idCol = "id"))),
      reduces = Seq(ReduceSpec("m", "r", 1, ExprReduce(sum))))
    var s1 = srcDf(("x", "k1", 1.0))
    var s2 = srcDf(("x", "k1", 10.0)) // same id value, different source
    val sources: IncrementalRun.Sources = { case "s1" => s1; case "s2" => s2 }
    val store = newStore()
    BucketedRun.initialize(p, sources, store)
    assert(reduced(store) == Map("k1" -> 11.0))
    // delete id x of s1 only — s2's x must survive
    s1 = s1.limit(0)
    applyBatch(p, sources, store, 1L, Seq(Change(1, Change.Deleted, "s1", "x")))
    assert(reduced(store) == Map("k1" -> 10.0))
    assert(store.table(spark, "m").select(col(SourceType)).as[String].collect().toSeq
      == Seq("s2"))
  }
}
