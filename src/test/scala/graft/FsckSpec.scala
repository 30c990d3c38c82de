package graft

import graft.core._
import graft.incr._
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Store integrity: fsck detects lost/emptied bucket directories; repair
  * heals exactly the damaged buckets from a scoped recompute, leaving
  * undamaged buckets' immutable directories untouched (by reference). */
class FsckSpec extends AnyFunSuite with SparkTestBase {
  import MrSchema._
  import spark.implicits._

  private val pipeline = Pipeline(
    maps = Seq(MapSpec("src", "m", 1, idCol = "id",
      fn = MapFns.item("k", Some("v"), idCol = "id"))),
    reduces = Seq(ReduceSpec("m", "r", 1, ExprReduce(sum))))

  private def srcDf(rows: (String, String, Double)*): DataFrame =
    rows.toDF("id", "k", "v")

  private def newStore(buckets: Int = 8): BucketedStateStore =
    new BucketedStateStore(
      Files.createTempDirectory("graft_fsck").toString, buckets)

  private def reduced(store: BucketedStateStore): Map[String, Double] =
    store.table(spark, "r").select(col(Key), col(Value))
      .as[(String, Double)].collect().toMap

  private def wipeDir(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  test("fsck is clean after initialize; detects a deleted bucket dir") {
    val store = newStore()
    val data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0), ("c", "k2", 5.0),
      ("d", "k3", 7.0), ("e", "k4", 9.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    assert(store.fsck().isEmpty)

    // destroy one referenced bucket directory of the reduce table
    val (bucket, rel) = store.bucketPaths("r").head
    wipeDir(Paths.get(store.root, rel))
    val damage = store.fsck()
    assert(damage == Seq(("r", bucket, rel)))

    // an emptied (but existing) directory is damage too
    val (b2, rel2) = store.bucketPaths("m").head
    val dir2 = Paths.get(store.root, rel2)
    val parts = Files.list(dir2)
    try parts.iterator().asScala.toSeq.foreach(Files.delete)
    finally parts.close()
    assert(store.fsck().toSet == Set(("r", bucket, rel), ("m", b2, rel2)))
  }

  test("repair heals exactly the damage; untouched buckets stay by reference") {
    val store = newStore()
    val data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0), ("c", "k2", 5.0),
      ("d", "k3", 7.0), ("e", "k4", 9.0))
    val sources: IncrementalRun.Sources = _ => data
    BucketedRun.initialize(pipeline, sources, store)
    val want = reduced(store)
    val beforePaths = store.bucketPaths("r")

    val (bucket, rel) = store.bucketPaths("r").head
    wipeDir(Paths.get(store.root, rel))

    val healed = BucketedRun.repair(pipeline, sources, store, batchId = 1L)
    assert(healed == Seq(("r", bucket, rel)))
    assert(store.fsck().isEmpty)
    // content restored exactly
    assert(reduced(store) == want)
    // only the damaged bucket's directory changed
    val afterPaths = store.bucketPaths("r")
    assert(afterPaths(bucket) != rel)
    assert((beforePaths - bucket) == (afterPaths - bucket))
    // map table untouched entirely
    assert(store.committedBatch.contains(1L))
  }

  test("repair on a clean store is a no-op (no new commit)") {
    val store = newStore()
    val sources: IncrementalRun.Sources =
      _ => srcDf(("a", "k1", 1.0), ("b", "k2", 2.0))
    BucketedRun.initialize(pipeline, sources, store)
    assert(BucketedRun.repair(pipeline, sources, store, batchId = 9L).isEmpty)
    assert(store.committedBatch.contains(0L))
  }

  test("repair heals index-table damage and scoped reads still work") {
    val store = newStore()
    val data = srcDf(("a", "k1", 1.0), ("b", "k1", 2.0), ("c", "k2", 5.0))
    var cur = data
    val sources: IncrementalRun.Sources = _ => cur
    BucketedRun.initialize(pipeline, sources, store)
    val idx = BucketedRun.indexName("m")
    val (bucket, rel) = store.bucketPaths(idx).head
    wipeDir(Paths.get(store.root, rel))
    val healed = BucketedRun.repair(pipeline, sources, store, batchId = 1L)
    assert(healed.map(_._1) == Seq(idx) && store.fsck().isEmpty)
    // the healed index still drives a correct incremental batch
    cur = srcDf(("a", "k1", 1.0), ("b", "k2", 7.0), ("c", "k2", 5.0))
    BucketedRun.applyChanges(spark, pipeline, sources, store,
      Seq(Change(1, Change.Updated, "src", "b")), 1L, batchId = 2)
    assert(reduced(store) == Map("k1" -> 1.0, "k2" -> 12.0))
  }

  test("fsck and reads share one definition of a bucket's data files") {
    val store = newStore()
    val data = srcDf((1 to 16).map(i => (s"id$i", s"k$i", i.toDouble)): _*)
    BucketedRun.initialize(pipeline, _ => data, store)
    val Seq((b1, rel1), (b2, rel2)) = store.bucketPaths("r").toSeq.sortBy(_._1).take(2)
    val rows2 = store.readBuckets(spark, "r", Seq(b2)).count()
    def put(rel: String, name: String, bytes: Array[Byte]): Unit =
      Files.write(Paths.get(store.root, rel, name), bytes)

    // b1 keeps only files that are not data: its parts go, siblings stay
    val parts = Files.list(Paths.get(store.root, rel1))
    try parts.iterator().asScala.toSeq.foreach(Files.delete) finally parts.close()
    put(rel1, "_SUCCESS", Array.emptyByteArray)
    put(rel1, ".part-0.parquet.crc", "crc".getBytes)
    put(rel1, "_tmp.parquet", "partial".getBytes)
    put(rel1, "part-0.parquet", Array.emptyByteArray)
    put(rel1, "notes.txt", "not parquet".getBytes)
    // b2 gains the same siblings next to its real part
    put(rel2, "_SUCCESS", Array.emptyByteArray)
    put(rel2, "notes.txt", "not parquet".getBytes)

    // fsck calls b1 damaged and b2 healthy; reads serve exactly that: no
    // rows from b1, b2's rows, and no sibling file is ever opened
    assert(store.fsck() == Seq(("r", b1, rel1)))
    val r1 = store.readBuckets(spark, "r", Seq(b1))
    assert(r1.inputFiles.isEmpty && r1.count() == 0)
    val r2 = store.readBuckets(spark, "r", Seq(b2))
    assert(r2.inputFiles.length == 1 && r2.count() == rows2)
  }
}
