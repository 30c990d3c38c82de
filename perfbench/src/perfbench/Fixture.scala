package perfbench

import graft.core.{ExprReduce, JoinReduce, MapFns, MapSpec, Pipeline, ReduceSpec}
import graft.core.MrSchema._
import graft.incr.{Change, IncrementalRun}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's pipeline: the reference's flagship shapes over the
  * TPC-H-like `customer` / `orders` sources. `customer_report` is the
  * company_reports join (README.rst:74-106), `orders_sum` a scalar fold. */
object Fixture {
  val Buckets = 64
  val Customers = 15000 // sf0.1 row counts
  val Orders = 150000
  /** The base tables are one fixed data set, like the repo's testdata; the
    * run's seed drives the changes and the searches on top of it. */
  val BaseSeed = 42L

  val pipeline: Pipeline = Pipeline(
    maps = Seq(
      MapSpec("customer", "co_map", 1, idCol = "c_custkey",
        fn = df => df.select(col("c_custkey").as(Key), col("c_name"),
          col("c_acctbal"), col("c_custkey"))),
      MapSpec("orders", "co_map", 1, idCol = "o_orderkey",
        fn = df => df.select(col("o_custkey").as(Key), col("o_totalprice"),
          col("o_orderkey"))),
      MapSpec("orders", "orders_map", 1, idCol = "o_orderkey",
        fn = MapFns.item("o_custkey", Some("o_totalprice"), idCol = "o_orderkey"))),
    reduces = Seq(
      ReduceSpec("co_map", "customer_report", 1, JoinReduce(
        mapping = Map(
          "customer" -> Map("c_name" -> "customer_name", "c_acctbal" -> "acctbal"),
          "orders" -> Map("o_totalprice" -> "last_totalprice")),
        orderBy = SourceId)),
      ReduceSpec("orders_map", "orders_sum", 1, ExprReduce(sum))))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType)))

  val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val statuses = Array("F", "O", "P")

  def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
}

/** The source stand-in: the benchmark's Qvarn. Rows live in driver arrays;
  * every change the generator makes mutates a row here first, then emits the
  * payload-free notification, so each notification follows a real change.
  * The engine reads the state through [[sources]] — base parquet with the
  * mutated rows overlaid — as published by the last [[publish]]. */
final class SourceState(spark: SparkSession, orderCapacity: Int) {
  import Fixture._

  private val r = new SplittableRandom(BaseSeed)
  private val nCust = Customers
  private val cName = Array.tabulate(nCust)(i => f"Customer#${i + 1}%09d")
  private val cNation = Array.fill(nCust)(r.nextInt(25))
  private val cBal = Array.fill(nCust)(cents(r, -999.99, 9999.99))
  private val cSeg = Array.fill(nCust)(segments(r.nextInt(segments.length)))

  private var nOrd = Orders
  private val oCust = new Array[Long](orderCapacity)
  private val oStatus = new Array[Byte](orderCapacity)
  private val oPrice = new Array[Double](orderCapacity)
  private val oDate = new Array[Int](orderCapacity)
  private val oPrio = new Array[Byte](orderCapacity)
  private val oLive = new Array[Boolean](orderCapacity)
  private def fillOrder(i: Int, g: SplittableRandom): Unit = {
    oCust(i) = 1L + g.nextInt(nCust)
    oStatus(i) = g.nextInt(statuses.length).toByte
    oPrice(i) = cents(g, 850.0, 560000.0)
    oDate(i) = 8035 + g.nextInt(2400) // 1992-01-01 + ~6.5 years
    oPrio(i) = g.nextInt(priorities.length).toByte
    oLive(i) = true
  }
  (0 until nOrd).foreach(fillOrder(_, r))

  /** Live order indexes, for uniform picks that survive deletes (swap-remove). */
  private val live = mutable.ArrayBuffer.tabulate(nOrd)(identity)
  private val livePos = mutable.HashMap.empty[Int, Int] ++ (0 until nOrd).map(i => i -> i)

  private val dirtyCust = mutable.LinkedHashSet.empty[Int]
  private val dirtyOrd = mutable.LinkedHashSet.empty[Int]

  private def customerRow(i: Int): Row =
    Row(i + 1L, cName(i), cNation(i), cBal(i), cSeg(i))
  private def orderRow(i: Int): Row =
    Row(i + 1L, oCust(i), statuses(oStatus(i)), oPrice(i),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(oDate(i))),
      priorities(oPrio(i)))

  private var dir: String = _

  /** Write the current state as the base parquet tables under `to`; later
    * changes are overlaid on this base. Rows are generated in id order, so
    * each of the four files holds one id range. */
  def writeBase(to: String): Unit = {
    def write(rows: IndexedSeq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .write.mode("overwrite").parquet(s"$to/$name")
    write((0 until nCust).map(customerRow), customerSchema, "customer")
    write((0 until nOrd).filter(oLive(_)).map(orderRow), ordersSchema, "orders")
    useBase(to)
  }

  /** Read the base tables from `from`, which holds the state as it is now. */
  def useBase(from: String): Unit = synchronized {
    dir = from; dirtyCust.clear(); dirtyOrd.clear()
  }

  @volatile private var published: Map[String, DataFrame] = Map.empty

  /** Snapshot the current state for the engine: base minus overridden ids,
    * plus the overriding rows that are still live. */
  def publish(): Unit = synchronized {
    def overlay(name: String, idCol: String, ids: Seq[Int], rows: Seq[Row],
                schema: StructType): DataFrame = {
      val base = spark.read.parquet(s"$dir/$name")
      if (ids.isEmpty) base
      else {
        val gone = broadcast(spark.createDataFrame(
          ids.map(i => Row(i + 1L)).asJava,
          StructType(Seq(StructField("__id", LongType)))))
        base.join(gone, col(idCol) === col("__id"), "left_anti")
          .unionByName(spark.createDataFrame(rows.asJava, schema))
      }
    }
    val ords = dirtyOrd.toSeq
    published = Map(
      "customer" -> overlay("customer", "c_custkey", dirtyCust.toSeq,
        dirtyCust.toSeq.map(customerRow), customerSchema),
      "orders" -> overlay("orders", "o_orderkey", ords,
        ords.filter(oLive(_)).map(orderRow), ordersSchema))
  }

  val sources: IncrementalRun.Sources = name => published(name)

  // ---- the change generator's mutations -----------------------------------

  private var seq = 0L

  /** Apply one seeded change to the state and return its notification.
    * Mix: 63% order price updates, 7% order re-keys, 15% customer
    * name/balance updates, 10% order creates, 5% order deletes. */
  def nextChange(g: SplittableRandom): Change = synchronized {
    seq += 1
    val p = g.nextInt(100)
    def anyLive(): Int = live(g.nextInt(live.size))
    if (p < 63) {
      val i = anyLive(); oPrice(i) = cents(g, 850.0, 560000.0); dirtyOrd += i
      Change(seq, Change.Updated, "orders", (i + 1L).toString)
    } else if (p < 70) {
      val i = anyLive(); oCust(i) = 1L + g.nextInt(nCust); dirtyOrd += i
      Change(seq, Change.Updated, "orders", (i + 1L).toString)
    } else if (p < 85) {
      val i = g.nextInt(nCust)
      cBal(i) = cents(g, -999.99, 9999.99)
      cName(i) = f"Customer#${i + 1}%09d-r${g.nextInt(1000)}%03d"
      dirtyCust += i
      Change(seq, Change.Updated, "customer", (i + 1L).toString)
    } else if (p < 95) {
      require(nOrd < oLive.length, "order capacity exhausted")
      val i = nOrd; nOrd += 1
      fillOrder(i, g)
      livePos(i) = live.size; live += i; dirtyOrd += i
      Change(seq, Change.Created, "orders", (i + 1L).toString)
    } else {
      val i = anyLive()
      oLive(i) = false
      val at = livePos.remove(i).get
      val last = live.remove(live.size - 1)
      if (last != i) { live(at) = last; livePos(last) = at }
      dirtyOrd += i
      Change(seq, Change.Deleted, "orders", (i + 1L).toString)
    }
  }
}
