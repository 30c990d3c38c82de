package graft.queries

import graft.core._
import graft.incr._
import graft.ops._
import graft.text.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Example user-defined reduce fold: value range (max - min) as a typed
  * Aggregator (the reference accepts any callable as a reduce handler,
  * func.py:34-43). Order-independent in FP, so the result is bit-stable
  * across partitionings — a mean here would drift in the last ulp with the
  * merge order and fail exact-compare gates. */
object RangeAgg extends org.apache.spark.sql.expressions.Aggregator[Double, (Double, Double), Double] {
  def zero: (Double, Double) = (Double.MaxValue, Double.MinValue)
  def reduce(b: (Double, Double), a: Double): (Double, Double) =
    (math.min(b._1, a), math.max(b._2, a))
  def merge(x: (Double, Double), y: (Double, Double)): (Double, Double) =
    (math.min(x._1, y._1), math.max(x._2, y._2))
  def finish(b: (Double, Double)): Double = if (b._2 < b._1) 0.0 else b._2 - b._1
  def bufferEncoder = org.apache.spark.sql.Encoders.product[(Double, Double)]
  def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
}

/** Example whole-row reduce fold: struct-valued stats over each key's live
  * map rows (sum, count, lexicographic max of provenance id). The reference
  * hands reduce callables the unrestricted value list (func.py:34-43) —
  * this is that surface without [[TypedReduce]]'s scalar narrowing. */
object RowStatsAgg extends org.apache.spark.sql.expressions.Aggregator[
    org.apache.spark.sql.Row, (Double, Long, String), (Double, Long, String)] {
  def zero: (Double, Long, String) = (0.0, 0L, "")
  def reduce(b: (Double, Long, String), r: org.apache.spark.sql.Row): (Double, Long, String) =
    (b._1 + r.getAs[Double](MrSchema.Value), b._2 + 1L,
      Seq(b._3, r.getAs[String](MrSchema.SourceId)).max)
  def merge(x: (Double, Long, String), y: (Double, Long, String)): (Double, Long, String) =
    (x._1 + y._1, x._2 + y._2, Seq(x._3, y._3).max)
  def finish(b: (Double, Long, String)): (Double, Long, String) = b
  def bufferEncoder = org.apache.spark.sql.Encoders.product[(Double, Long, String)]
  def outputEncoder = org.apache.spark.sql.Encoders.product[(Double, Long, String)]
}

/** The reference map/reduce operators (SURVEY.md §2: A* map/reduce, B*
  * store and read path), the salted skew aggregation, notifications and
  * the per-source cap. */
object RefOpsQueries {
  import MrSchema.{Key, Value, SourceId}
  import Inputs._

  private val ordersCountPipeline = Pipeline(
    maps = Seq(MapSpec("orders", "orders_map", 1, idCol = "o_orderkey",
      fn = MapFns.item("o_custkey", None, idCol = "o_orderkey"))),
    reduces = Seq(ReduceSpec("orders_map", "orders_cnt", 1, CountReduce)))

  private val lineitemMinPipeline = Pipeline(
    maps = Seq(MapSpec("lineitem", "li_map", 1, idCol = "li_id",
      fn = MapFns.item("l_partkey", Some("l_quantity"), idCol = "li_id"))),
    reduces = Seq(ReduceSpec("li_map", "li_min", 1, ExprReduce(min))))

  val all: Seq[Query] = Seq(
    // A5+A8: map with item() helper — provenance-tagged (key, value) rows
    Query("a5_map_item", (s, dir) =>
      MapOp(ordersSumPipeline.maps.head, t(s, dir, "orders"))
        .select(col(Key), col(Value), col(SourceId), col(MrSchema.SourceType),
          col(MrSchema.Version), col(MrSchema.Deleted)), oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key, o_totalprice AS _mr_value,
           CAST(o_orderkey AS VARCHAR) AS _mr_source_id, 'orders' AS _mr_source_type,
           CAST(1 AS INTEGER) AS _mr_version, false AS _mr_deleted FROM orders"""),

    // A6: sum fold per key
    Query("a6_reduce_sum", (s, dir) => {
      val st = IncrementalRun.recompute(ordersSumPipeline, sources(s, dir))
      st("orders_sum").select(col(Key), round(col(Value), 2).as("sum_value"))
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(sum(o_totalprice), 2) AS sum_value FROM orders GROUP BY 1"""),

    // A6 typed fold: min (exact in FP — no rounding needed)
    Query("a6_reduce_min", (s, dir) => {
      val st = IncrementalRun.recompute(lineitemMinPipeline, sources(s, dir))
      st("li_min").select(col(Key), col(Value).as("min_qty"))
    }, oracle =
      """SELECT CAST(l_partkey AS VARCHAR) AS _mr_key,
           min(l_quantity) AS min_qty FROM lineitem GROUP BY 1"""),

    // A6 user-defined running fold: typed Aggregator (value range) — the
    // reference's arbitrary-callable reduce surface
    Query("a6_typed_range", (s, dir) => {
      val p = Pipeline(
        maps = Seq(MapSpec("orders", "orders_map", 1, idCol = "o_orderkey",
          fn = MapFns.item("o_custkey", Some("o_totalprice"), idCol = "o_orderkey"))),
        reduces = Seq(ReduceSpec("orders_map", "orders_range", 1, TypedReduce(RangeAgg))))
      IncrementalRun.recompute(p, sources(s, dir))("orders_range")
        .select(col(Key), col(Value).as("range_value"))
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key,
           max(o_totalprice) - min(o_totalprice) AS range_value FROM orders GROUP BY 1"""),

    // A6 whole-row user fold: struct-valued stats per key (RowReduce) — the
    // reduce callable sees full rows, not a narrowed scalar
    Query("a6_row_reduce", (s, dir) => {
      val p = Pipeline(
        maps = Seq(MapSpec("orders", "orders_map", 1, idCol = "o_orderkey",
          fn = MapFns.item("o_custkey", Some("o_totalprice"), idCol = "o_orderkey"))),
        reduces = Seq(ReduceSpec("orders_map", "orders_stats", 1, RowReduce(RowStatsAgg))))
      IncrementalRun.recompute(p, sources(s, dir))("orders_stats")
        .select(col(Key),
          round(col(Value)("_1"), 2).as("sum_value"),
          col(Value)("_2").as("cnt"),
          col(Value)("_3").as("max_source_id"))
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(sum(o_totalprice), 2) AS sum_value, count(*) AS cnt,
           max(CAST(o_orderkey AS VARCHAR)) AS max_source_id
           FROM orders GROUP BY 1"""),

    // Skew-resistant two-stage (salted) aggregation: 3-value hot key over
    // the full lineitem table
    Query("salted_skew_agg", (s, dir) => {
      val li = t(s, dir, "lineitem")
      Salted.sum(li, Seq("l_returnflag", "l_linestatus"), "l_quantity", out = "sum_qty")
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("sum_qty"), 2).as("sum_qty"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
           FROM lineitem GROUP BY 1, 2"""),

    // A5 generator protocol: a map handler emitting 0..n rows per record
    // (filter = 0 emissions; explode = several) — reference func.py:34-43.
    // Both emitted rows share the record's provenance id, so an incremental
    // delete removes them together.
    Query("a5_map_flatmap", (s, dir) => {
      val p = Pipeline(
        maps = Seq(MapSpec("orders", "omulti_map", 1, idCol = "o_orderkey",
          fn = df => df.filter(col("o_totalprice") > lit(1000.0))
            .select(explode(array(
              col("o_custkey").cast("string"),
              concat(lit("st:"), col("o_orderstatus")))).as(Key),
              col("o_totalprice"), col("o_orderkey"))
            .select(col(Key), col("o_totalprice").as(Value), col("o_orderkey")))),
        reduces = Seq(ReduceSpec("omulti_map", "omulti_sum", 1, ExprReduce(sum))))
      IncrementalRun.recompute(p, sources(s, dir))("omulti_sum")
        .select(col(Key), round(col(Value), 2).as("sum_value"))
    }, oracle =
      """SELECT k AS _mr_key, round(sum(v), 2) AS sum_value FROM (
             SELECT CAST(o_custkey AS VARCHAR) AS k, o_totalprice AS v
             FROM orders WHERE o_totalprice > 1000.0
             UNION ALL
             SELECT 'st:' || o_orderstatus, o_totalprice
             FROM orders WHERE o_totalprice > 1000.0
           ) GROUP BY 1"""),

    // A7: pre-map adapter before the fold (reference `'map': value()`)
    Query("a7_reduce_premap", (s, dir) => {
      val p = Pipeline(
        maps = Seq(MapSpec("lineitem", "li_map", 1, idCol = "li_id",
          fn = MapFns.item("l_suppkey", Some("l_extendedprice"), idCol = "li_id"))),
        reduces = Seq(ReduceSpec("li_map", "li_disc", 1,
          ExprReduce(sum, premap = c => c * lit(0.9)))))
      IncrementalRun.recompute(p, sources(s, dir))("li_disc")
        .select(col(Key), round(col(Value), 2).as("sum_disc"))
    }, oracle =
      """SELECT CAST(l_suppkey AS VARCHAR) AS _mr_key,
           round(sum(l_extendedprice * CAST(0.9 AS DOUBLE)), 2) AS sum_disc
           FROM lineitem GROUP BY 1"""),

    // A10: same-key multi-source join merge (+A9 value projection inside)
    Query("a10_join_report", (s, dir) => {
      val st = IncrementalRun.recompute(joinPipeline, sources(s, dir))
      st("customer_report")
        .select(col(Key), col("customer_name"), col("acctbal"), col("last_totalprice"))
    }, oracle =
      """SELECT CAST(c.c_custkey AS VARCHAR) AS _mr_key,
           max(c.c_name) AS customer_name, max(c.c_acctbal) AS acctbal,
           max_by(o.o_totalprice, CAST(o.o_orderkey AS VARCHAR)) AS last_totalprice
           FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY 1"""),

    // §3.3 read path closed end to end: a DERIVED reduce target served
    // through the Qvarn search URL surface — the reference's clients query
    // materialized views exactly this way (`GET /<type>/search/...`,
    // read_only.py:139-168). Sorted/paged/projected straight off the
    // materialization, predicates case-folded like any resource
    Query("b16_url_derived", (s, dir) => {
      val st = IncrementalRun.recompute(joinPipeline, sources(s, dir))
      QvarnUrl.urlSearch(
        st("customer_report").select(col(Key), col("customer_name"),
          col("acctbal"), col("last_totalprice")),
        "/customer_report/search/gt/acctbal/1000/startswith/customer_name/customer" +
          "/sort/acctbal/sort/_mr_key/limit/50/show/customer_name/show/acctbal",
        idField = MrSchema.Key)
    }, oracle =
      """WITH rep AS (
             SELECT CAST(c.c_custkey AS VARCHAR) AS _mr_key,
               max(c.c_name) AS customer_name, max(c.c_acctbal) AS acctbal
             FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
             GROUP BY 1)
           SELECT _mr_key, customer_name, acctbal FROM rep
           WHERE acctbal > 1000 AND lower(customer_name) LIKE 'customer%'
           ORDER BY acctbal, _mr_key LIMIT 50"""),

    // B17: subresource stitching on reads — the client's `get(...,
    // subresources=)` / `search_one(subresources=)` (clients/
    // qvarn.py:111-118, 294-311): a full-document URL search carries each
    // named subpath side-document as ONE struct column, null where the
    // parent has no side-doc. The side table here is a deterministic
    // 'contact_info' subpath for customers whose key is not divisible
    // by 3 (so both present and absent side-docs are exercised).
    Query("b17_subresource", (s, dir) => {
      val cust = t(s, dir, "customer")
      val side = cust.filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("id"), col("c_nationkey").as("nation"),
          concat(lit("c"), col("c_custkey"), lit("@example.com")).as("email"))
      // the API serves a real struct column (QvarnUrlSpec pins that); the
      // published row encodes it as canonical JSON — the driver comparator
      // sorts/hashes cells, and dicts are unhashable in pandas
      QvarnUrl.parse(cust,
          "/customer/search/exact/c_mktsegment/BUILDING/gt/c_acctbal/9000/show_all",
          idField = "c_custkey")
        .withSubresource("contact_info", side, sideIdCol = "id")
        .result()
        .withColumn("contact_info", to_json(col("contact_info")))
    }, oracle =
      // struct field order must match the Spark side exactly (nation,
      // email); both engines serialize compact key:value JSON
      """SELECT c.*,
             CASE WHEN s.id IS NULL THEN NULL
               ELSE to_json({'nation': s.nation,
                             'email': s.email})::VARCHAR END AS contact_info
           FROM customer c
           LEFT JOIN (SELECT c_custkey AS id, c_nationkey AS nation,
                        'c' || c_custkey || '@example.com' AS email
                      FROM customer WHERE c_custkey % 3 <> 0) s
             ON c.c_custkey = s.id
           WHERE lower(c.c_mktsegment) = 'building' AND c.c_acctbal > 9000"""),

    // B18: blob-file subresource GET — the client's raw-bytes read
    // `get_blob(type, id, subresource)` (clients/qvarn.py:120-122; the
    // vendored server's file subresources, realqvarn.py:41-45) through the
    // URL path surface `/<type>/<id>/<sub>`: five point-GETs of the
    // documents' payload blob, unioned (each row is one GET's bytes as hex)
    Query("b18_blob", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Seq(0L, 50L, 100L, 150L, 200L)
        .map(id => QvarnUrl.getBlob(docs, s"/documents/$id/payload",
          idField = "doc_id"))
        .reduce(_ unionByName _)
    }, oracle =
      """SELECT doc_id, hex(encode(text)) AS blob_hex FROM documents
           WHERE doc_id IN (0, 50, 100, 150, 200)"""),

    // B19: blob-file subresource PUT — the write twin of b18 (`update_file`,
    // clients/qvarn.py:193-200): three (type, id, subresource)-addressed
    // blob writes with the revision CAS check against a fresh revision-
    // tracked store, a deliberately STALE fourth write that must raise
    // WriteConflict (the 409), then the readback of the written bytes as
    // hex. The oracle re-derives the written payloads from the source text.
    Query("b19_blob_put", (s, dir) => {
      import graft.incr.{BucketedRun, BucketedStateStore}
      val docs = t(s, dir, "documents")
      val src = docs.select(col("doc_id").cast("string").as("id"),
        encode(col("text"), "UTF-8").as("payload"))
      val emptySeq = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(graft.core.MrSchema.SourceType,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(graft.core.MrSchema.SourceId,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("seq",
            org.apache.spark.sql.types.LongType))))
      val store = new BucketedStateStore(TempDirs.create("graft_b19"), 16)
      store.initialize(Map(
        "documents" -> (src, "id"),
        BucketedRun.SeqTable -> (emptySeq, graft.core.MrSchema.SourceId)))
      // the new payloads are a deterministic function of the source text
      val ids = Seq("0", "50", "100")
      val payloads = docs.filter(col("doc_id").isin(0L, 50L, 100L))
        .select(col("doc_id").cast("string"),
          concat(upper(col("text")), lit("!")))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      var batch = 1L
      for (id <- ids) {
        BucketedRun.putBlob(s, store, "documents", id, "payload",
          payloads(id).getBytes("UTF-8"),
          expectedSeq = 0L, newSeq = 1L, batchId = batch, idCol = "id")
        batch += 1
      }
      // the 409: a stale revision (0 after the write above) must conflict
      // and leave the store untouched
      val conflicted =
        try {
          BucketedRun.putBlob(s, store, "documents", "0", "payload",
            "stale".getBytes("UTF-8"),
            expectedSeq = 0L, newSeq = 2L, batchId = batch, idCol = "id")
          false
        } catch { case _: BucketedRun.WriteConflict => true }
      require(conflicted, "stale-revision putBlob must raise WriteConflict")
      store.table(s, "documents")
        .filter(col("id").isin(ids: _*))
        .select(col("id"), hex(col("payload")).as("blob_hex"))
    }, oracle =
      // the written blob is upper(text) || '!' by construction; the CAS
      // conflict and the store plumbing have no tabular trace — the
      // readback hex IS the evidence the write landed
      """SELECT CAST(doc_id AS VARCHAR) AS id,
           hex(encode(upper(text) || '!')) AS blob_hex FROM documents
           WHERE doc_id IN (0, 50, 100)"""),

    // B20: dict-subpath subresource PUT — the STRUCT twin of b19
    // (`update_subresource`, clients/qvarn.py:184-191): three (type, id,
    // subresource)-addressed side-document writes against a revision-
    // tracked store (CAS-before-mutation, payload + revision bump in ONE
    // manifest swap), a deliberately STALE fourth write that must raise
    // WriteConflict (the 409), a PUT to a missing id that must raise
    // NoSuchResource (the 404 — a subresource PUT never creates), then
    // the readback of the written side-documents THROUGH the URL search
    // surface. The oracle re-derives the payloads from the source rows.
    Query("b20_subresource_put", (s, dir) => {
      import graft.incr.{BucketedRun, BucketedStateStore}
      val cust = t(s, dir, "customer")
      val src = cust.select(col("c_custkey").cast("string").as("id"),
        struct(col("c_nationkey").cast("long").as("nation"),
          concat(lit("c"), col("c_custkey"), lit("@example.com")).as("email"))
          .as("contact_info"))
      val emptySeq = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(graft.core.MrSchema.SourceType,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(graft.core.MrSchema.SourceId,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("seq",
            org.apache.spark.sql.types.LongType))))
      val store = new BucketedStateStore(TempDirs.create("graft_b20"), 16)
      store.initialize(Map(
        "customer" -> (src, "id"),
        BucketedRun.SeqTable -> (emptySeq, graft.core.MrSchema.SourceId)))
      // the new side-documents are a deterministic function of the source
      val ids = Seq("1", "7", "20")
      val nations = cust.filter(col("c_custkey").isin(1L, 7L, 20L))
        .select(col("c_custkey").cast("string"), col("c_nationkey").cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      var batch = 1L
      for (id <- ids) {
        val json = s"""{"nation": ${nations(id) * 100 + id.toLong}, """ +
          s""""email": "updated-$id@example.org"}"""
        BucketedRun.putSubresource(s, store, "customer", id, "contact_info",
          json, expectedSeq = 0L, newSeq = 1L, batchId = batch, idCol = "id")
        batch += 1
      }
      // the 409: a stale revision must conflict and leave the store intact
      val conflicted =
        try {
          BucketedRun.putSubresource(s, store, "customer", "1", "contact_info",
            """{"nation": 0, "email": "stale"}""",
            expectedSeq = 0L, newSeq = 2L, batchId = batch, idCol = "id")
          false
        } catch { case _: BucketedRun.WriteConflict => true }
      require(conflicted, "stale-revision putSubresource must raise WriteConflict")
      batch += 1
      // the 404: a subresource PUT never creates the parent document
      val missing =
        try {
          BucketedRun.putSubresource(s, store, "customer", "99999999",
            "contact_info", """{"nation": 1, "email": "ghost"}""",
            expectedSeq = 0L, newSeq = 1L, batchId = batch, idCol = "id")
          false
        } catch { case _: BucketedRun.NoSuchResource => true }
      require(missing, "putSubresource to a missing id must raise NoSuchResource")
      // readback through the URL search surface (b17's read path)
      val table = store.table(s, "customer")
      ids.map(id => QvarnUrl.parse(table,
          s"/customer/search/exact/id/$id/show/contact_info", idField = "id")
          .result())
        .reduce(_ unionByName _)
        .withColumn("contact_info", to_json(col("contact_info")))
    }, oracle =
      // the written side-document is {nation*100+id, 'updated-<id>@…'} by
      // construction; the CAS conflict, the 404, and the manifest swap
      // have no tabular trace — the URL-surface readback IS the evidence
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
           to_json({'nation': c_nationkey * 100 + c_custkey,
                    'email': 'updated-' || c_custkey || '@example.org'
                   })::VARCHAR AS contact_info
           FROM customer WHERE c_custkey IN (1, 7, 20)"""),

    // B21: batch subresource fan-out read (`get_multiple_subresources`,
    // clients/qvarn.py:139-142) — N point GETs of /<type>/<id>/<sub>
    // batched as one pruned scan + one stitch join: ids 3 and 21 have no
    // side-document (null struct), 999999 is absent from the parent
    // entirely (no row — the per-id 404)
    Query("b21_multiget_sub", (s, dir) => {
      val cust = t(s, dir, "customer")
      val side = cust.filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("id"), col("c_nationkey").as("nation"),
          concat(lit("c"), col("c_custkey"), lit("@example.com")).as("email"))
      QvarnUrl.multigetSubresource(cust, side, "contact_info",
          Seq("1", "2", "3", "10", "21", "999999"), idField = "c_custkey")
        .withColumn("contact_info", to_json(col("contact_info")))
    }, oracle =
      """SELECT c.c_custkey,
             CASE WHEN s.id IS NULL THEN NULL
               ELSE to_json({'nation': s.nation,
                             'email': s.email})::VARCHAR END AS contact_info
           FROM customer c
           LEFT JOIN (SELECT c_custkey AS id, c_nationkey AS nation,
                        'c' || c_custkey || '@example.com' AS email
                      FROM customer WHERE c_custkey % 3 <> 0) s
             ON c.c_custkey = s.id
           WHERE CAST(c.c_custkey AS VARCHAR)
             IN ('1', '2', '3', '10', '21', '999999')"""),

    // Notification-queue introspection (listeners.py:37-40,
    // tests/test_notifications.py:19-77): the A18 retry ledger as a
    // queryable frame — pending retries with their backoff-gate timestamps
    // plus dead letters. The state is CONSTRUCTED deterministically from
    // real order keys (every 499th key is a notification; batch 1 at
    // t=1000 ms fails m%3!=0, batch 2 at t=2000 retries all due and fails
    // the even m again, batch 3 at t=4000 re-attempts only m%4==0 — with
    // maxRetries=2 those dead-letter), so the oracle re-derives the exact
    // queue from the same arithmetic. The ledger holds FAILURES, not the
    // feed — driver-side control data at any corpus size
    Query("mr_notifications", (s, dir) => {
      val ms = t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(499)) === 0)
        .select(expr("o_orderkey div 499").as("m"))
        .collect().map(_.getLong(0)).sorted
      def chg(m: Long) = graft.incr.Change(
        seq = m * 499,
        change = (m % 5) match {
          case x if x < 2 => graft.incr.Change.Created
          case x if x < 4 => graft.incr.Change.Updated
          case _ => graft.incr.Change.Deleted
        },
        resourceType = "orders", resourceId = (m * 499).toString)
      val all = ms.map(chg)
      val led = new graft.incr.RetryLedger(maxRetries = 2)
      led.record(all, all.filter(c => (c.seq / 499) % 3 != 0), Nil, now = 1000L)
      val due2 = led.due(2000L)
      led.record(due2.map(_.change),
        due2.map(_.change).filter(c => (c.seq / 499) % 2 == 0), due2, now = 2000L)
      val due3 = led.due(4000L).filter(f => (f.change.seq / 499) % 4 == 0)
      led.record(due3.map(_.change), due3.map(_.change), due3, now = 4000L)
      graft.incr.Notifications.frame(s, led.pending, led.deadLetters)
    }, oracle =
      // re-derives the constructed retry-ledger state: batch 1 (t=1000)
      // fails m%3!=0 -> pending(retries=0); batch 2 (t=2000, all gates
      // open at 1250) clears odd m, even m burn a retry (retries=1, gate
      // 1000+1500); batch 3 (t=4000) re-attempts m%4==0 which exhaust
      // maxRetries=2 -> dead letters with null bookkeeping
      """WITH k AS (SELECT o_orderkey // 499 AS m,
                        CAST(o_orderkey AS BIGINT) AS seq
                      FROM orders WHERE o_orderkey % 499 = 0),
           c AS (SELECT m, seq,
                   CASE WHEN m % 5 < 2 THEN 'created'
                        WHEN m % 5 < 4 THEN 'updated'
                        ELSE 'deleted' END AS change
                 FROM k)
           SELECT 'pending' AS state, seq, change,
             'orders' AS resource_type, CAST(seq AS VARCHAR) AS resource_id,
             CAST(1 AS INT) AS retries,
             CAST(1000 AS BIGINT) AS first_failed_at_ms,
             CAST(2500 AS BIGINT) AS gate_opens_at_ms
           FROM c WHERE m % 3 <> 0 AND m % 2 = 0 AND m % 4 <> 0
           UNION ALL
           SELECT 'dead' AS state, seq, change,
             'orders' AS resource_type, CAST(seq AS VARCHAR) AS resource_id,
             CAST(NULL AS INT) AS retries,
             CAST(NULL AS BIGINT) AS first_failed_at_ms,
             CAST(NULL AS BIGINT) AS gate_opens_at_ms
           FROM c WHERE m % 3 <> 0 AND m % 4 = 0"""),

    // A11: count reduce
    Query("a11_reduce_count", (s, dir) => {
      val st = IncrementalRun.recompute(ordersCountPipeline, sources(s, dir))
      st("orders_cnt").select(col(Key), col(Value).as("cnt"))
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key, count(*) AS cnt
           FROM orders GROUP BY 1"""),

    // A12: dedup-to-newest (latest event per user)
    Query("a12_dedup_newest", (s, dir) =>
      DedupOp.newestWins(t(s, dir, "events"), Seq("user_id"), "ts", Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value")), oracle =
      """SELECT user_id, event_id, event_type, value FROM events
           QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"""),

    // A16: map resync — stale v1 rows are re-mapped, current v2 rows kept
    Query("a16_resync_map", (s, dir) => {
      val orders = t(s, dir, "orders")
      val v2 = MapSpec("orders", "orders_map", 2, idCol = "o_orderkey",
        fn = MapFns.item("o_custkey", Some("o_totalprice"), idCol = "o_orderkey"))
      val v1 = MapSpec("orders", "orders_map", 1, idCol = "o_orderkey",
        fn = df => df.select(col("o_custkey").as(Key), lit(-1.0).as(Value), col("o_orderkey")))
      val old = MapOp(v2, orders.filter(col("o_orderkey") % 2 === 0))
        .unionByName(MapOp(v1, orders.filter(col("o_orderkey") % 2 =!= 0)))
      Resync.resyncMap(v2, sources(s, dir), old)
        .select(col(Key), col(Value), col(SourceId))
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key, o_totalprice AS _mr_value,
           CAST(o_orderkey AS VARCHAR) AS _mr_source_id FROM orders"""),

    // A17: reduce resync — distinct-keys recompute
    Query("a17_resync_reduce", (s, dir) => {
      val st = IncrementalRun.recompute(lineitemMinPipeline, sources(s, dir))
      Resync.resyncReduce(lineitemMinPipeline, "li_min", st)
        .select(col(Key), col(Value).as("min_qty"))
    }, oracle =
      """SELECT CAST(l_partkey AS VARCHAR) AS _mr_key,
           min(l_quantity) AS min_qty FROM lineitem GROUP BY 1"""),

    // A15 version barrier: a key whose live map rows span handler versions
    // keeps its OLD reduce output (processor.py:173-177). Deterministic
    // mixed-version state over the %4 orders subset: rows of %36 orderkeys
    // sit at map version 1 with the v1 value (-1.0), rows of %100 orderkeys
    // carry a stale snapshot value (0.0), everything else is current v2.
    // The batch re-maps the %100 ids at v2; keys still holding an untouched
    // %36 row are postponed, keys without one recompute to the current sum
    // — both branches populated at every scale factor. Runs where
    // production runs the barrier: the BUCKETED store — the mixed-version
    // state is written hash-bucketed once per process, and every invocation
    // applies a live update batch through the scoped-bucket path (the state
    // is a fixed point of the batch, so repeated runs stay oracle-equal).
    Query("a15_version_barrier", (s, dir) => {
      val orders = t(s, dir, "orders").filter(col("o_orderkey") % 4 === 0)
      val srcs: IncrementalRun.Sources = { case "orders" => orders }
      val v2 = MapSpec("orders", "orders_map", 2, idCol = "o_orderkey",
        fn = MapFns.item("o_custkey", Some("o_totalprice"), idCol = "o_orderkey"))
      val pipeline = Pipeline(maps = Seq(v2),
        reduces = Seq(ReduceSpec("orders_map", "orders_sum", 1, ExprReduce(sum))))
      val store = bucketedStores.getOrElseUpdate(s"$dir#a15", {
        // 16 buckets, not 64: this batch touches ~1% of ids but they spread
        // over ~most keys' buckets, so bucket count sets the per-batch task
        // and file count — size buckets to the BATCH's key spread, and at
        // real scale to >=128MB per bucket
        val st = new BucketedStateStore(
          TempDirs.create("graft_incr_a15"),
          numBuckets = 16)
        val key = col(SourceId).cast("long")
        val oldMap = MapOp(v2, orders)
          .withColumn(Value,
            when(key % 36 === 0, lit(-1.0))
              .when(key % 100 === 0, lit(0.0))
              .otherwise(col(Value)))
          .withColumn(MrSchema.Version, when(key % 36 === 0, lit(1)).otherwise(lit(2)))
          .cache()
        try st.initialize(Map(
          "orders_map" -> (oldMap, Key),
          BucketedRun.indexName("orders_map") ->
            (oldMap.select(col(MrSchema.SourceType), col(SourceId), col(Key)).distinct(),
              SourceId),
          "orders_sum" -> (ReduceOp(pipeline.reduces.head, oldMap): DataFrame, Key)))
        finally oldMap.unpersist(blocking = false)
        st
      })
      val next = store.committedBatch.getOrElse(0L) + 1
      BucketedRun.applyChanges(s, pipeline, srcs, store,
        ordersBatch(s, dir, 100, Change.Updated), next, batchId = next)
      store.table(s, "orders_sum")
        .select(col(Key), round(col(Value), 2).as("sum_value"))
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(CASE
             WHEN max(CASE WHEN o_orderkey % 100 = 0 THEN 1 ELSE 0 END) = 1
              AND max(CASE WHEN o_orderkey % 36 = 0 AND o_orderkey % 100 <> 0
                      THEN 1 ELSE 0 END) = 0
             THEN sum(o_totalprice)
             ELSE sum(CASE WHEN o_orderkey % 36 = 0 THEN -1.0
                           WHEN o_orderkey % 100 = 0 THEN 0.0
                           ELSE o_totalprice END)
           END, 2) AS sum_value
           FROM orders WHERE o_orderkey % 4 = 0 GROUP BY o_custkey"""),

    // B1: case-insensitive exact
    Query("b1_exact_ci", (s, dir) =>
      QvarnSearch(t(s, dir, "part"), "p_partkey").exact("p_brand", "brand#13").result(), oracle = "SELECT * FROM part WHERE lower(p_brand) = 'brand#13'"),

    // B11: exactly-one semantics — searchOne() enforces the contract
    // (throws on zero or several matches); the same single row is returned
    // as a DataFrame for the oracle compare
    Query("b11_search_one", (s, dir) => {
      val q = QvarnSearch(t(s, dir, "part"), "p_partkey").exact("p_partkey", "142")
      q.searchOne()
      q.result()
    }, oracle =
      "SELECT * FROM part WHERE p_partkey = 142"),

    // B2: ne (case-folded)
    Query("b2_ne", (s, dir) =>
      QvarnSearch(t(s, dir, "part"), "p_partkey").notEqual("p_type", "economy").result(), oracle = "SELECT * FROM part WHERE lower(p_type) <> 'economy'"),

    // B3: ordered compares
    Query("b3_range", (s, dir) =>
      QvarnSearch(t(s, dir, "part"), "p_partkey")
        .ge("p_size", 5).le("p_size", 40)
        .gt("p_retailprice", 905.0).lt("p_retailprice", 1050.0).result(), oracle =
      """SELECT * FROM part WHERE p_size >= 5 AND p_size <= 40
           AND p_retailprice > 905.0 AND p_retailprice < 1050.0"""),

    // B4: contains (case-insensitive LIKE %v%)
    Query("b4_contains", (s, dir) =>
      QvarnSearch(t(s, dir, "part"), "p_partkey").contains("p_name", "RED").result(), oracle = "SELECT * FROM part WHERE lower(p_name) LIKE '%red%'"),

    // B5: startswith
    Query("b5_startswith", (s, dir) =>
      QvarnSearch(t(s, dir, "part"), "p_partkey").startswith("p_name", "SMALL").result(), oracle = "SELECT * FROM part WHERE lower(p_name) LIKE 'small%'"),

    // B6: bare-field resolution into nested arrays-of-structs (exists())
    Query("b6_nested_field", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val nested = c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(collect_list(struct(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderstatus"))).as("orders"))
      QvarnSearch(nested, "c_custkey").exact("o_orderpriority", "1-URGENT")
        .result().select(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey FROM customer c WHERE EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND lower(o.o_orderpriority) = '1-urgent')"""),

    // B7: repeated conds on one field AND together
    Query("b7_multi_cond", (s, dir) =>
      QvarnSearch(t(s, dir, "part"), "p_partkey")
        .contains("p_name", "e").contains("p_name", "o").result(), oracle =
      "SELECT * FROM part WHERE lower(p_name) LIKE '%e%' AND lower(p_name) LIKE '%o%'"),

    // B8: projection (show)
    Query("b8_show", (s, dir) =>
      QvarnSearch(t(s, dir, "part"), "p_partkey").exact("p_type", "small")
        .show("p_name", "p_retailprice").result(), oracle =
      "SELECT p_partkey, p_name, p_retailprice FROM part WHERE lower(p_type) = 'small'"),

    // B9+B10: sort + offset/limit (requires sort)
    Query("b9_sort_limit", (s, dir) =>
      QvarnSearch(t(s, dir, "part"), "p_partkey")
        .sort("p_retailprice", "p_partkey").offset(5).limit(10).result(), oracle =
      "SELECT * FROM part ORDER BY p_retailprice, p_partkey LIMIT 10 OFFSET 5"),

    // B9 on a child list table: Qvarn sorts by the FIRST list element
    // (list_pos = 0) — here customers ordered by the min orderkey of their
    // (deterministically sorted) nested orders list, no-order customers
    // first (null sorts first ascending in both engines via NULLS FIRST)
    Query("b9_sort_list_field", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val nested = c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        // array_sort: collect_list order is partition-dependent; sorting
        // makes element 0 deterministic for both engines
        .agg(array_sort(collect_list(struct(col("o_orderkey"), col("o_totalprice"))))
          .as("orders"))
      QvarnSearch(nested, "c_custkey").sort("o_orderkey", "c_custkey").limit(25)
        .show().result() // ids-only projection
    }, oracle =
      """SELECT c_custkey FROM (
             SELECT c.c_custkey,
               (SELECT min(o.o_orderkey) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS k
             FROM customer c)
           ORDER BY k ASC NULLS FIRST, c_custkey LIMIT 25"""),

    // B12: point multiget by id list
    Query("b12_multiget", (s, dir) =>
      t(s, dir, "part").filter(col("p_partkey").isin(1, 2, 42, 77, 1999)), oracle =
      "SELECT * FROM part WHERE p_partkey IN (1, 2, 42, 77, 1999)"),

    // B14: the server's URL search surface parsed end to end
    // (list_resource.py:196-262) — operators, typed coercion of the
    // string-carried value against an int column, multi-field sort,
    // offset/limit, show projection
    Query("b14_url_search", (s, dir) =>
      QvarnUrl.urlSearch(t(s, dir, "part"),
        "/part/search/contains/p_name/WIDGET/ge/p_size/10" +
          "/sort/p_retailprice/sort/p_partkey/offset/3/limit/40" +
          "/show/p_name/show/p_size",
        idField = "p_partkey"), oracle =
      """SELECT p_partkey, p_name, p_size FROM part
           WHERE lower(p_name) LIKE '%widget%' AND p_size >= 10
           ORDER BY p_retailprice, p_partkey LIMIT 40 OFFSET 3"""),

    // B14: ids-only default projection + percent-decoded value ('%23' → '#')
    Query("b14_url_ids", (s, dir) =>
      QvarnUrl.urlSearch(t(s, dir, "part"),
        "/part/search/exact/p_brand/Brand%234/gt/p_retailprice/950",
        idField = "p_partkey"), oracle =
      "SELECT p_partkey FROM part WHERE lower(p_brand) = 'brand#4' AND p_retailprice > 950"),

    // B15: the client's Django-style keyword search (clients/qvarn.py:211-273)
    // — bare key = exact, multi-value tuple ANDs per element, stringified
    // values coerced back by column type
    Query("b15_param_search", (s, dir) =>
      QvarnUrl.paramSearch(t(s, dir, "customer"),
        Seq("c_mktsegment" -> "BUILDING", "c_acctbal__ge" -> 0,
          "c_name__contains" -> Seq("1", "2")),
        show = Seq("c_name", "c_acctbal"), idField = "c_custkey").result(), oracle =
      """SELECT c_custkey, c_name, c_acctbal FROM customer
           WHERE lower(c_mktsegment) = 'building' AND c_acctbal >= 0
             AND lower(c_name) LIKE '%1%' AND lower(c_name) LIKE '%2%'"""),

    // B14+B6: nested-field resolution through the URL surface — conditions
    // independently match ANY element of the child list, with the double
    // field compared numerically
    Query("b14_url_nested", (s, dir) => {
      val nested = t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(collect_list(struct(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))).as("orders"))
      QvarnUrl.urlSearch(nested,
        "/search/exact/o_orderpriority/1-URGENT/gt/o_totalprice/150000",
        idField = "c_custkey")
    }, oracle =
      """SELECT c_custkey FROM customer c
           WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                         AND lower(o.o_orderpriority) = '1-urgent')
             AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 150000)"""),

    // Per-source document cap: at most 15 docs per source by md5-uniform
    // rank — the anti-domination gate a web pipeline applies per domain.
    // The rank filter is a WindowGroupLimit pushdown (map-side top-n per
    // group before the one exchange)
    Query("cap_per_source", (s, dir) =>
      Curation.capPerGroup(t(s, dir, "documents"), "doc_id", "source", n = 15)
        .select(col("doc_id"), col("source")), oracle =
      // hashUniform rank order == lexicographic order of the first 8 hex
      // chars of the salted md5 (fixed-length lowercase hex compares like
      // the integer it encodes), ties broken by doc_id — same as Spark's
      // (u, id) ordering
      """SELECT doc_id, source FROM documents
           QUALIFY row_number() OVER (PARTITION BY source
             ORDER BY substr(md5('graft-cap:' || doc_id::VARCHAR), 1, 8),
                      doc_id) <= 15""")
  )
}
