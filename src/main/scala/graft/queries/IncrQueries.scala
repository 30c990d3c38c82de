package graft.queries

import graft.core._
import graft.incr._
import graft.text.TextFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incremental maintenance over the bucketed state store (incr_*), the
  * physical layouts it reads (layout_*) and sharded export. */
object IncrQueries {
  import MrSchema.{Key, Value}
  import Inputs._

  /** Events written partitionBy(event_type) once per scale dir — the
    * partitioned LAYOUT is the fixture layout_partition_prune reads. */
  private val partitionedEvents =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def partitionedEventsDir(s: SparkSession, dir: String): String =
    partitionedEvents.getOrElseUpdate(dir, {
      val d = TempDirs.create("graft_events_bytype")
      graft.sources.Formats.writePartitioned(
        t(s, dir, "events"), d, Seq("event_type"))
      d
    })

  val all: Seq[Query] = Seq(
    // A5/A6 incremental: UPDATED changes re-map touched ids through the
    // bucketed store (touched-bucket IO, not a full-state rewrite); end
    // state must equal the full recompute (the engine's core invariant).
    // Each invocation applies a LIVE batch under a fresh batch id — the
    // bench measures the bucket-scoped apply, never a replay no-op.
    // Time travel on the bucketed store: batch n+1 deletes a slice of
    // orders, batch n+2 restores it; the query reads the DELETED state
    // back through the retained batch-(n+1) manifest snapshot while the
    // live table shows the restored full state — MVCC from manifest
    // retention alone (immutable bucket dirs mean a snapshot costs one
    // small file per commit, no data copies). Both rows of history are
    // oracle-checked side by side under a snapshot tag
    Query("incr_time_travel", (s, dir) => {
      // generous retention: the query reads the bootstrap's post-delete
      // snapshot on every later invocation
      val store = bucketedStore(dir, "tt", ordersSumPipeline,
        keepSnapshots = 10000)(sources(s, dir))
      // bootstrap once per process: the DELETE batch whose snapshot is the
      // "past" read target (its id rides the same manifest commit via meta)
      val n1 = store.meta("tt_past") match {
        case Some(b) => b.toLong
        case None =>
          val b = store.committedBatch.getOrElse(0L) + 1
          BucketedRun.applyChanges(s, ordersSumPipeline, sources(s, dir), store,
            ordersBatch(s, dir, 7993, Change.Deleted), b, batchId = b)
          // marker only after the bootstrap batch committed — a failed
          // bootstrap must retry, not poison later invocations with an
          // as-of target whose snapshot never materialized (the staged
          // meta rides the NEXT commit, which is fine: the store is
          // process-scoped and the marker only gates re-bootstrapping)
          store.setMeta("tt_past", b.toString)
          b
      }
      // steady state: ONE live restore batch per invocation (a fresh seq so
      // each supersedes the last); the as-of read is manifest indirection
      val n2 = store.committedBatch.getOrElse(0L) + 1
      BucketedRun.applyChanges(s, ordersSumPipeline, sources(s, dir), store,
        ordersBatch(s, dir, 7993, Change.Updated, seqOffset = 1000000L + n2),
        n2, batchId = n2)
      store.tableAsOf(s, "orders_sum", n1)
        .select(lit("past").as("snapshot"), col(Key),
          round(col(Value), 2).as("sum_value"))
        .unionByName(store.table(s, "orders_sum")
          .select(lit("current").as("snapshot"), col(Key),
            round(col(Value), 2).as("sum_value")))
    }, oracle =
      """SELECT 'past' AS snapshot, CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(sum(o_totalprice), 2) AS sum_value FROM orders
           WHERE o_orderkey % 7993 <> 0 GROUP BY 2
           UNION ALL
           SELECT 'current' AS snapshot, CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(sum(o_totalprice), 2) AS sum_value FROM orders GROUP BY 2"""),

    // SNAPSHOT DIFF — the time-travel CDC read: full-outer join of a past
    // retained snapshot against the current committed state, classifying
    // every key as added/removed/updated. Pure manifest indirection on
    // both sides (no log replay); the oracle recomputes both states from
    // the source tables
    Query("incr_snapshot_diff", (s, dir) => {
      val store = bucketedStore(dir, "tt", ordersSumPipeline,
        keepSnapshots = 10000)(sources(s, dir))
      val n1 = store.meta("tt_past") match {
        case Some(b) => b.toLong
        case None =>
          val b = store.committedBatch.getOrElse(0L) + 1
          BucketedRun.applyChanges(s, ordersSumPipeline, sources(s, dir), store,
            ordersBatch(s, dir, 7993, Change.Deleted), b, batchId = b)
          store.setMeta("tt_past", b.toString)
          b
      }
      // one live restore batch per invocation (same steady state as
      // incr_time_travel — the diff is then past-vs-fully-restored)
      val n2 = store.committedBatch.getOrElse(0L) + 1
      BucketedRun.applyChanges(s, ordersSumPipeline, sources(s, dir), store,
        ordersBatch(s, dir, 7993, Change.Updated, seqOffset = 2000000L + n2),
        n2, batchId = n2)
      val past = store.tableAsOf(s, "orders_sum", n1)
        .select(col(Key), round(col(Value), 2).as("past_value"))
      val cur = store.table(s, "orders_sum")
        .select(col(Key), round(col(Value), 2).as("cur_value"))
      past.join(cur, Seq(Key), "full_outer")
        .filter(!(col("past_value") <=> col("cur_value")))
        .select(col(Key),
          when(col("past_value").isNull, "added")
            .when(col("cur_value").isNull, "removed")
            .otherwise("updated").as("change"),
          col("past_value"), col("cur_value"))
    }, oracle =
      // both diff sides recomputed from orders; keys whose every order
      // was deleted surface as 'added' (absent from the past state)
      """WITH past AS (SELECT CAST(o_custkey AS VARCHAR) AS k,
               round(sum(o_totalprice), 2) AS v FROM orders
             WHERE o_orderkey % 7993 <> 0 GROUP BY 1),
           cur AS (SELECT CAST(o_custkey AS VARCHAR) AS k,
               round(sum(o_totalprice), 2) AS v FROM orders GROUP BY 1)
           SELECT coalesce(p.k, c.k) AS _mr_key,
             CASE WHEN p.v IS NULL THEN 'added'
                  WHEN c.v IS NULL THEN 'removed'
                  ELSE 'updated' END AS change,
             p.v AS past_value, c.v AS cur_value
           FROM past p FULL OUTER JOIN cur c ON p.k = c.k
           WHERE p.v IS DISTINCT FROM c.v"""),

    // ZERO-COPY schema evolution on the durable store: `n_orders` is added
    // to the derived table's schema without rewriting a single committed
    // bucket (explicit-schema reads surface NULL from pre-evolution files —
    // BucketedIncrSpec pins that and the unchanged directory paths). The
    // first invocation evolves + backfills; later invocations stage a
    // touched-bucket batch that maintains BOTH columns for one key residue
    // class — the steady state of a widened table. The pre-evolution
    // snapshot still reads with the OLD shape via time travel.
    Query("incr_schema_evolve", (s, dir) => {
      // generous snapshot retention: the query time-travels to batch 0
      // (the pre-evolution shape) on every invocation
      val store = bucketedStore(dir, "evo", ordersSumPipeline,
        keepSnapshots = 10000)(sources(s, dir))
      val next = store.committedBatch.getOrElse(0L) + 1
      val counts = t(s, dir, "orders")
        .groupBy(col("o_custkey").cast("string").as(Key))
        .agg(count(lit(1)).as("__n"))
      if (store.meta("evolved").isEmpty) {
        store.evolveTable("orders_sum", "n_orders BIGINT")
        store.setMeta("evolved", "1")
        val rows = store.table(s, "orders_sum").drop("n_orders")
          .join(counts, Seq(Key), "left")
          .withColumn("n_orders", col("__n")).drop("__n")
        store.stageBuckets("orders_sum", (0 until store.numBuckets).toSet,
          rows, next, Key)
      } else {
        // touched-bucket maintenance batch: recompute the buckets holding
        // keys ≡ (next mod 97); values are re-derived from source, so the
        // end state is invocation-stable
        val touched = store.table(s, "orders_sum")
          .filter(col(Key).cast("long") % 97 === next % 97)
          .select(store.bucketOf(col(Key)).as("__b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val rows = store.table(s, "orders_sum").drop("n_orders")
          .filter(store.bucketOf(col(Key)).isin(touched.toSeq: _*))
          .join(counts, Seq(Key), "left")
          .withColumn("n_orders", col("__n")).drop("__n")
        store.stageBuckets("orders_sum", touched, rows, next, Key)
      }
      store.commit(next)
      store.tableAsOf(s, "orders_sum", 0L)
        .select(lit("past").as("snapshot"), col(Key),
          round(col(Value), 2).as("sum_value"),
          lit(null).cast("long").as("n_orders"))
        .unionByName(store.table(s, "orders_sum")
          .select(lit("current").as("snapshot"), col(Key),
            round(col(Value), 2).as("sum_value"), col("n_orders")))
    }, oracle =
      // schema evolution: past snapshot = the pre-evolution shape (NULL
      // n_orders — the column did not exist at batch 0); current = the
      // widened, fully-maintained table
      """SELECT 'past' AS snapshot, CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(sum(o_totalprice), 2) AS sum_value,
           CAST(NULL AS BIGINT) AS n_orders FROM orders GROUP BY 2
           UNION ALL
           SELECT 'current' AS snapshot, CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(sum(o_totalprice), 2) AS sum_value,
           count(*) AS n_orders FROM orders GROUP BY 2"""),

    Query("incr_update", (s, dir) => {
      val store = bucketedStore(dir, "upd", ordersSumPipeline)(sources(s, dir))
      val next = store.committedBatch.getOrElse(0L) + 1
      BucketedRun.applyChanges(s, ordersSumPipeline, sources(s, dir), store,
        ordersBatch(s, dir, 9973, Change.Updated), next, batchId = next)
      store.table(s, "orders_sum")
        .select(col(Key), round(col(Value), 2).as("sum_value"))
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(sum(o_totalprice), 2) AS sum_value FROM orders GROUP BY 1"""),

    // A13 tombstones + empty-group delete: DELETED changes drop
    // contributions and purge after the key's reduce. Invocation n deletes
    // residue class n (mod 9949) — derived from the committed batch pointer,
    // so every run applies a REAL delete batch of fresh ids (never a replay
    // no-op, never re-deleting already-absent ids). Verify's single
    // invocation is batch 1 = residue 1, which the oracle pins.
    Query("incr_delete", (s, dir) => {
      val store = bucketedStore(dir, "del", ordersSumPipeline)(sources(s, dir))
      val next = store.committedBatch.getOrElse(0L) + 1
      BucketedRun.applyChanges(s, ordersSumPipeline, sources(s, dir), store,
        ordersBatch(s, dir, 9949, Change.Deleted, seqOffset = 10000000L,
          residue = next % 9949),
        next, batchId = next)
      store.table(s, "orders_sum")
        .select(col(Key), round(col(Value), 2).as("sum_value"))
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(sum(o_totalprice), 2) AS sum_value FROM orders
           WHERE o_orderkey % 9949 <> 1 GROUP BY 1"""),

    // CREATE + DELETE in one batch, last change per id wins (A12 inside the
    // batch: every %6998 id carries both a CREATE and a higher-seq DELETE).
    // Initial state lacks the %3499 ids; the batch creates them and deletes
    // the %6998 subset — re-running upserts the survivors and no-op-deletes
    // the absent ids, so the end state is stable across invocations.
    Query("incr_create_delete", (s, dir) => {
      val store = bucketedStore(dir, "cd", ordersSumPipeline) {
        val init: IncrementalRun.Sources = {
          case "orders" => t(s, dir, "orders").filter(col("o_orderkey") % 3499 =!= 0)
          case n => t(s, dir, n)
        }
        init
      }
      val next = store.committedBatch.getOrElse(0L) + 1
      val changes = ordersBatch(s, dir, 3499, Change.Created) ++
        ordersBatch(s, dir, 6998, Change.Deleted, seqOffset = 10000000L)
      BucketedRun.applyChanges(s, ordersSumPipeline, sources(s, dir), store,
        changes, next, batchId = next)
      store.table(s, "orders_sum")
        .select(col(Key), round(col(Value), 2).as("sum_value"))
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(sum(o_totalprice), 2) AS sum_value FROM orders
           WHERE o_orderkey % 6998 <> 0 GROUP BY 1"""),

    // A3/A4 durable + scale path: a CREATE+DELETE batch applied through the
    // bucketed store — full recompute written hash-bucketed by _mr_key
    // (one-time, memoized per scale dir like any production state), then a
    // SMALL batch (~0.04% of ids — the shape the bucketed path exists for;
    // bounded by construction, so it is collected whole) that reads and
    // rewrites only touched buckets and swaps the manifest; the result is
    // read back from parquet (a real durability round-trip). Every
    // invocation applies under a FRESH batch id (re-upserting the %4999
    // ids, no-op-deleting the absent %4993 ids), so the bench measures a
    // live bucket-scoped apply, never the exactly-once replay skip (that
    // contract is covered by BucketedIncrSpec).
    Query("incr_bucketed", (s, dir) => {
      import s.implicits._
      val full = sources(s, dir)
      val store = bucketedStore(dir, "bk", ordersSumPipeline) {
        val init: IncrementalRun.Sources = {
          case "orders" => t(s, dir, "orders").filter(col("o_orderkey") % 4999 =!= 0)
          case n => t(s, dir, n)
        }
        init
      }
      val orders = t(s, dir, "orders")
      val created = orders.filter(col("o_orderkey") % 4999 === 0)
        .select(col("o_orderkey").as("seq"), lit(Change.Created).as("change"),
          lit("orders").as("resourceType"), col("o_orderkey").cast("string").as("resourceId"))
      val deleted = orders.filter(col("o_orderkey") % 4993 === 0)
        .select((col("o_orderkey") + 10000000L).as("seq"), lit(Change.Deleted).as("change"),
          lit("orders").as("resourceType"), col("o_orderkey").cast("string").as("resourceId"))
      val next = store.committedBatch.getOrElse(0L) + 1
      BucketedRun.applyChanges(s, ordersSumPipeline, full, store,
        created.unionByName(deleted).as[Change].collect().toSeq, next, batchId = next)
      store.table(s, "orders_sum")
        .select(col(Key), round(col(Value), 2).as("sum_value"))
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS _mr_key,
           round(sum(o_totalprice), 2) AS sum_value FROM orders
           WHERE o_orderkey % 4993 <> 0 GROUP BY 1"""),

    // A10-incremental on the bucketed path: TWO sources feed one map
    // target; the secondary index carries both provenance types and the
    // JoinReduce output is maintained per touched key. Updating ids whose
    // source rows are unchanged must leave the report equal to the full
    // recompute — the a10 oracle verbatim.
    Query("incr_bucketed_join", (s, dir) => {
      val store = bucketedStore(dir, "join", joinPipeline)(sources(s, dir))
      val next = store.committedBatch.getOrElse(0L) + 1
      val changes = idBatch(s, dir, "customer", 1499, Change.Updated) ++
        idBatch(s, dir, "orders", 14983, Change.Updated, seqOffset = 20000000L)
      BucketedRun.applyChanges(s, joinPipeline, sources(s, dir), store,
        changes, next, batchId = next)
      store.table(s, "customer_report")
        .select(col(Key), col("customer_name"), col("acctbal"), col("last_totalprice"))
    }, oracle =
      """SELECT CAST(c.c_custkey AS VARCHAR) AS _mr_key,
           max(c.c_name) AS customer_name, max(c.c_acctbal) AS acctbal,
           max_by(o.o_totalprice, CAST(o.o_orderkey AS VARCHAR)) AS last_totalprice
           FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY 1"""),

    // Z-order (Morton) clustering key: bit-interleave of two scaled
    // dimensions — the layout key writeZOrdered range-partitions on so
    // parquet min/max stats stay tight on BOTH columns per file (range
    // predicates on either dimension prune files at plan time; LayoutSpec
    // measures the skipping). The key itself is a pure bit-op projection
    Query("layout_zorder", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.sources.Layout.zOrder2(
          graft.sources.Layout.rankScale(col("n_chars"), 0L, 2047L, 8),
          graft.sources.Layout.rankScale(col("doc_id"), 0L, 8191L, 8),
          bits = 8).as("zkey")), oracle =
      // rankScale then Morton bit-interleave, reproduced with integer ops
      // (the interleaved bits are disjoint, so sum == bitwise-or)
      """WITH s AS (SELECT doc_id,
             least(255, least(2047, greatest(0, n_chars)) * 256 // 2048) AS a,
             least(255, least(8191, greatest(0, doc_id)) * 256 // 8192) AS b
           FROM documents)
           SELECT doc_id, CAST(list_sum(list_transform(range(8), i ->
             (((a >> i::INT) & 1) << (2 * i::INT))
             + (((b >> i::INT) & 1) << (2 * i::INT + 1)))) AS BIGINT) AS zkey
           FROM s"""),

    // Training-shard EXPORT manifest: documents land in fixed-size shards
    // by their deterministic global order; each shard's row-count, token
    // total and an md5 over its ordered id list make the export
    // verifiable end-to-end (re-running the pipeline must reproduce every
    // shard digest bit-for-bit). Per-shard state is bounded by the shard
    // size, so the manifest aggregation never holds more than one shard's
    // ids on a reducer
    Query("export_shards", (s, dir) => {
      val ordered = graft.text.Sketches.globalOrder(t(s, dir, "documents"),
        "doc_id", nShards = 16)
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(TextFunctions.subwordTokens(col("text"))).cast("long").as("n_tok"))
      ordered.join(docs, "doc_id")
        .withColumn("shard", expr("pos div 100"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tok"),
          md5(concat_ws(",",
            transform(sort_array(collect_list(struct(col("pos"), col("doc_id")))),
              x => x.getField("doc_id").cast("string"))).cast("binary"))
            .as("ids_md5"))
    }, oracle = {
      // shard = global md5-uniform rank div 100; digest = md5 over the
      // shard's comma-joined ids in rank order
      val nib = (k: Int) =>
        s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)::BIGINT"
      val u32 = (1 to 8).map(k => s"${nib(k)} * ${1L << (4 * (8 - k))}")
        .mkString(" + ")
      raw"""WITH d AS (SELECT doc_id,
               len(regexp_extract_all(lower(trim(text)),
                 '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]'))::BIGINT AS n_tok,
               md5('graft-shuffle:' || doc_id::VARCHAR) AS h FROM documents),
             u AS (SELECT doc_id, n_tok, ($u32) / 4294967296.0 AS u FROM d),
             r AS (SELECT doc_id, n_tok,
               row_number() OVER (ORDER BY u, doc_id) - 1 AS pos FROM u)
             SELECT CAST(pos // 100 AS BIGINT) AS shard,
               count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tok,
               md5(string_agg(doc_id::VARCHAR, ',' ORDER BY pos)) AS ids_md5
             FROM r GROUP BY 1"""
    }),

    // Hive-style partitioned layout + plan-time directory pruning: events
    // written partitionBy(event_type) once per dir (the layout is the
    // fixture; FormatsSpec pins PartitionFilters in the scan), then the
    // hourly rollup of ONE partition — the scan never opens the other
    // partitions' files, the coarse-grained complement of layout_zorder's
    // file-stat skipping
    Query("layout_partition_prune", (s, dir) => {
      val pdir = partitionedEventsDir(s, dir)
      graft.sources.Formats.readPartitioned(s, pdir)
        .filter(col("event_type") === "error")
        .groupBy(expr("ts div 3600000000000").as("hour_idx"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .select((col("hour_idx") * 3600).as("hour"), col("cnt"), col("sum_value"))
    }, oracle =
      """SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS hour,
           count(*) AS cnt, round(sum(value), 2) AS sum_value
           FROM events WHERE event_type = 'error' GROUP BY 1""")
  )
}
