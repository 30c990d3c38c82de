package graft.queries

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the co-purchase edge list. */
object GraphQueries {
  import Inputs._

  /** Thresholded co-purchase edge list, derived ONCE per scale dir and
    * PERSISTED (parquet) — the shared substrate of the graph_* family
    * (build once, analyze many, like the ANN indexes; a cached DataFrame
    * would silently recompute after any clearCache). */
  private val copurchaseEdgeCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val path = copurchaseEdgeCache.getOrElseUpdate(dir, {
      val p = TempDirs.create("graft_graph")
      graft.graph.Graph.coOccurrenceEdges(
          t(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 2L)
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  /** Distinct order-group count (control scalar), memoized per dir. */
  private val orderGroupCount =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def nOrderGroups(s: SparkSession, dir: String): Long =
    orderGroupCount.getOrElseUpdate(dir,
      t(s, dir, "lineitem").select(col("l_orderkey")).distinct().count())

  // thresholded co-purchase edge list — ONE copy shared by the graph_*
  // oracles (mirrors the single cached copurchaseEdges on the Spark
  // side). DuckDB lambda index `i` is 1-based; items[i+1:] = the items
  // after position i, matching Spark's 0-based slice(items, i+2, …)
  private val basketCtes =
    """gi AS (SELECT l_orderkey AS g,
             list_sort(list_distinct(list(l_partkey))) AS items
             FROM lineitem GROUP BY 1),
         pr0 AS (SELECT unnest(flatten(list_transform(items, (x, i) ->
             list_transform(items[i+1:], y -> {'p1': x, 'p2': y})))) AS p
             FROM gi),
         e AS (SELECT p.p1 AS p1, p.p2 AS p2, count(*) AS support
             FROM pr0 GROUP BY 1, 2 HAVING count(*) >= 2)"""

  val all: Seq[Query] = Seq(
    // ---- graph analytics over item co-occurrence (market basket) --------
    // Build the thresholded edge list ONCE per scale dir (cached) — the
    // graph family shares it the way ANN queries share a built index.

    // Support-thresholded co-occurrence edges: parts bought together in
    // ≥ 2 orders. ONE shuffle + bounded in-row pair expansion (never a
    // fact-table self-join); the threshold prunes ~1.2M noise pairs to
    // ~3.9k edges at sf0.1 before anything downstream runs
    Query("graph_copurchase", (s, dir) => copurchaseEdges(s, dir), oracle =
      s"""WITH $basketCtes
            SELECT p1, p2, support FROM e"""),

    // Undirected degree per node of the thresholded graph
    Query("graph_degree", (s, dir) =>
      graft.graph.Graph.degrees(copurchaseEdges(s, dir)), oracle =
      s"""WITH $basketCtes
            SELECT node, count(*) AS degree
            FROM (SELECT unnest([p1, p2]) AS node FROM e) GROUP BY 1"""),

    // Association rules over each edge, both directions: support,
    // confidence, lift — deterministic single-division FP, identical op
    // order in the oracle
    Query("graph_basket_rules", (s, dir) =>
      graft.graph.Graph.basketRules(copurchaseEdges(s, dir),
        graft.graph.Graph.itemGroupCounts(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey"),
        nOrderGroups(s, dir)), oracle =
      s"""WITH $basketCtes,
            ig AS (SELECT l_partkey AS item,
                   count(DISTINCT l_orderkey) AS n_groups FROM lineitem GROUP BY 1),
            ng AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
            bidir AS (SELECT p1 AS ante, p2 AS cons, support FROM e
                     UNION ALL SELECT p2, p1, support FROM e)
            SELECT b.ante, b.cons,
              round(b.support::DOUBLE / ng.n, 6) AS support,
              round(b.support::DOUBLE / a.n_groups, 6) AS confidence,
              round((b.support::DOUBLE / a.n_groups)
                / (c.n_groups::DOUBLE / ng.n), 6) AS lift
            FROM bidir b
            JOIN ig a ON a.item = b.ante
            JOIN ig c ON c.item = b.cons
            CROSS JOIN ng"""),

    // Per-node triangle counts: forward-edge enumeration on the oriented
    // (p1 < p2) edge list — equi-joins only, each triangle counted once
    Query("graph_triangles", (s, dir) =>
      graft.graph.Graph.triangleCounts(copurchaseEdges(s, dir)), oracle =
      s"""WITH $basketCtes,
            tri AS (SELECT ab.p1 AS a, ab.p2 AS b, bc.p2 AS c
                    FROM e ab JOIN e bc ON ab.p2 = bc.p1
                    JOIN e ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2)
            SELECT node, count(*) AS triangles
            FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1"""),

    // 3 unrolled PageRank power iterations on the undirected thresholded
    // graph — the whole loop runs in integer nano-units (BIGINT sums are
    // associative), so the result is bit-identical under any merge order
    // and across engines
    Query("graph_pagerank", (s, dir) =>
      graft.graph.Graph.pageRank(copurchaseEdges(s, dir), iters = 3), oracle =
      s"""WITH $basketCtes,
            sym AS (SELECT p1 AS src, p2 AS dst FROM e
                    UNION ALL SELECT p2, p1 FROM e),
            deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
            r0 AS (SELECT src AS node, 1000000000::BIGINT AS pr_nano FROM deg),
            r1 AS (SELECT s.dst AS node,
                   150000000 + (85 * sum(r.pr_nano // d.deg)) // 100 AS pr_nano
                   FROM sym s JOIN r0 r ON r.node = s.src
                   JOIN deg d ON d.src = s.src GROUP BY 1),
            r2 AS (SELECT s.dst AS node,
                   150000000 + (85 * sum(r.pr_nano // d.deg)) // 100 AS pr_nano
                   FROM sym s JOIN r1 r ON r.node = s.src
                   JOIN deg d ON d.src = s.src GROUP BY 1),
            r3 AS (SELECT s.dst AS node,
                   150000000 + (85 * sum(r.pr_nano // d.deg)) // 100 AS pr_nano
                   FROM sym s JOIN r2 r ON r.node = s.src
                   JOIN deg d ON d.src = s.src GROUP BY 1)
            SELECT node, round(pr_nano / 1e9, 6) AS pr FROM r3"""),

    // Common-neighbor Jaccard similarity between graph nodes — the
    // link-prediction primitive: wedge enumeration through the shared
    // neighbor (equi-joins only, per-node cost bounded by degree², which
    // the support threshold already bounds), never an all-pairs scan
    Query("graph_common_neighbors", (s, dir) =>
      graft.graph.Graph.commonNeighborSim(copurchaseEdges(s, dir)), oracle =
      s"""WITH $basketCtes,
            sym AS (SELECT p1 AS src, p2 AS dst FROM e
                    UNION ALL SELECT p2, p1 FROM e),
            deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
            cn AS (SELECT x.src AS a, y.src AS b, count(*) AS common
                   FROM sym x JOIN sym y ON x.dst = y.dst AND x.src < y.src
                   GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT cn.a, cn.b, cn.common,
              round(cn.common::DOUBLE / (da.deg + db.deg - cn.common), 6)
                AS jaccard
            FROM cn JOIN deg da ON da.src = cn.a
            JOIN deg db ON db.src = cn.b"""),

    // Connected components of the co-purchase graph. driverEdgeLimit = 0
    // forces the DISTRIBUTED star-contraction loop (O(log n) label
    // propagation + pointer jumping) so the scale path is what the oracle
    // hash-checks — the driver union-find shortcut stays covered by
    // ComponentsSpec's equality property: (node, cluster) with cluster =
    // the component's smallest node id
    Query("graph_components", (s, dir) =>
      graft.dedup.Components.connectedComponents(
        copurchaseEdges(s, dir).select(col("p1"), col("p2")), "p1", "p2",
        driverEdgeLimit = 0L), oracle =
      // Components.connectedComponents: cluster = smallest node id in the
      // component — a recursive min-label closure over the edge set
      s"""WITH RECURSIVE $basketCtes,
            ed AS (SELECT p1 AS src, p2 AS dst FROM e
                   UNION SELECT p2, p1 FROM e),
            walk(id, reach) AS (
              SELECT src, dst FROM ed
              UNION
              SELECT w.id, e2.dst FROM walk w JOIN ed e2 ON w.reach = e2.src)
            SELECT id, least(id, min(reach)) AS cluster
            FROM walk GROUP BY id"""),

    // k-core decomposition (k=3): iterative low-degree peeling to the
    // fixpoint — the graph-denoising gate that keeps the dense core of a
    // co-occurrence graph. Each round shrinks the edge list (degree agg +
    // two anti-joins, lineage checkpoint-truncated); rounds ≈ peeling
    // depth. The oracle replays the peel as exactly 20 MATERIALIZED CTE
    // rounds (extra rounds past convergence are no-ops), so the Spark side
    // PINS the same bound: a graph that peels deeper aborts loudly here
    // instead of hash-mismatching opaquely against the 20-round replay
    Query("graph_kcore", (s, dir) =>
      graft.graph.Graph.kCore(copurchaseEdges(s, dir), k = 3L, maxRounds = 20), oracle =
      // k-core peel replayed as 20 bounded rounds: each keeps only edges
      // whose BOTH endpoints have alive-degree >= 3; rounds past the
      // fixpoint are identity, so overshooting is safe
      {
        val peel = (t: Int) => {
          val prev = if (t == 1) "e" else s"ke${t - 1}"
          s"""kd$t AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
                SELECT unnest([p1, p2]) AS node FROM $prev) GROUP BY 1),
              ke$t AS MATERIALIZED (SELECT x.p1, x.p2 FROM $prev x
                JOIN kd$t a ON a.node = x.p1 AND a.deg >= 3
                JOIN kd$t b ON b.node = x.p2 AND b.deg >= 3)"""
        }
        s"""WITH $basketCtes,
            ${(1 to 20).map(peel).mkString(",\n")}
            SELECT node, count(*) AS degree
            FROM (SELECT unnest([p1, p2]) AS node FROM ke20) GROUP BY 1"""
      })
  )
}
