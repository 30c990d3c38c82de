package graft

import graft.core.Sessions
import graft.queries.Registry
import org.apache.spark.sql.SparkSession

/** Plan-audit harness: `runMain graft.PlanAudit <sfDir> <query,query,…>
  * [outFile]` prints each query's FORMATTED executed plan (post-AQE where
  * the query executes eagerly) — the artifact for "is this the plan you'd
  * want at 100×": pushed filters, partition pruning, broadcast vs
  * sort-merge, whole-stage codegen spans, exchange counts.
  *
  * With `outFile` the audit is RECORDED (PLAN_AUDIT_r{N}.txt per round):
  * each query's section starts with a greppable `EXCHANGES <name> <n>`
  * line, so a plan regression — a new exchange, a lost pushdown, a
  * broadcast→SMJ flip — diffs across rounds as visibly as a hash
  * mismatch. PlanAuditSpec pins the exchange counts of the most
  * expensive queries. */
object PlanAudit {

  /** Default audit set: a representative slice of each plan family
    * (agg, search, dedup/LSH, ANN, retrieval, tokenizer, graph, store,
    * multimodal, packing, mixing) — every name is a real
    * registered query name. */
  val DefaultQueries: Seq[String] = Seq(
    "a6_reduce_sum", "a10_join_report", "b3_range", "b9_sort_limit",
    "dedup_exact", "dedup_minhash", "dedup_simhash", "decon_overlap",
    "sim_topk_bruteforce", "sim_topk_ivf", "sim_topk_ivfpq",
    "search_bm25", "search_hybrid_rrf", "text_bpe_encode",
    "text_langid", "text_quality", "text_tfidf_topk", "pack_sequences",
    "mix_temperature", "graph_pagerank", "graph_triangles",
    "events_asof_native", "events_hourly", "incr_bucketed",
    "mm_decode_jpeg", "mm_decode_png", "embed_neardup_cell",
    "cluster_kmeanspar", "sketch_distinct_hll", "layout_partition_prune")

  /** The recorded lane: the most expensive BATCH queries by the r9/r10
    * bench (streaming drains excluded — their executed plan is the
    * post-drain read, not the micro-batch plan). */
  val ExpensiveQueries: Seq[String] = Seq(
    "dedup_minhash_incr", "curriculum_order", "incr_snapshot_diff",
    "pipeline_curate", "incr_schema_evolve", "mm_decode_mp4",
    "mm_decode_jpeg_parallel", "incr_time_travel", "mm_decode_jpeg_color",
    "search_hybrid_rrf", "mm_decode_video", "sim_recall_lsh",
    "mm_decode_jpeg_progressive", "mm_decode_jpeg_prog420",
    "mm_decode_jpeg_prog_parallel", "fmt_warc_roundtrip", "pipeline_web")

  /** Run one query eagerly and return (final adapted plan text, exchange
    * count in that final plan). The count includes ReusedExchange — a pin,
    * not a semantic: any change in either direction is worth a look. */
  def audit(spark: SparkSession, sfDir: String,
            name: String): (String, Int) = {
    val df = Registry.lookup(Seq(name)).head.build(spark, sfDir)
    df.collect() // drive AQE so the final plan is the adapted one
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = plan.sliding("Exchange ".length).count(_ == "Exchange ")
    (plan, exchanges)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1 && args(1).nonEmpty)
      args(1).split(",").toSeq else DefaultQueries
    Registry.lookupOrExit(names) // an unknown name exits 1 before anything runs
    val outFile = if (args.length > 2) Some(args(2)) else None
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val out = new StringBuilder
    // NonFatal only — an OOM must kill the run, not land as a recorded
    // "AUDIT ERROR" section; a failed query still gets its section, and
    // the run exits nonzero naming it, so an error section in a recorded
    // audit never goes unnoticed
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- names) {
      val section = try {
        val (plan, exchanges) = audit(spark, sfDir, name)
        s"\n===== PLAN $name =====\nEXCHANGES $name $exchanges\n" +
          plan.take(8000)
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += name
          s"\n===== PLAN $name =====\nAUDIT ERROR: ${e.getMessage}"
      }
      println(section)
      out.append(section).append('\n')
      Sessions.reset(spark)
    }
    outFile.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        out.toString.getBytes("UTF-8"))
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plan-audit] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
