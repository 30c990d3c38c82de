package graft

import graft.queries.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: one `queries` entry and its DuckDB `oracleSql` per
  * operator of SURVEY.md §2, plus the training-data-pipeline extensions
  * (dedup / similarity / text / multimodal). Both maps are views of the
  * declared queries in `graft.queries` (one `Query` per name, in its
  * family's file). Names in comments there refer to the §2 inventory
  * (A5, B1, …). */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("a10_join_report")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map { case (n, q) => n -> q.build }

  lazy val oracleSql: Map[String, String] =
    Registry.all.map { case (n, q) => n -> q.oracle }
}
