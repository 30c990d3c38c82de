package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query, declared once: its name, how to build its result over a
  * scale dir, the DuckDB SQL whose rows it must equal (column names and
  * aliases match the Spark output exactly; the compare sorts columns by
  * name), and whether it drains a stream (Bench reports those under
  * `streaming_sub`). */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: String,
                       streaming: Boolean = false)

/** Every declared query, by name. Each family file under this package
  * contributes its `all`; [[graft.SparkEntry]]'s maps are views of this. */
object Registry {

  /** Index `qs` by name. A name declared twice throws, naming it: a map
    * built from both would silently keep the last one. */
  def index(qs: Seq[Query]): Map[String, Query] = {
    val twice = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(twice.isEmpty,
      s"query declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  lazy val all: Map[String, Query] = index(
    RefOpsQueries.all ++ IncrQueries.all ++ EventQueries.all ++
      DedupQueries.all ++ SketchQueries.all ++ SimQueries.all ++
      SearchQueries.all ++ TextQueries.all ++ CurationQueries.all ++
      MmQueries.all ++ ImageQueries.all ++ WebQueries.all ++ GraphQueries.all)

  /** The queries called `names`, in that order. Throws, naming every
    * unknown name, so a typo never selects nothing; an empty `names` (what
    * `",".split(",")` gives) throws too. */
  def lookup(names: Seq[String]): Seq[Query] = {
    if (names.isEmpty) throw new NoSuchElementException("no query name given")
    val unknown = names.filterNot(all.contains)
    if (unknown.nonEmpty)
      throw new NoSuchElementException(s"unknown query name(s): ${unknown.mkString(",")}")
    names.map(all)
  }

  /** [[lookup]] for a main: an unknown name or an empty selection goes to
    * stderr, exit 1. */
  def lookupOrExit(names: Seq[String]): Seq[Query] =
    try lookup(names)
    catch { case e: NoSuchElementException =>
      System.err.println(e.getMessage)
      sys.exit(1)
    }
}
