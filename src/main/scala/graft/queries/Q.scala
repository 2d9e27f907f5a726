package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, the Spark query over the tables in an
  * sf dir, and the DuckDB SQL that replays it over the same tables. */
final case class Q(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

object Q {

  /** The queries of every domain, in order; throws when a name is
    * declared twice, which a map keyed by name would silently collapse. */
  def registry(domains: Seq[Q]*): Seq[Q] = {
    val all = domains.flatten
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"queries declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }
}
