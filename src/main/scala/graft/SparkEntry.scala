package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.queries._

/** Driver contract — one [[Q]] per implemented operator from SURVEY.md
  * §2 and the north-star pipeline surface: the Spark query beside the
  * DuckDB SQL that replays it, declared in one domain file each under
  * `graft.queries`.
  *
  * Conventions for hash-stable oracle comparison (SURVEY §5, §7.5):
  *  - every query ends in a total ORDER BY over output columns;
  *  - integer outputs are cast to BIGINT on both sides;
  *  - derived floats are computed in Double on both sides (same fold
  *    order) and rounded to 6 places; raw doubles pass through untouched;
  *  - money aggregates go through DECIMAL internally (exact,
  *    order-independent summation), then the FINAL output column is cast
  *    to DOUBLE on both sides: the identical exact decimal converts to
  *    the identical nearest double in both engines, whereas serialized
  *    decimal representations hash differently between Spark parquet and
  *    DuckDB even when values are equal (round-1 driver-gate finding);
  *  - hash-derived values use md5 hex (identical text in both engines).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full reference ask-pipeline (§3.1): chunk → embed → top-k →
    * context assembly → prompt. */
  def entry(spark: SparkSession): DataFrame =
    Retrieval.ask(spark,
      graft.sources.TableLoader.load(spark, "/root/testdata/sf0.001", "documents"),
      query = "fast table scan merge join", topK = 3)

  val registry: Seq[Q] = Q.registry(
    RelationalQueries.all, TextQueries.all, DedupQueries.all, SemanticDedupQueries.all,
    AnnQueries.all, GraphQueries.all, RetrievalQueries.all, ServingQueries.all,
    CurationQueries.all, SketchQueries.all, FileQueries.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap
}
