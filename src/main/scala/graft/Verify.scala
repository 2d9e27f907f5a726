package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare
  * (`tools/check.py` replays it). `runMain graft.Verify <sfDir> <outDir>
  * [q1,q2,…]`: a name list narrows both to those queries and makes any
  * failure exit 1; the full sweep reports failures and exits 0.
  * `SPARK_GRAFT_CPUS` sets the cores (default 4). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val named = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val all = SparkEntry.queries
    val unknown = named.toSeq.flatten.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = named.getOrElse(all.keys.toSeq)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      "spark.log.level" -> "WARN")
    val failed = dump(spark, sfDir, outDir, names.map(n => n -> all(n)))
    writeOracleSql(outDir, names.map(n => n -> SparkEntry.oracleSql(n)))
    spark.stop()
    if (named.isDefined && failed.nonEmpty) sys.exit(1)
  }

  /** Write each query's result to `<outDir>/<name>` as one parquet
    * file and return the names that threw. Each output dir is deleted
    * BEFORE its query runs, so a query that throws leaves no output for
    * check.py to find — never an older run's parquet graded as its own. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      val out = new Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.toString); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
  }

  /** `<outDir>/oracle_sql.json`: one JSON object of name → oracle SQL. */
  def writeOracleSql(outDir: String, sql: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      sql.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}"))

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
