package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dump named SparkEntry queries + their oracle entries for a targeted
  * `tools/check.py` run:
  * `runMain graft.VerifyOne <name>[,<name>...] [sfDir] [outDir]`.
  * Every named query runs in one JVM, and `outDir/oracle_sql.json`
  * holds the oracle entry of each. Dev tool for correctness iteration
  * without the full ~96-query Verify sweep (the [[TimeOne]] of the
  * correctness gate). */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_one"
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a query that throws is reported and skipped; tools/check.py then
    // fails it as unreadable output
    val failed = names.filterNot { name =>
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify-one] $name failed: $e")
          false
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = names.flatMap(name => SparkEntry.oracleSql.get(name)
      .map(v => s"${q(name)}: ${q(v)}")).mkString(", ")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), s"{$sql}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
