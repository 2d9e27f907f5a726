package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Environment-drift shim for externally-produced tables (SURVEY §1.4).
  *
  * The test-data generator regenerates `/root/testdata` between rounds and
  * has already produced three different physical shapes for the same
  * logical event-time column:
  *
  *   - `TIMESTAMP(NANOS)` read as `BIGINT` nanos (under
  *     `spark.sql.legacy.parquet.nanosAsLong=true`),
  *   - untagged `timestamp[us]` (`isAdjustedToUTC=false`), which Spark 4
  *     reads as `TIMESTAMP_NTZ`,
  *   - a plain UTC-adjusted `TIMESTAMP`.
  *
  * Round 7 handled only the first; the second silently broke every query
  * calling `unix_micros(ts)`. All external loads now pass through
  * [[normalize]], which folds each drift class back to the canonical
  * schema BEFORE the query layer sees it, so this breakage class cannot
  * reach operators again.
  */
object TableLoader {

  /** Canonicalize one loaded table: `TIMESTAMP_NTZ` → `TIMESTAMP` for every
    * (possibly nested-in-the-future) top-level column. Every engine
    * entrypoint pins `spark.sql.session.timeZone=UTC`, so the cast is an
    * exact relabel of the same microsecond value — never a wall-clock
    * shift. */
  def normalize(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case StructField(name, TimestampNTZType, _, _) => name
    }
    if (ntz.isEmpty) df
    else if (df.sparkSession.conf.get("spark.sql.session.timeZone") != "UTC") {
      // Belt-and-braces: force the invariant rather than silently shifting
      // wall-clock on a misconfigured entrypoint.
      df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
      normalize(df)
    }
    else df.select(df.schema.fieldNames.map { n =>
      if (ntz.contains(n)) col(n).cast(TimestampType).as(n) else col(n)
    }.toIndexedSeq: _*)
  }

  /** Canonicalize an event-time column that may additionally arrive as raw
    * int64 nanoseconds (the legacy `nanosAsLong` read of
    * `TIMESTAMP(NANOS)`). Integer `div`, NOT `/`: long/long promotes to
    * Double whose 52 mantissa bits round epoch-microsecond values by ±1. */
  def normalizeEventTime(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }

  /** Load `dir/name.parquet` with drift normalization applied. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalize(read(spark, s"$dir/$name.parquet"))

  /** Load the events table with both normalizations applied to `ts`. */
  def loadEvents(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTime(load(spark, dir, "events"))

  /** `spark.read.parquet(path)` without the schema-inference job when
    * this session has already inferred the schema of exactly these files.
    * Inference is a Spark job (a footer read) on every open; a table or
    * store part opened again unchanged is read with the remembered schema
    * instead, which runs none. The memo key is the qualified path, the
    * session conf that shapes inference, and every visible leaf file
    * (relative path, length, modification time), so an overwrite or an
    * append at the same path re-infers. The memo lives per session:
    * another session may read the same files differently. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val key = memoKey(spark, path)
    key.flatMap(k => Option(schemas(spark).get(k))) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(schemas(spark).put(_, df.schema))
        df
    }
  }

  /** Session conf that changes what parquet schema inference returns. */
  private val InferenceConf = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private val memo =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, StructType]]()

  private def schemas(spark: SparkSession) = memo.synchronized {
    memo.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
  }

  /** None when `path` is missing or holds no visible file: Spark's own
    * read then raises its error. Visibility follows Spark's listing:
    * names starting with `.`, or with `_` unless they hold `=` (a
    * partition directory) or name a parquet summary file, are skipped.
    * The walk uses `listStatus`, never `listFiles`: on the local
    * filesystem without the native library a `LocatedFileStatus` forks
    * a process per file for its permissions (~5 ms each), which made a
    * memo hit on a 22-file store cost more than the job it saved. */
  private def memoKey(spark: SparkSession, path: String): Option[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(root)
    def hidden(name: String) =
      !name.startsWith("_metadata") && !name.startsWith("_common_metadata") &&
        (name.startsWith(".") || name.endsWith("._COPYING_") ||
          (name.startsWith("_") && !name.contains("=")))
    def leaves(dir: Path, rel: String): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { f =>
        val name = f.getPath.getName
        if (hidden(name)) Nil
        else if (f.isDirectory) leaves(f.getPath, s"$rel$name/")
        else Seq(s"$rel$name:${f.getLen}:${f.getModificationTime}")
      }
    val files =
      try leaves(qualified, "").sorted
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    // a digest, so a table of many files costs the memo 64 bytes
    if (files.isEmpty) None
    else Some(java.security.MessageDigest.getInstance("SHA-256")
      .digest((qualified.toString +: InferenceConf.map(k => s"$k=${spark.conf.getOption(k)}") ++:
        files).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString)
  }
}
