package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one Spark session every graft entry point runs on, so Verify,
  * Bench, the profiling tools and the demos plan and time queries under
  * the same settings: one shuffle partition per core, UI off, UTC,
  * log level ERROR, [[GraftExtensions]] (graft_* SQL functions and the
  * ANN bucket-prune rule), and
  *  - `nanosAsLong`: some testdata generations write TIMESTAMP(NANOS),
  *    which the Parquet reader rejects by default; `sources.TableLoader`
  *    folds the long nanos (and every other drift shape) back to the
  *    canonical schema;
  *  - a 5000-entry generated-class cache: a tool cycling through ~100
  *    queries would otherwise evict each plan's classes before its next
  *    run and repay codegen and fresh JIT on every trial.
  * `conf` pairs override these, for the few per-tool settings (e.g. the
  * serving benchmarks' FAIR scheduler). A forked `runMain`'s
  * `-Dspark.*` JVM options reach the conf too, for every key not set
  * here — the way to try an ad-hoc setting without a code change.
  */
object GraftSession {

  /** An in-process `local[cpus]` session. */
  def local(cpus: Int, conf: (String, String)*): SparkSession =
    create(s"local[$cpus]", cpus, conf)

  /** A `local-cluster[workers,cores,memMb]` session: `workers` real
    * executor JVMs on this box. Executors do not inherit the driver's
    * JVM flags, so they get the app classpath and the JDK-17 module
    * opens explicitly. Registration is async, and a task scheduled
    * before it would run on fewer executors than asked for, so this
    * returns once all `workers` have registered (or fails after 60 s). */
  def localCluster(workers: Int, cores: Int, memMb: Int,
                   conf: (String, String)*): SparkSession = {
    require(System.getenv("SPARK_SCALA_VERSION") != null, "local-cluster: run with " +
      "SPARK_SCALA_VERSION=2.13 set — the standalone Worker's executor launcher " +
      "needs the env load-spark-env.sh would export")
    val spark = create(s"local-cluster[$workers,$cores,$memMb]", workers * cores,
      Seq("spark.executor.extraClassPath" -> sys.props("java.class.path"),
        "spark.executor.extraJavaOptions" -> ClusterCheck.AddOpensPackages
          .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")) ++ conf)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (executors(spark) < workers && System.nanoTime() < deadline) Thread.sleep(200)
    val registered = executors(spark)
    if (registered < workers) {
      spark.stop()
      throw new IllegalStateException(s"only $registered of $workers executors registered")
    }
    spark
  }

  /** Registered executors, the driver's own entry excluded. */
  def executors(spark: SparkSession): Int =
    spark.sparkContext.statusTracker.getExecutorInfos.length - 1

  /** Wall seconds to build and fully evaluate a query. The action is a
    * noop-format write, NOT count(): count() lets Catalyst prune every
    * projection it doesn't need, so map-heavy queries would time as
    * little more than a parquet row count. */
  def noopSeconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def create(master: String, partitions: Int,
                     conf: Seq[(String, String)]): SparkSession =
    SparkSession.builder().withExtensions(new GraftExtensions).master(master)
      .config((Seq(
        "spark.sql.shuffle.partitions" -> partitions.toString,
        "spark.ui.enabled" -> "false",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.codegen.cache.maxEntries" -> "5000",
        "spark.log.level" -> "ERROR") ++ conf).toMap)
      .getOrCreate()
}
