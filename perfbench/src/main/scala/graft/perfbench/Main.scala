package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry. Runs one workload once and writes its record as
  * JSON; `perfbench/run.py` builds this program, generates the seeded
  * inputs, starts it, checks outputs and prints the metrics.
  *
  *   Main <workload> <seed> <seconds> <plain|traced> <dataDir> <workDir> <size>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        traced: Boolean, dataDir: String, workDir: Path, size: String) {
    def tiny: Boolean = size == "tiny"
  }

  /** What one run hands back to run.py: metrics keyed by name, the
    * operation counts behind `attempted`/`failed`, and free-form notes. */
  final class Record {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def fail(what: String): Unit = { failed += 1; if (failures.length < 20) failures += what }
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"perfbench-${a.workload}")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", a.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.workDir.resolve("warehouse").toString)
      // serving sessions run FAIR so AskServer's per-request pools share
      // the cores (the configuration ServeBench serves under)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Live heap in MB: what the heap pools held right after a forced
    * full GC (their collection usage, so allocation after it can't count). */
  def heapLiveMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Seconds since this JVM started (process start, not main()). */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(what: String): Unit = System.err.println(f"[perfbench] ${sinceJvmStartS()}%8.2f s  $what")

  /** Bench's single-thread calibration loop (xorshift, 2e7 steps), s. */
  def jvmCalib(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    while (i < 20000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += java.lang.Long.rotateLeft(x, 17)
      i += 1
    }
    if (acc == 42L) System.err.println("calib sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  /** The box the numbers came from, recorded next to them and never gated
    * on: core count, JVM, Spark conf, and Bench's two calibration loops
    * (a single-thread xorshift loop and an xxhash64 aggregate), sized down
    * so they fit every run. */
  def box(spark: SparkSession): Map[String, Any] = {
    def sparkCalib(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 10000000L, 1L, cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
      (System.nanoTime() - t0) / 1e9
    }
    jvmCalib(); sparkCalib()
    Map(
      "nproc" -> cpus,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "spark_version" -> spark.version,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.shuffle") || k == "spark.master" ||
          k == "spark.scheduler.mode" || k.startsWith("spark.sql.adaptive") }.toMap,
      "calib_jvm_scalar_2e7_s" -> jvmCalib(),
      "calib_spark_agg_1e7_s" -> sparkCalib())
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case d: Double => if (d.isNaN || d.isInfinite) null else java.lang.Double.valueOf(d)
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def writeRecord(path: Path, r: Record): Unit = {
    val out = Map(
      "metrics" -> r.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "attempted" -> r.attempted, "failed" -> r.failed,
      "failures" -> r.failures.toSeq, "info" -> r.info)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writerWithDefaultPrettyPrinter().writeValue(path.toFile, toJava(out))
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7, "usage: Main <workload> <seed> <seconds> <plain|traced> " +
      "<dataDir> <workDir> <size>")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "traced",
      argv(4), Paths.get(argv(5)).toAbsolutePath, argv(6))
    Files.createDirectories(a.workDir)
    val r = new Record
    // exit explicitly either way: a server pool or a Spark thread left
    // behind by a failure must never hold the process open
    try {
      a.workload match {
        case "ask-miss" | "ask-zipf" => AskBench.run(a, r)
        case "batch-queries" => BatchBench.run(a, r)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      writeRecord(a.workDir.resolve("record.json"), r)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }
}
