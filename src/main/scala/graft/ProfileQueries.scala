package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool for plan, timing and per-job iteration on SparkEntry
  * queries, all in ONE session (so ~100 queries don't pay ~30 s of
  * JVM+session startup each).
  *
  * `runMain graft.ProfileQueries <outDir> <suffix> <runs> [names...]`
  * (no names = every query) prints `PROFILE <name> warm=X timed=[..]`
  * per query — warm = the first construction + noop-sink execution
  * (with codegen), timed = the next <runs> (0 = plan only), each over
  * the same body — and writes the formatted
  * and AQE-final plans to <outDir>/<name>_<suffix>.txt. With runs ≥ 1
  * the first timed run is traced ([[JobTrace]]) and its jobs print,
  * and land in the file, costliest first: the view for lifecycle
  * queries whose cost lives in construction-time actions (store
  * builds, collects, guards) the final plan never shows.
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and `SPARK_GRAFT_CPUS` (default
  * 32) as in Bench, on Bench's [[GraftSession]]. */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val runs = args(2).toInt
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(Paths.get(outDir))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // same warmup action as Bench so the first query isn't session startup
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = GraftSession.noopSeconds(fn(spark, sfDir))
      try {
        spark.sparkContext.setJobDescription(name)
        // warm times the same body as once(): the query's construction
        // (store builds, collects, guards) and its execution, but not
        // the plan dump between them
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val built = (System.nanoTime() - t0) / 1e9
        val planned = df.queryExecution.explainString(FormattedMode)
        // one execution so the AQE-final executed plan is available;
        // doubles as the codegen/JIT warm run for the timed ones below
        val warm = built + GraftSession.noopSeconds(df)
        val aqe = df.queryExecution.executedPlan.toString
        val traced = if (runs > 0) Some(JobTrace.of(spark.sparkContext)(once())) else None
        val timed = traced.map(_._1).toSeq ++ (2 to runs).map(_ => once())
        val jobLines = traced.toSeq.flatMap { case (t, trace) =>
          val js = trace.jobs
          (f"== ${js.size} jobs, job-sum=${js.map(_.seconds).sum}%.3f s of $t%.3f s " +
            "(the rest is driver-side work) ==") +:
            js.sortBy(-_.seconds).take(12).map(j =>
              f"  job ${j.id}%3d  ${j.seconds}%7.3f s  tasks=${j.tasks}%4d  ${j.site}")
        }
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
          s"== $name ($suffix) warm=$warm timed=${timed.mkString(",")} ==\n\n" +
            planned + "\n=== AQE FINAL ===\n" + aqe + jobLines.map("\n" + _).mkString)
        println(f"PROFILE $name warm=$warm%.3f timed=[${timed.map(t => f"$t%.3f").mkString(",")}]")
        jobLines.foreach(println)
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"PROFILE $name FAILED: ${e.getMessage}")
      } finally spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
