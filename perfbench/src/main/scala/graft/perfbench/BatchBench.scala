package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The Spark batch path: a fixed, named subset of `SparkEntry.queries`,
  * each timed through the noop sink after an untimed warm-up pass, in an
  * order the seed shuffles on every pass. The warm-up pass writes each
  * query's output as parquet for run.py's DuckDB oracle comparison.
  */
object BatchBench {
  val Queries: Seq[String] = Seq(
    "q_bm25_compact",  // index store: tombstone write, compaction, sidecar guard, probe
    "q_cm_stream",     // streaming loop: three count-min increments over corpus tokens
    "q_simhash_pairs", // dedup pair stage
    "q_join_revenue",  // split-bound joins
    "q_skew_join")
  /** Queries whose widest stage is reported (the split-bound joins). */
  val Widest: Seq[String] = Seq("q_join_revenue", "q_skew_join")

  def run(a: Main.Args, r: Main.Record): Unit = {
    val spark = Main.session(a)
    val sessionS = Main.sinceJvmStartS()
    val fns = Queries.map(q => q -> SparkEntry.queries(q)).toMap
    val spy = new JobSpy
    val rnd = new scala.util.Random(a.seed)

    val outDir = a.workDir.resolve("outputs")
    def exec(q: String, tag: String, output: Boolean): Double = {
      r.attempted += 1
      val t0 = System.nanoTime()
      spy.tagged(spark.sparkContext, tag) {
        val w = fns(q)(spark, a.dataDir).write.mode("overwrite")
        if (output) w.parquet(outDir.resolve(q).toString) else w.format("noop").save()
      }
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $tag%-32s $s%8.3f s")
      s
    }
    def pass(tag: String, output: Boolean = false): Map[String, Double] =
      rnd.shuffle(Queries).map(q => q -> exec(q, s"$q#$tag", output)).toMap

    // set-up: session plus the untimed warm-up pass, which writes the
    // outputs the oracle checks; the listener counts its jobs as set-up
    spark.sparkContext.addSparkListener(spy)
    val warm = pass("warmup", output = true)
    val setupS = Main.sinceJvmStartS()
    spy.awaitEnded("#warmup")
    val setupJobs = Queries.map(q => spy.summary(s"$q#warmup"))
    // plain passes run without the listener; each traced pass attaches it
    spark.sparkContext.removeSparkListener(spy)
    val heapSetup = Main.heapLiveMb()

    // a fixed number of timed passes (so every run does the same work),
    // about one per 10 s of the run's seconds, at least one; each query
    // reports its median. A traced run makes at least two pairs of a plain
    // and a traced pass, the order swapped in every other pair, so the
    // tracing overhead is measured in the same process without the warmer
    // JVM of the later pass counting as a saving
    val passes = math.max(if (a.traced) 2 else 1, math.round(a.seconds / 10).toInt)
    val plainPasses = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedPasses = collection.mutable.ArrayBuffer.empty[(String, Map[String, Double])]
    def tracedPass(p: Int): Unit = {
      spark.sparkContext.addSparkListener(spy)
      tracedPasses += ((s"t$p", pass(s"t$p")))
      spy.awaitEnded(s"#t$p")
      spark.sparkContext.removeSparkListener(spy)
    }
    (0 until passes).foreach { p =>
      if (a.traced && p % 2 == 1) tracedPass(p)
      plainPasses += pass(s"p$p")
      if (a.traced && p % 2 == 0) tracedPass(p)
    }
    val heapEnd = Main.heapLiveMb()

    val oracle = new java.util.TreeMap[String, String]()
    Queries.foreach(q => oracle.put(q, SparkEntry.oracleSql(q)))
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(outDir.resolve("oracle_sql.json").toFile, oracle)

    val medians = Queries.map(q => q -> Stats.median(plainPasses.map(_(q)).toSeq)).toMap
    val total = medians.values.sum
    r.put("setup_s", setupS, "s")
    // the typical query: a geometric mean weighs every query's relative
    // change alike, where the total is dominated by the slowest
    r.put("latency_ms", math.exp(medians.values.map(math.log).sum / Queries.length) * 1e3, "ms")
    r.put("latency_tail_ms", medians.values.max * 1e3, "ms")
    r.put("goodput_per_s", Queries.length / total, "1/s")
    r.put("jvm.heap_live_mb", math.max(heapSetup, heapEnd), "MB")
    r.info("batch_total_s") = total
    r.info("passes_timed") = plainPasses.length
    r.info("per_query_median_s") = medians
    r.info("warmup_s") = warm

    r.put("setup.session_s", sessionS, "s")
    r.put("setup.spark_jobs", setupJobs.map(_.jobs).sum.toDouble, "count")
    r.put("setup.shuffle_mb", setupJobs.map(_.shuffleBytes).sum / 1048576.0, "MB")
    if (a.traced) {
      // per query: the median traced pass, and the listener's view of it
      val sums = tracedPasses.map { case (tag, times) =>
        tag -> Queries.map(q => q -> spy.summary(s"$q#$tag")).toMap
      }.toMap
      Queries.foreach { q =>
        val walls = tracedPasses.map(_._2(q)).toSeq
        val mid = tracedPasses.minBy { case (_, t) => math.abs(t(q) - Stats.median(walls)) }._1
        val s = sums(mid)(q)
        r.put(s"$q.wall_s", Stats.median(walls), "s")
        r.put(s"$q.jobs", s.jobs.toDouble, "count")
        r.put(s"$q.driver_gap_s", math.max(0.0, tracedPasses.find(_._1 == mid).get._2(q) - s.jobSeconds), "s")
        r.put(s"$q.shuffle_mb", s.shuffleBytes / 1048576.0, "MB")
        if (Widest.contains(q)) r.put(s"$q.widest_stage_tasks", s.widestStageTasks.toDouble, "count")
      }
      val perPass = sums.values.toSeq
      r.put("spark.tasks", Stats.median(perPass.map(_.values.map(_.tasks).sum.toDouble)), "count")
      r.put("spark.spill_mb", Stats.median(perPass.map(_.values.map(_.spillBytes).sum / 1048576.0)), "MB")
      val tracedTotal = Queries.map(q => Stats.median(tracedPasses.map(_._2(q)).toSeq)).sum
      r.put("trace.overhead_frac", (tracedTotal - total) / total, "frac")
    }
    r.info("box") = Main.box(spark)
    Main.log("box recorded")
    spark.stop()
  }
}
