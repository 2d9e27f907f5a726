package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A JVM/codegen warmup action runs first so the
  * first measured query doesn't absorb session startup.
  *
  * Trial scheduling is INTERLEAVED (round-5 verdict item 1): an untimed
  * WARMUP pass runs every query once (codegen compiled, JIT settled),
  * then pass 1 runs all queries once in sorted name order, then pass 2,
  * then (budget permitting — see DefaultBudgetS) pass 3, and each query
  * reports the min across measured passes; queries whose min is
  * sub-second get 2 extra back-to-back trials when the budget allows,
  * because that's where single-draw JIT variance created
  * phantom baseline flags (round-8 q_chunk 1.78x on byte-identical code). The previous schedule (3
  * back-to-back trials per query) let a single multi-minute host
  * disturbance land on ALL trials of whichever queries it overlapped —
  * the round-5 driver artifact recorded 11 false regressions up to 26.9×
  * on byte-identical code that way (contiguous alphabetical blocks; the
  * judge's quiet-box re-run reproduced none). With interleaving, a
  * disturbance must persist across the whole multi-minute run to corrupt
  * any single query's min.
  *
  * The regression diff baselines against BENCH_BASELINE.json — a
  * builder-owned, committed artifact that this program NEVER writes
  * (round-5 verdict item 2): the driver's per-round run overwrites
  * BENCH_FULL.json in the working tree, so diffing against cwd state let
  * a contaminated run poison the next round's baseline. The builder
  * refreshes the baseline manually from a run it trusts.
  *
  * Artifacts:
  *  - stdout: the one-line JSON contract ([[summaryLine]]) — total,
  *    calibration and failures, no per-query times, so it stays under
  *    1 KB and whole inside the driver's 2,000-char capture window;
  *  - BENCH_FULL.json (repo cwd, committed per round): the complete
  *    per-query record — min, per-pass times, steady spread — plus the
  *    regression diff. The gate is >1.6× on min-of-3: identical-code
  *    re-runs measured single-query swings up to +58% from JIT/noise
  *    alone, so anything under 1.6× is inside the observed single-box
  *    noise floor.
  */
object Bench {
  private val RegressionRatio = 1.6
  // In-JVM wall-clock budget (seconds), env-overridable. Round 17's
  // driver bench timed out (BENCH_r17.json rc=124, parsed:null) while
  // the same commit benched green in 1096 s when run directly — the
  // fixed warmup+3-pass+min-of-5 schedule simply didn't fit the
  // harness envelope. The schedule is now ADAPTIVE under this budget:
  // warmup + 2 measured passes always run (min-of-2 is the floor the
  // spread-aware 1.6x gate was designed to absorb); pass 3 runs only
  // if `elapsed + 1.15 * last_pass_time` fits, and the sub-second
  // extra trials only if their projected cost (sum of sub-second mins
  // x trials) fits after that. The emitted policy string records what
  // actually ran, so cross-round artifacts stay self-describing.
  private val DefaultBudgetS = 600.0
  // A baseline entry whose OWN runs disagree by more than this
  // (max/min - 1) has an untrustworthy min: with min-of-5 scheduling a
  // single favorable back-to-back draw can sit 40%+ under the steady
  // cluster (q_kmv_distinct's settled baseline ran
  // [1.01, 1.01, 0.95, 0.66, 0.56] — min 0.56 vs steady ~1.0), and
  // gating later steady mins against that fluke produced the same
  // phantom 1.7-2.1x flag two rounds running on untouched code. For
  // such wide entries the diff gates against the baseline's MEDIAN run
  // (the steady statistic) instead of its min; tight entries keep the
  // min-vs-min gate unchanged.
  private val SteadyBaselineSpreadMax = 0.4
  private val Passes = 3
  // Queries whose min lands under this get extra back-to-back trials:
  // sub-second timings are where a single favorable JIT draw in a
  // BASELINE run created phantom 1.6-1.8x flags (q_chunk, r7/r8) — more
  // draws tighten the min estimator exactly where it's noisiest.
  private val SubSecondCutoff = 1.0
  private val ExtraTrials = 2

  private def r3(v: Double) = math.round(v * 1000).toDouble / 1000

  /** The stdout contract: ONE line, ending the output, that the driver's
    * 2,000-char tail capture holds whole. It carries the run's total
    * and health; per-query times live in the full artifact it names. */
  def summaryLine(total: Double, runs: Int, policy: String, spreadP90: Double,
                  wallS: Double, calibJvm: Double, calibSpark: Double,
                  failed: Seq[String], fullArtifact: String, baseline: String,
                  sf: String): String =
    s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""runs":$runs,"policy":"$policy","steady_spread_p90":${r3(spreadP90)},"bench_wall_s":${r3(wallS)},""" +
      s""""calibration":{"jvm_scalar_s":${r3(calibJvm)},"spark_agg_s":${r3(calibSpark)}},""" +
      s""""failed":[${failed.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""full_artifact":"$fullArtifact","baseline":"$baseline","sf":"$sf"}"""

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wall0) / 1e9
    val budgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(DefaultBudgetS)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val baselineFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE.json")
    val spark = GraftSession.local(cpus.toInt, "spark.log.level" -> "WARN")

    // builder-owned baseline for the regression diff; falls back to the
    // working-tree full artifact only if no baseline has been committed
    val baselineSrc = if (Files.exists(Paths.get(baselineFile))) baselineFile else outFile
    // spread-aware baseline reference (see SteadyBaselineSpreadMax):
    // entries whose runs array is tight gate on min; wide ones on the
    // median of their runs. Entries without a parseable runs array
    // (older format) keep the min.
    val prev: Map[String, Double] =
      if (Files.exists(Paths.get(baselineSrc))) {
        // whitespace-normalized before the regex: Bench writes the
        // compact one-line shape, but a baseline refreshed through a
        // pretty-printer (json.dump(indent=...)) is semantically
        // identical JSON that the compact regex silently failed to
        // match — prev parsed EMPTY and the regression gate ran
        // against nothing (caught r17: every query reported "new").
        // Names and numbers contain no whitespace, so stripping it is
        // lossless for the fields the regex reads.
        val txt = Files.readString(Paths.get(baselineSrc)).replaceAll("\\s+", "")
        """"([\w]+)":\{"min":([-0-9.eE+]+)(?:,"spread":[-0-9.eE+]+,"runs":\[([-0-9.eE+,]*)\])?""".r
          .findAllMatchIn(txt).map { m =>
            val min = m.group(2).toDouble
            val runs = Option(m.group(3)).toSeq
              .flatMap(_.split(",").filter(_.nonEmpty).map(_.toDouble))
              .filter(_ >= 0)
            val ref =
              if (min > 0 && runs.length >= 3 &&
                  (runs.max - runs.min) / runs.min > SteadyBaselineSpreadMax) {
                val s = runs.sorted; s(s.length / 2)
              } else min
            m.group(1) -> ref
          }.toMap
      } else Map.empty

    // warmup: read-side + shuffle + codegen paths, result discarded
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    // CALIBRATION (r17): two FIXED microbenches recorded per run so
    // cross-round totals normalize against the box instead of being
    // adjudicated by multi-run worktree experiments (the r11-r16
    // playbook — ~5 full sweeps in r16 alone to prove a 1.33× total
    // was host drift). jvm_scalar_s is a pure single-thread JVM loop
    // (xorshift + rotate-fold, no allocation — tracks per-core speed
    // and steal); spark_agg_s is one fixed in-memory 32-partition
    // xxhash64 aggregate (tracks the whole codegen + task-schedule +
    // parallel-compute path, no I/O). Policy (ROUND_NOTES): compare
    // rounds as total/calibration; a raw-total flag whose per-query
    // ratios track the calibration ratio is host drift, one number,
    // no re-runs. Zero effect on query timings: both run before the
    // measured passes, against warmed JIT.
    def jvmCalib(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0L
      while (i < 200000000L) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += java.lang.Long.rotateLeft(x, 17)
        i += 1
      }
      // acc escapes so the loop cannot be dead-code-eliminated
      if (acc == 42L) System.err.println("calib sentinel")
      (System.nanoTime() - t0) / 1e9
    }
    def sparkCalib(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: 2e8 xxhash64 longs overflow an ANSI sum
      spark.range(0L, 200000000L, 1L, 32)
        .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
      (System.nanoTime() - t0) / 1e9
    }
    jvmCalib(); sparkCalib() // JIT/codegen warm, discarded
    val calibJvm = (1 to 3).map(_ => jvmCalib()).min
    val calibSpark = (1 to 3).map(_ => sparkCalib()).min

    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      try GraftSession.noopSeconds(fn(spark, sfDir))
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        -1.0 // a failed query must not report as a near-zero (fast) time
      }
    // WARMUP PASS (untimed, discarded): every query runs once before any
    // measurement, so pass 1 no longer pays per-query codegen compile +
    // cold JIT. Round 8's last red mark (q_chunk 1.78x) was adjudicated
    // as a favorable-draw BASELINE min meeting an ordinary later min —
    // warming before measuring removes the cold/warm asymmetry that
    // makes such draws possible.
    named.foreach { case (n, f) => timeOne(n, f) }
    // pass-major order: every query once per pass, min across passes.
    // Two passes always run (the min-of-2 floor); each further pass up
    // to Passes runs only if the budget projects room for it — see the
    // DefaultBudgetS rationale. A pass is never aborted mid-flight:
    // the decision is taken between passes, so every query always has
    // the same number of draws within a run.
    val passBuf = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
    var passWall = 0.0
    var p = 0
    while (p < Passes &&
           (p < 2 || elapsedS + 1.15 * passWall < budgetS)) {
      val t0 = System.nanoTime()
      passBuf += named.map { case (n, f) => timeOne(n, f) }
      passWall = (System.nanoTime() - t0) / 1e9
      p += 1
    }
    val passesRun = passBuf.length
    val passTimes: Seq[Seq[Double]] = passBuf.toSeq
    val prelim = named.zipWithIndex.map { case ((name, fn), i) =>
      (name, fn, passTimes.map(_(i)))
    }
    // extra back-to-back draws for sub-second queries — min-of-(N+2)
    // where single-draw variance is largest relative to the
    // measurement — budget-gated on their projected cost (the sum of
    // sub-second mins times the extra-trial count)
    val subsecCost = prelim
      .collect { case (_, _, b) if b.min >= 0 && b.min < SubSecondCutoff => b.min }
      .sum * ExtraTrials
    val runExtras = elapsedS + 1.2 * subsecCost < budgetS
    val results = prelim.map { case (name, fn, base) =>
      val failed = base.exists(_ < 0)
      val times =
        if (!failed && runExtras && base.min < SubSecondCutoff)
          base ++ (1 to ExtraTrials).map(_ => timeOne(name, fn))
        else base
      val anyFailed = times.exists(_ < 0)
      val spread = if (anyFailed) -1.0 else {
        // spread over the measured (post-warmup) passes only
        (base.max - base.min) / math.max(base.min, 1e-9)
      }
      (name, if (anyFailed) -1.0 else times.min, spread, times)
    }
    val policy = "warmup+min-of-" + passesRun + "-interleaved" +
      (if (runExtras) "+subsec-min-of-" + (passesRun + ExtraTrials) else "") +
      "+budget-" + math.round(budgetS) + "s"

    // failed queries (-1 sentinel) must not subtract from the total — a
    // broken query would otherwise make the run look FASTER
    val total = results.map(_._2).filter(_ >= 0).sum
    val spreads = results.map(_._3).filter(_ >= 0).sorted
    val p90 = if (spreads.isEmpty) 0.0 else spreads((spreads.size - 1) * 9 / 10)

    // queries that error out: the -1.0 sentinel keeps them out of the
    // total, but round 7 proved that alone lets a working→failing
    // transition ship inside an exit-0 run — so they are also (a) listed
    // under "failed", (b) forced into the regression diff when the
    // baseline had them working, and (c) fatal to the exit code.
    val failedQs = results.collect { case (n, m, _, _) if m < 0 => n }

    // two-sided gate, but reported separately: a 0.2x improvement in the
    // "regressions" list reads as a false alarm to a round-over-round diff
    val regressions = results.flatMap { case (name, min, _, _) =>
      prev.get(name).collect {
        case p if p > 0 && min > 0 && min / p >= RegressionRatio => (name, p, min)
        case p if p > 0 && min < 0 => (name, p, -1.0) // worked → now fails
      }
    }
    val improvements = results.flatMap { case (name, min, _, _) =>
      prev.get(name).collect {
        case p if p > 0 && min > 0 && p / min >= RegressionRatio => (name, p, min)
      }
    }
    val newQs = results.collect { case (n, m, _, _) if m >= 0 && !prev.contains(n) => n }

    val fullJson = {
      val qs = results.map { case (name, min, spread, times) =>
        s""""$name":{"min":${r3(min)},"spread":${r3(spread)},"runs":[${times.map(r3).mkString(",")}]}"""
      }.mkString("{", ",", "}")
      def diffJson(xs: Seq[(String, Double, Double)]) = xs.map { case (n, p, c) =>
        val ratio = if (c < 0) -1.0 else c / math.max(p, 1e-9)
        s"""{"query":"$n","prev_min":${r3(p)},"min":${r3(c)},"ratio":${r3(ratio)}}"""
      }.mkString("[", ",", "]")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir",
         |"runs":$passesRun,"policy":"$policy","steady_spread_p90":${r3(p90)},"bench_wall_s":${r3(elapsedS)},
         |"calibration":{"jvm_scalar_s":${r3(calibJvm)},"spark_agg_s":${r3(calibSpark)}},
         |"regression_ratio_gate":$RegressionRatio,"baseline":"$baselineSrc",
         |"failed":[${failedQs.map("\"" + _ + "\"").mkString(",")}],
         |"regressions_vs_prev":${diffJson(regressions)},
         |"improvements_vs_prev":${diffJson(improvements)},
         |"new_queries":[${newQs.map("\"" + _ + "\"").mkString(",")}],
         |"queries":$qs}""".stripMargin
    }
    // write-then-move so a crash mid-write can't leave a torn artifact
    val tmp = Paths.get(outFile + ".tmp")
    Files.writeString(tmp, fullJson)
    Files.move(tmp, Paths.get(outFile), StandardCopyOption.REPLACE_EXISTING)

    println(summaryLine(total, passesRun, policy, p90, elapsedS, calibJvm, calibSpark,
      failedQs, outFile, baselineSrc, sfDir))
    spark.stop()
    // any broken query fails the run loudly — the artifact is already on
    // disk and stdout printed, so the driver still gets full data
    if (failedQs.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failedQs.mkString(", ")}")
      sys.exit(1)
    }
  }
}
