package graft

/** Dev tooling: time a list of SparkEntry queries across several SF
  * dirs in ONE JVM (consistent codegen/JIT state — a fresh JVM per
  * point would pay a fresh warmup per measurement) and print the scaling
  * curve as a markdown table.
  *
  * MEASUREMENT DISCIPLINE (r17): pass-major INTERLEAVED, the Bench
  * policy — one warmup pass over every (query, dir) point, then
  * `passes` timed passes over the whole matrix, min per point
  * reported, per-point SPREAD (max/min across timed passes) recorded
  * in the artifact. Consecutive same-point runs share whatever
  * transient state the box is in; interleaving makes host contention
  * have to span the WHOLE run to corrupt a min (the policy that
  * killed Bench's phantom regression flags), and the recorded spread
  * is the honesty number the r16 decade probes lacked (identical
  * graphs measured back-to-back differed 8.1× vs 11.0× per decade —
  * same-JVM consecutive-run noise the artifact could not show).
  *
  * Usage: `runMain graft.ScaleCurve <q1,q2,...> <dir1,dir2,...> [outJson] [passes]`
  * With `outJson` given, the full record (per-point min + every pass +
  * spread) is written as one JSON file — the committed SCALECURVE.json
  * artifact, so later rounds diff sf1 timings instead of re-deriving
  * them from prose. A query that OOMs or throws records -1 for that
  * point instead of killing the run (the pinned-codebook families DO
  * die at sf1 — that's the finding).
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dirs = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val outJson = if (args.length > 2) Some(args(2)) else None
    val passes = if (args.length > 3) args(3).toInt else 2
    val spark = GraftSession.local(32)
    def runOnce(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      val t = try GraftSession.noopSeconds(fn(spark, dir))
      catch { case e: Throwable =>
        System.err.println(s"[scalecurve] $name @ $dir FAILED: ${e.getMessage}")
        -1.0
      }
      // queries persist/localCheckpoint internally and nothing frees
      // those blocks between measurements — 40+ accumulated runs at sf1
      // contaminated late timings with memory pressure in the first
      // version of this tool; drop ALL cached state between points
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      t
    }
    val samples = scala.collection.mutable.Map.empty[(String, String), List[Double]]
      .withDefaultValue(Nil)
    def minOf(n: String, d: String): Double = {
      val ok = samples((n, d)).filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    def spreadOf(n: String, d: String): Double = {
      val ok = samples((n, d)).filter(_ >= 0)
      if (ok.length < 2) -1.0 else ok.max / ok.min
    }
    def r3(v: Double) = math.round(v * 1000).toDouble / 1000
    def writeJson(): Unit = outJson.foreach { path =>
      val qs = names.map { n =>
        val mins = dirs.map(d => r3(minOf(n, d)))
        val spreads = dirs.map(d => r3(spreadOf(n, d)))
        val all = dirs.map(d => samples((n, d)).map(r3).mkString("[", ",", "]"))
        s""""$n":{"min":[${mins.mkString(",")}],"spread":[${spreads.mkString(",")}],"passes":[${all.mkString(",")}]}"""
      }.mkString(",")
      val json =
        s"""{"bench":"scale_curve","policy":"pass-major interleaved, warmup + $passes passes, min per point, spread = max/min across passes, cache-cleared between points, FAIL=-1",
           |"dirs":[${dirs.map("\"" + _ + "\"").mkString(",")}],
           |"queries":{$qs}}""".stripMargin
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    }
    val points = for (n <- names; d <- dirs) yield (n, d)
    // warmup pass: JIT + codegen for every query shape, unrecorded
    points.foreach { case (n, d) => runOnce(n, d) }
    // timed passes, PASS-MAJOR: every point once per pass
    (1 to passes).foreach { p =>
      points.foreach { case (n, d) =>
        val t = runOnce(n, d)
        samples((n, d)) = samples((n, d)) :+ t
        System.err.println(f"[scalecurve] pass $p/$passes $n @ $d: $t%.2f s")
      }
      writeJson()
    }
    def fmt(t: Double) = if (t < 0) "FAIL" else f"$t%.2f s"
    println("| query | " + dirs.mkString(" | ") + " | ratio last/first | spread |")
    println("|---|" + dirs.map(_ => "---|").mkString + "---|---|")
    names.foreach { n =>
      val ts = dirs.map(d => minOf(n, d))
      val ratio = if (ts.exists(_ < 0)) "FAIL" else f"${ts.last / ts.head}%.1f×"
      val spr = dirs.map(d => spreadOf(n, d)).map(s => if (s < 0) "-" else f"$s%.2f").mkString("/")
      println(f"| $n | " + ts.map(fmt).mkString(" | ") + s" | $ratio | $spr |")
    }
    writeJson()
    outJson.foreach(p => println(s"wrote $p"))
    spark.stop()
  }
}
