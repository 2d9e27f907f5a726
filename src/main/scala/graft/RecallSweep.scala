package graft

import org.apache.spark.sql.functions._

import graft.operators.Ann

/** Dev tool: sweep the graph-ANN quality/cost surface — `runMain
  * graft.RecallSweep [sfDir] [nQueries]` — and print a recall-vs-cost
  * table (mean recall@10 over the query set vs mean visited-node count,
  * the work proxy: every visited node is one scored candidate).
  *
  * The reference runs its HNSW at a high-recall setting (m=64,
  * ef_construction=500, app/main.py:272-277), so the committed AnnSpec
  * bar is recall@10 >= 0.9 at the chosen (m, beam, hops) — this sweep
  * is the instrument that picked it (table in ROUND_NOTES round 9).
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nQ = if (args.length > 1) args(1).toInt else 10
    val nCents = if (args.length > 2) args(2).toInt else 16
    val spark = GraftSession.local(32)
    import spark.implicits._

    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").persist()
    val n = e.count()
    // non-centroid queries spread across the id range
    val qids = (0 until nQ).map(i => 9L + i * (n / nQ))
    val queries = e.filter(col("vec_id").isin(qids.map(Long.box): _*)).persist()
    println(s"corpus $sfDir: $n vectors, ${queries.count()} queries")

    // exact top-10 per query (the recall denominator)
    val exact: Map[Long, Set[Long]] = qids.map { qid =>
      val qv = e.filter(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      qid -> Ann.bruteForceTopK(e, "vec_id", "embedding", qv, 10)
        .select("vec_id").as[Long].collect().toSet
    }.toMap

    println(s"centroids: $nCents")
    val cents = e.filter(col("vec_id") < nCents)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val assigned = Ann.assignCells(e, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec").persist()
    assigned.count()

    println(f"${"m"}%4s ${"beam"}%5s ${"hops"}%5s ${"recall@10"}%10s ${"visited"}%8s ${"sec"}%7s")
    for (m <- Seq(4, 8, 16)) {
      val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", m).persist()
      edges.count()
      for (beam <- Seq(4, 8, 16, 32); hops <- Seq(2, 3, 4)) {
        val t0 = System.nanoTime()
        // edges stay persisted across the whole (beam, hops) sweep
        val visited = Ann.graphSearch(spark, Ann.edgeLookup(edges),
            cents, "centroid_id", "centroid_vec",
            queries, "vec_id", "embedding", beam, hops)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1)
        val sec = (System.nanoTime() - t0) / 1e9
        val recalls = qids.map { qid =>
          val got = visited.getOrElse(qid, Array.empty)
            .sortBy { case (_, id, s) => (-s, id) }.take(10).map(_._2).toSet
          exact(qid).intersect(got).size.toDouble / exact(qid).size
        }
        val meanRecall = recalls.sum / recalls.size
        val meanVisited = visited.values.map(_.length).sum.toDouble / qids.size
        println(f"$m%4d $beam%5d $hops%5d $meanRecall%10.3f $meanVisited%8.1f $sec%7.2f")
      }
      edges.unpersist()
    }
    spark.stop()
  }
}
