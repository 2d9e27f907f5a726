package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Sq}

class SqSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  private lazy val embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")

  private lazy val queryVec: Seq[Double] =
    embeddings.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

  test("quantize: codes are int8-ranged, scale reconstructs within half a step") {
    val q = Sq.quantize(embeddings, "embedding")
    val row = q.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"), col("sq_code"), col("sq_scale"))
      .head()
    val raw = row.getSeq[Double](0)
    val code = row.getSeq[Byte](1)
    val scale = row.getDouble(2)
    assert(code.length == raw.length)
    assert(code.forall(c => c >= -127 && c <= 127))
    // dequantized value is within scale/2 of the original per component
    raw.zip(code).foreach { case (x, c) =>
      assert(math.abs(x - c * scale) <= scale / 2 + 1e-12,
        s"component off by more than half a quantization step: x=$x c=$c scale=$scale")
    }
  }

  test("quantize: zero vector yields all-zero codes, scale 0, sim 0") {
    val df = Seq((1L, Seq.fill(8)(0.0f)), (2L, Seq(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val q = Sq.quantize(df, "embedding")
    val z = q.filter(col("vec_id") === 1).select("sq_code", "sq_scale").head()
    assert(z.getSeq[Byte](0).forall(_ == 0))
    assert(z.getDouble(1) == 0.0)
    val top = Sq.searchTopK(q, "vec_id", Seq(1.0, 0, 0, 0, 0, 0, 0, 0), 2).collect()
    assert(top.head.getAs[Long]("vec_id") == 2L)
    assert(top.last.getAs[Double]("sim") == 0.0) // zero-norm guard, not NaN
  }

  test("SQ top-k: query's own row ranks first; rerank recovers the exact top-k") {
    val q = Sq.quantize(embeddings, "embedding")
    val sq = Sq.searchTopK(q, "vec_id", queryVec, 10).collect()
    assert(sq.head.getAs[Long]("vec_id") == 0L)
    val exact = Ann.bruteForceTopK(embeddings, "vec_id", "embedding", queryVec, 10)
      .select("vec_id").as[Long].collect().toSeq
    val reranked = Sq.searchRerank(q, embeddings, "vec_id", "embedding",
      queryVec, k = 10, candidates = 40).select("vec_id").as[Long].collect().toSeq
    // int8 keeps enough resolution that a 4x candidate cushion recovers
    // the exact neighbors on this corpus
    assert(reranked == exact,
      s"rerank diverged from exact: $reranked vs $exact")
  }

  test("SQ prefilter recall@10 vs exact is high even without rerank") {
    val q = Sq.quantize(embeddings, "embedding")
    val exact = Ann.bruteForceTopK(embeddings, "vec_id", "embedding", queryVec, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Sq.searchTopK(q, "vec_id", queryVec, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall@10 dropped to $recall")
  }

  test("truncated-dim rerank: full-prefix degenerate case is exact; 16-dim prefilter keeps the query row") {
    // prefixDim = full dim makes the prefilter the exact ranking, so
    // rerank must reproduce brute force even at candidates = k
    val exact = Ann.bruteForceTopK(embeddings, "vec_id", "embedding", queryVec, 10)
      .select("vec_id").as[Long].collect().toSeq
    val full = Ann.truncatedRerank(embeddings, "vec_id", "embedding",
      queryVec, k = 10, candidates = 10, prefixDim = queryVec.length)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == exact)
    val cut = Ann.truncatedRerank(embeddings, "vec_id", "embedding",
      queryVec, k = 10, candidates = 40, prefixDim = 16)
      .select("vec_id").as[Long].collect().toSeq
    assert(cut.head == 0L, s"query row must survive the 16-dim prefilter: $cut")
    // re-ranked sims are exact full-dim cosines: any returned id's sim
    // matches brute force exactly
    val exactSims = Ann.bruteForceTopK(embeddings, "vec_id", "embedding",
        queryVec, 2000).select("vec_id", "sim")
      .as[(Long, Double)].collect().toMap
    val cutSims = Ann.truncatedRerank(embeddings, "vec_id", "embedding",
        queryVec, k = 10, candidates = 40, prefixDim = 16)
      .select("vec_id", "sim").as[(Long, Double)].collect()
    cutSims.foreach { case (id, sim) =>
      assert(math.abs(sim - exactSims(id)) < 1e-12) }
  }

  test("int8 tier is materially smaller on disk than the float tier") {
    val dir = TestDirs.create("sq_size").toString
    embeddings.select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/fp32")
    Sq.quantize(embeddings, "embedding").select("vec_id", "sq_code", "sq_scale")
      .write.mode("overwrite").parquet(s"$dir/sq8")
    def bytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val fp = bytes(s"$dir/fp32"); val sq = bytes(s"$dir/sq8")
    // raw ratio is 4x; parquet encoding gives some of it back on the
    // float side, so assert a conservative material reduction
    assert(sq < fp * 0.6, s"sq8 tier not smaller: $sq vs $fp bytes")
  }

  test("gated SQ8 publish: healthy store passes; quantization collapse refuses, prior survives") {
    // the breach is QUANTIZATION COLLAPSE, constructed exactly: rows 0
    // and 1 differ only in a component below the int8 resolution
    // (0.002 < half a code step of 1/127 ≈ 0.0079), so both quantize
    // to code (127, 0) — the int8 prefilter ties and breaks to the
    // LOWER id, which is the exact-cosine LOSER for this query. With
    // candidates = k = 1 the true neighbor is evicted before the
    // re-rank: recall 0, gate refuses.
    val rows = Seq(
      (0L, Seq(1.0, 0.0)),    // code (127, 0); exact loser
      (1L, Seq(1.0, 0.002))   // code (127, 0); exact winner for q
    ).toDF("id", "vec")
    val workload = Seq((0L, Seq(1.0, 0.004))).toDF("qid", "qvec")
    val dir = TestDirs.create("graft_sqgate").toString
    // healthy knobs first: candidates=2 re-ranks both ties exactly
    val r = Sq.writeIndexGated(spark, rows, "id", "vec", dir, workload,
      k = 1, candidates = 2, recallFloor = 0.9)
    assert(r == 1.0, s"re-rank over the full tie set must be exact, got $r")
    val published = spark.read.parquet(dir).count()
    assert(published == 2L)
    // collapse knobs: refused, prior store untouched, staging cleaned
    val err = intercept[IllegalStateException] {
      Sq.writeIndexGated(spark, rows, "id", "vec", dir, workload,
        k = 1, candidates = 1, recallFloor = 0.9)
    }
    assert(err.getMessage.contains("below the floor"), err.getMessage)
    assert(spark.read.parquet(dir).count() == published,
      "a refused rebuild must leave the prior store serving")
    assert(!new java.io.File(dir + "__gate_staging").exists(),
      "refused build must clean its staging dir")
    // the published artifact is self-contained for searchRerank
    val store = spark.read.parquet(dir)
    val got = Sq.searchRerank(store, store, "id", "vec",
      Seq(1.0, 0.004), k = 1, candidates = 2)
      .select("id").as[Long].head()
    assert(got == 1L, "published two-tier store must serve the exact winner")
  }
}
