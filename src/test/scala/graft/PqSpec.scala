package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions.l2Normalize
import graft.operators.{Ann, Pq}

class PqSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  // sf0.001 embeddings (500 × 64-dim), L2-normalized so inner product
  // ranking ≡ cosine ranking
  private lazy val index = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), l2Normalize(col("embedding").cast("array<double>")).as("vec"))
    .cache()

  private lazy val cb = Pq.train(index, "vec_id", "vec", m = 8, k = 16, iters = 2)

  test("codebooks: full shape, deterministic across trainings") {
    assert(cb.m == 8 && cb.k == 16 && cb.subDim == 8)
    assert(cb.cents.flatten.nonEmpty)
    val cb2 = Pq.train(index, "vec_id", "vec", m = 8, k = 16, iters = 2)
    assert(cb.cents.flatten.flatten.toSeq == cb2.cents.flatten.flatten.toSeq)
  }

  test("headCodebooks ≡ train(iters = 0): the seed codebook, no Lloyd pass") {
    val head = Pq.headCodebooks(index, "vec_id", "vec", m = 8, k = 16)
    val seed = Pq.train(index, "vec_id", "vec", m = 8, k = 16, iters = 0)
    assert(head.m == seed.m && head.k == seed.k && head.subDim == seed.subDim)
    assert(head.cents.flatten.flatten.toSeq == seed.cents.flatten.flatten.toSeq)
  }

  test("encode: 64x compression, deterministic, codes in range") {
    val codes = Pq.encode(index, "vec_id", "vec", cb).collect()
    assert(codes.length == 500)
    codes.foreach { e =>
      assert(e.codes.length == 8) // 512-byte float64 vector -> 8 bytes
      e.codes.foreach(c => assert((c & 0xff) < 16))
    }
    val again = Pq.encode(index, "vec_id", "vec", cb).collect()
      .map(e => e.id -> e.codes.toSeq).toMap
    codes.foreach(e => assert(again(e.id) == e.codes.toSeq))
  }

  test("IVF-PQ composed stack: cell-pruned ADC recall >= 0.6 vs brute force") {
    import graft.operators.Ann
    val query = index.filter(col("vec_id") === 0)
      .select("vec").as[Seq[Double]].head().toArray
    val exact = Ann.bruteForceTopK(index, "vec_id", "vec", query.toSeq, 10)
      .select("vec_id").as[Long].collect().toSet
    // coarse quantizer: 8 head centroids, probe 4 of 8 cells
    val cents = Ann.headCentroids(index, "vec_id", "vec", 8)
    val assigned = Ann.assignCells(index, "vec_id", "vec", cents, "centroid_id", "centroid_vec")
    val encoded = Pq.encode(index, "vec_id", "vec", cb)
      .withColumnRenamed("id", "vec_id")
    val assignedEncoded = assigned.join(encoded, "vec_id")
    val got = Pq.ivfPqSearchTopK(assignedEncoded, "vec_id", "vec", cb,
        cents, "centroid_id", "centroid_vec", query,
        topK = 10, nprobe = 4, candidates = 100)
      .select("vec_id").as[Long].collect().toSet
    // two approximations compound (cell pruning + PQ): looser bound
    val recall = exact.intersect(got).size / 10.0
    assert(recall >= 0.6, s"IVF-PQ recall $recall (got $got vs $exact)")
  }

  test("ADC search with exact re-rank reaches recall >= 0.7 vs brute force") {
    val query = index.filter(col("vec_id") === 0)
      .select("vec").as[Seq[Double]].head().toArray
    val exact = Ann.bruteForceTopK(index, "vec_id", "vec", query.toSeq, 10)
      .select("vec_id").as[Long].collect().toSet
    val encoded = Pq.encode(index, "vec_id", "vec", cb)
    val got = Pq.searchTopK(index, "vec_id", "vec", encoded, cb, query,
        topK = 10, candidates = 100)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(got).size / 10.0
    assert(recall >= 0.7, s"PQ recall $recall below bound (got $got vs $exact)")
  }

  test("gated IVF-PQ publish: full width passes; bad nprobe refuses, prior store survives") {
    // AnnSpec's 2-cell circle geometry: the query's true top-10 spans
    // both cells, so nprobe=1 provably recalls 0.6 and the gate must
    // refuse it — while nprobe=2 with an all-rows candidate pool is
    // exact after the re-rank and publishes at 1.0
    def onCircle(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val vecs = ((0 until 6).map(i => (i.toLong, onCircle(i * 5))) ++
      (0 until 6).map(i => (10L + i, onCircle(90 - i * 5)))).toDF("id", "vec")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cvec")
    val cb2 = Pq.headCodebooks(vecs, "id", "vec", m = 2, k = 8)
    val enc = Pq.encode(vecs, "id", "vec", cb2).toDF()
      .select(col("id"), col("codes"))
    val assignedEncoded = Ann.assignCells(vecs, "id", "vec", cents, "cid", "cvec")
      .join(enc, "id")
    val workload = Seq((0L, onCircle(0))).toDF("qid", "qvec")
    val dir = TestDirs.create("graft_ivfpqgate").toString
    val r = Pq.writeIvfPqIndexGated(spark, assignedEncoded, "id", "vec", cb2,
      cents, "cid", "cvec", dir, workload,
      nprobe = 2, candidates = 12, k = 10, recallFloor = 0.9)
    assert(r == 1.0, s"full-width IVF-PQ with an all-rows pool must be exact, got $r")
    val published = spark.read.parquet(dir).count()
    assert(published == 12L, "gate must publish the staged store")
    // in-place rebuild at a silently bad nprobe: refused, prior store intact
    val err = intercept[IllegalStateException] {
      Pq.writeIvfPqIndexGated(spark, assignedEncoded, "id", "vec", cb2,
        cents, "cid", "cvec", dir, workload,
        nprobe = 1, candidates = 12, k = 10, recallFloor = 0.9)
    }
    assert(err.getMessage.contains("below the floor"), err.getMessage)
    assert(spark.read.parquet(dir).count() == published,
      "a refused rebuild must leave the prior store serving")
    assert(!new java.io.File(dir + "__gate_staging").exists(),
      "refused build must clean its staging dir")
  }

  test("gated IVF-PQ exact side: the query-table top-k equals the crossJoin formula on raw bits") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.cosine
    val k = 10
    val workload = index.filter(col("vec_id") % 50 === 7)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val qRows = workload.collect()
    val table = qRows.map(_.getSeq[Double](1).toArray)
    // the exact side the gate used to run: every query vector copied
    // onto every row, one window per query id
    val qDf = workload.select(col("qid").as("_qid"), col("qvec").cast("array<double>").as("_qv"))
    val w = Window.partitionBy("_qid").orderBy(desc("_sim"), col("vec_id"))
    val old = index.crossJoin(broadcast(qDf))
      .withColumn("_sim", cosine(col("vec").cast("array<double>"), col("_qv")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_qid"), col("vec_id"), col("_sim")).collect()
      .map(r => (r.get(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    val now = Ann.exactTopK(index, "vec_id", "vec", table, k)
      .select(col("_qi"), col("vec_id"), col("_sim")).collect()
      .map(r => (qRows(r.getInt(0)).get(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    assert(old.size == table.length * k)
    assert(now == old)
    // a null query vector is refused before anything is staged
    val dir = TestDirs.create("graft_ivfpq_nullq").toString + "/s"
    val withNull = workload.union(
      Seq((-1L, null.asInstanceOf[Seq[Double]])).toDF("qid", "qvec"))
    val err = intercept[IllegalArgumentException](
      Pq.writeIvfPqIndexGated(spark, index, "vec_id", "vec", cb,
        index.limit(4).select(col("vec_id").as("cid"), col("vec").as("cvec")),
        "cid", "cvec", dir, withNull, nprobe = 1))
    assert(err.getMessage.contains("null query vector"))
    assert(!new java.io.File(dir).exists())
  }
}
