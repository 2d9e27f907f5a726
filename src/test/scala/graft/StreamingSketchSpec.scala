package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketch
import graft.streaming.StreamingSketch

class StreamingSketchSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  /** Three "days" of token arrivals with deliberate overlap: tokens
    * repeat within and across batches, so the merged sketches must
    * reconcile cross-batch duplicates, not just concatenate. */
  private val day0 = Seq("alpha", "beta", "alpha", "gamma", "delta", "alpha")
  private val day1 = Seq("beta", "beta", "epsilon", "alpha", "zeta")
  private val day2 = Seq("gamma", "eta", "eta", "alpha", "beta", "theta")
  private def all = day0 ++ day1 ++ day2

  test("streamed count-min grid merges by addition to the one-shot grid") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = TestDirs.create("graft_cmloop").toFile.getAbsolutePath
    val input = MemoryStream[String]
    val q = StreamingSketch.cmSketchStream(
      input.toDF().toDF("tok"), "tok",
      s"$root/grid", s"$root/ckpt", depth = 4, width = 32)
    Seq(day0, day1, day2).foreach { d =>
      input.addData(d: _*); q.processAllAvailable()
    }
    q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("row", "bucket", "cnt")
        .as[(Int, Long, Long)].collect().sorted.toSeq
    val merged = cells(StreamingSketch.mergedCmGrid(spark, s"$root/grid"))
    val oneShot = cells(Sketch.cmSketch(all.toDF("tok"), "tok", 4, 32))
    assert(merged == oneShot,
      s"streamed grid != one-shot grid:\n$merged\nvs\n$oneShot")
    // and the estimates downstream agree too (the user-visible contract)
    val probes = Seq("alpha", "beta", "eta", "never_seen").toDF("tok")
    val est = Sketch.cmEstimates(
        StreamingSketch.mergedCmGrid(spark, s"$root/grid"), probes, "tok", 4, 32)
      .as[(String, Long)].collect().toMap
    assert(est("alpha") >= 5L && est("beta") >= 4L && est("never_seen") == 0L, est.toString)

    // replay idempotency: re-running batch 1 leaves the store identical
    val before = spark.read.parquet(s"$root/grid")
      .select("row", "bucket", "cnt", "batch_id")
      .as[(Int, Long, Long, Long)].collect().sorted.toSeq
    StreamingSketch.processCmIncrement(day1.toDF("tok"), 1L, "tok",
      s"$root/grid", 4, 32)
    val after = spark.read.parquet(s"$root/grid")
      .select("row", "bucket", "cnt", "batch_id")
      .as[(Int, Long, Long, Long)].collect().sorted.toSeq
    assert(after == before, "replaying batch 1 changed the grid store")

    // geometry drift refuses loudly — a wider grid cannot merge
    val ex = intercept[IllegalArgumentException] {
      StreamingSketch.processCmIncrement(day2.toDF("tok"), 3L, "tok",
        s"$root/grid", 4, 64)
    }
    assert(ex.getMessage.contains("accumulated"), ex.getMessage)
  }

  test("streamed KMV partials union-merge to the one-shot bottom-k") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = TestDirs.create("graft_kmvloop").toFile.getAbsolutePath
    val input = MemoryStream[(String, String)]
    // k=3 < the 9-token vocabulary, so the estimator path (not the
    // exact small-domain path) is what the merge must preserve
    val q = StreamingSketch.kmvSketchStream(
      input.toDF().toDF("src", "tok"), "src", "tok",
      s"$root/kmv", s"$root/ckpt", k = 3)
    Seq(day0, day1, day2).foreach { d =>
      input.addData(d.map(("s0", _)) ++ d.map(("s1", _)): _*)
      q.processAllAvailable()
    }
    q.stop()
    def sk(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "h", "rk").as[(String, Long, Int)].collect().sorted.toSeq
    val merged = sk(StreamingSketch.mergedKmv(spark, s"$root/kmv", "src", 3))
    val oneShot = sk(Sketch.kmvPerGroup(
      (all.map(("s0", _)) ++ all.map(("s1", _))).toDF("src", "tok"), "src", "tok", 3))
    assert(merged == oneShot, s"merged KMV != one-shot:\n$merged\nvs\n$oneShot")
    // k drift refuses: a k=5 probe against the k=3 store
    val ex = intercept[IllegalArgumentException] {
      StreamingSketch.processKmvIncrement(Seq(("s0", "x")).toDF("src", "tok"),
        9L, "src", "tok", s"$root/kmv", 5)
    }
    assert(ex.getMessage.contains("accumulated"), ex.getMessage)
  }

  test("streamed Bloom partials OR-merge to the one-shot filter") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = TestDirs.create("graft_bloomloop").toFile.getAbsolutePath
    def doc(words: Seq[String]) = words.mkString(" ")
    val b0 = Seq(doc(Seq("alpha", "beta", "gamma", "delta")))
    val b1 = Seq(doc(Seq("gamma", "delta", "epsilon", "zeta")))
    val input = MemoryStream[String]
    val q = StreamingSketch.bloomBitsStream(
      input.toDF().toDF("text"), "text",
      s"$root/bits", s"$root/ckpt", shingleN = 2, numHashes = 3, mBits = 1024)
    Seq(b0, b1).foreach { d => input.addData(d: _*); q.processAllAvailable() }
    q.stop()
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.select("pos").as[Int].collect().sorted.toSeq
    val merged = bits(StreamingSketch.mergedBloomBits(spark, s"$root/bits"))
    val oneShot = bits(Sketch.bloomBits((b0 ++ b1).toDF("text"), "text", 2, 3, 1024))
    assert(merged == oneShot, s"merged bits != one-shot:\n$merged\nvs\n$oneShot")
    // the merged filter still has no false negatives against its accumulated bench
    val arr = Sketch.bloomArray(
      StreamingSketch.mergedBloomBits(spark, s"$root/bits"), 1024)
    val flagged = Sketch.bloomContamination(
        Seq((1L, b0.head), (2L, b1.head), (3L, doc(Seq("nu", "xi", "omicron", "pi")))).toDF("doc_id", "text"),
        "doc_id", "text", arr, shingleN = 2, numHashes = 3, minHits = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(flagged.contains(1L) && flagged.contains(2L), flagged.toString)
    // geometry drift refuses
    val ex = intercept[IllegalArgumentException] {
      StreamingSketch.processBloomIncrement(b1.toDF("text"), 5L, "text",
        s"$root/bits", 2, 3, 2048)
    }
    assert(ex.getMessage.contains("accumulated"), ex.getMessage)
  }
}
