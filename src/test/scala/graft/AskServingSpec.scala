package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AskPipeline, Embed, Ingest}
import graft.streaming.AskServing

/** The streaming ask serving loop: per-micro-batch batched answering,
  * cache evolution across batches (the reference's hot path), and the
  * crash-replay idempotence contract shared with the incremental
  * loops. */
class AskServingSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  private lazy val index = {
    val docs = Seq(
      ("d1", "spark shuffle join performance tuning for large tables"),
      ("d2", "pasta recipes and pizza dough for the home cook"),
      ("d3", "broadcast join strategies in distributed query engines"))
      .toDF("doc_id", "text")
    val chunks = Ingest.chunk(docs, "text", 16).select("doc_id", "chunk_idx", "chunk_text")
    Embed.withEmbedding(chunks, "chunk_text", "embedding")
  }

  test("streaming ask: batched answers, cross-batch cache hit, replay idempotence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val serveDir = TestDirs.create("graft_serve").toString
    val ckpt = TestDirs.create("graft_serve_ck").toString
    val input = MemoryStream[(Long, String)]
    val q = AskServing.askStream(
      input.toDF().toDF("query_id", "query"), index, serveDir, ckpt)
    try {
      input.addData((1L, "spark join tuning"), (2L, "pizza dough recipe"))
      q.processAllAvailable()
      input.addData((3L, "spark join tuning"), (4L, "broadcast strategies"))
      q.processAllAvailable()
    } finally q.stop()

    val answers = spark.read.parquet(s"$serveDir/answers")
      .select("query_id", "answer", "from_cache")
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(answers.size == 4)
    // batch 1 all missed; batch 2's repeat of query 1 is the hot path
    assert(!answers(1L)._2 && !answers(2L)._2 && !answers(4L)._2)
    assert(answers(3L)._2, "identical later query must hit the evolved cache")
    assert(answers(3L)._1 == answers(1L)._1, "cached answer must match the original")
    // the evolved cache carries the bumped freq, and the loop pruned
    // all snapshots except the predecessor + latest
    val cacheDirs = new java.io.File(s"$serveDir/cache").listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(cacheDirs.length == 2, s"expected pruned snapshots, got ${cacheDirs.toSeq}")
    val latest = spark.read.parquet(s"$serveDir/cache/${cacheDirs.last}")
    assert(latest.filter(col("entry_id") === 1L).select("freq").as[Int].head() == 2)

    // crash-replay: re-run the SECOND micro-batch against the same
    // state — outputs must be byte-for-byte the run's (idempotent
    // overwrite from the predecessor snapshot)
    val before = spark.read.parquet(s"$serveDir/answers/batch_id=1")
      .as[(Long, String, String, Boolean)].collect().toSet
    AskServing.processAskMicroBatch(
      Seq((3L, "spark join tuning"), (4L, "broadcast strategies"))
        .toDF("query_id", "query"),
      batchId = 1, index, serveDir, graph = None,
      topK = graft.Schemas.DefaultTopK, threshold = graft.Schemas.CacheThreshold,
      capacity = graft.Schemas.CacheCapacity, dim = graft.Schemas.EmbeddingDim)
    val after = spark.read.parquet(s"$serveDir/answers/batch_id=1")
      .as[(Long, String, String, Boolean)].collect().toSet
    assert(after == before, "replayed micro-batch diverged")
    // streaming loop answers equal the sequential ask loop's
    val (r1, c1) = AskPipeline.ask(spark, index, Seq.empty[(Long, Seq[Float], String, Int)]
      .toDF("entry_id", "embedding", "response", "freq"), "spark join tuning")
    assert(answers(1L)._1 == r1.answer)

    // a serveDir from ANOTHER incarnation (snapshots ahead of the
    // batch id — e.g. a fresh checkpoint pointed at an old serveDir)
    // must fail loudly, not silently serve the previous run's cache
    val e = intercept[IllegalArgumentException] {
      AskServing.processAskMicroBatch(
        Seq((9L, "pizza dough recipe")).toDF("query_id", "query"),
        batchId = 0, index, serveDir, graph = None,
        topK = graft.Schemas.DefaultTopK, threshold = graft.Schemas.CacheThreshold,
        capacity = graft.Schemas.CacheCapacity, dim = graft.Schemas.EmbeddingDim)
    }
    assert(e.getMessage.contains("different stream incarnation"))
  }
}
