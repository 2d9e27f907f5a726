package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Embed, GraphIndex, Ingest}

/** Stateful lifecycle property: a SEEDED random interleaving of
  * insert / delete / compact / rebuild must (a) never surface a
  * deleted chunk, (b) only ever return live chunks, and (c) end — via
  * one trailing rebuild — at exactly the store a fresh build over the
  * surviving rows would produce. (a)+(b) are the serving-safety
  * property no single-op spec can cover (guards interact: marks,
  * physical removal, append files, re-centroiding); (c) re-proves the
  * rebuild invariant AFTER an arbitrary history rather than the one
  * GraphIndexSpec scripts. Deterministic: fixed seed, and the checks
  * make no recall assumption (beam-search completeness is corpus-
  * dependent; membership correctness is not). */
class GraphLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  private lazy val embedded = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val chunks = Ingest.chunk(docs.filter(Ingest.nonBlank(col("text"))), "text", 32)
      .select("doc_id", "chunk_idx", "chunk_text")
    Embed.withEmbedding(chunks, "chunk_text", "embedding").persist()
  }

  test("random insert/delete/compact/rebuild history stays serving-safe; rebuild trues it up") {
    val rnd = new scala.util.Random(42)
    val allDocs = embedded.select("doc_id").distinct().orderBy("doc_id")
      .as[String].collect().toSeq
    val (baseDocs, pending0) = allDocs.splitAt(allDocs.length / 2)
    val dir = TestDirs.create("graft_glife").toString
    val h = GraphIndex.build(spark, embedded.filter(col("doc_id").isin(baseDocs: _*)),
      Seq("doc_id", "chunk_idx"), "embedding",
      dir, nCentroids = 8, m = 8, nBuckets = 16, beamWidth = 16, hops = 3)

    var pending = pending0 // docs not yet inserted
    var liveDocs = baseDocs.toSet
    var deleted = Set.empty[(String, Int)] // chunk keys marked/removed
    val queries = Seq("fast table scan merge join", "columnar storage compression")
      .map(q => Embed.embedQuery(spark, q).toSeq)

    def liveChunks(): Set[(String, Int)] = embedded
      .filter(col("doc_id").isin(liveDocs.toSeq: _*))
      .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSet -- deleted

    def checkServingSafe(label: String): Unit = {
      val live = liveChunks()
      queries.foreach { qv =>
        val got = h.search(spark, qv)
          .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq
        got.foreach { k =>
          assert(!deleted.contains(k), s"$label: deleted chunk $k surfaced")
          assert(live.contains(k), s"$label: non-live chunk $k surfaced")
        }
      }
    }

    for (step <- 1 to 8) {
      rnd.nextInt(4) match {
        case 0 if pending.nonEmpty => // insert the next held-out doc
          val d = pending.head; pending = pending.tail
          GraphIndex.insert(spark, h, embedded.filter(col("doc_id") === d),
            Seq("doc_id", "chunk_idx"), "embedding")
          liveDocs += d
          checkServingSafe(s"step $step insert $d")
        case 1 => // delete one random live chunk
          val candidates = liveChunks().toSeq.sorted
          if (candidates.nonEmpty) {
            val k = candidates(rnd.nextInt(candidates.length))
            GraphIndex.delete(spark, h, Seq(k).toDF("doc_id", "chunk_idx"),
              Seq("doc_id", "chunk_idx"))
            deleted += k
            checkServingSafe(s"step $step delete $k")
          }
        case 2 =>
          GraphIndex.compact(spark, h)
          checkServingSafe(s"step $step compact")
        case _ =>
          GraphIndex.rebuild(spark, h, nCentroids = 8)
          checkServingSafe(s"step $step rebuild")
      }
    }

    // trailing rebuild == fresh build over exactly the surviving rows
    val hReb = GraphIndex.rebuild(spark, h, nCentroids = 8)
    val live = liveChunks()
    val freshDir = TestDirs.create("graft_glife_fresh").toString
    val survivors = embedded
      .withColumn("_k", struct(col("doc_id"), col("chunk_idx")))
      .filter(col("doc_id").isin(liveDocs.toSeq: _*))
      .filter(!concat_ws("#", col("doc_id"), col("chunk_idx"))
        .isin(deleted.toSeq.map { case (d, c) => s"$d#$c" }: _*))
      .drop("_k")
    val hFresh = GraphIndex.build(spark, survivors, Seq("doc_id", "chunk_idx"),
      "embedding", freshDir, nCentroids = 8, m = hReb.m,
      nBuckets = hReb.nBuckets, beamWidth = hReb.beamWidth, hops = hReb.hops)
    def edgeSet(x: GraphIndex.Handle) = spark.read.parquet(x.edgesDir)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    def chunkSet(x: GraphIndex.Handle) = x.chunks(spark)
      .select("uid", "cell_id").as[(Long, Long)].collect().toSet
    assert(chunkSet(hReb) == chunkSet(hFresh),
      "post-history rebuild sidecar diverged from a fresh build")
    assert(edgeSet(hReb) == edgeSet(hFresh),
      "post-history rebuild edges diverged from a fresh build")
    assert(chunkSet(hReb).size == live.size)
  }
}
