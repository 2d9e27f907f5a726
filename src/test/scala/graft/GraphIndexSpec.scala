package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{AskPipeline, Embed, GraphIndex, Ingest, Retrieval, Similarity}

/** The graph-ANN store behind the ask pipeline (round-8 verdict item 6:
  * the reference's serving split — HNSW built at ingest, searched per
  * /ask). Pins: graph-routed retrieval matches exact top-k on the demo
  * queries, AskPipeline routes through it unchanged, and the store
  * handle survives a fresh read (serving process ≠ ingest process). */
class GraphIndexSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val embedded = {
    // doc_id's physical type has drifted across testdata generations
    // (string ↔ int64) — pin it to string so the fixture is stable
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val chunks = Ingest.chunk(docs.filter(operators.Ingest.nonBlank(col("text"))), "text", 32)
      .select("doc_id", "chunk_idx", "chunk_text")
    Embed.withEmbedding(chunks, "chunk_text", "embedding").persist()
  }

  private lazy val handle = {
    val dir = TestDirs.create("graft_gidx").toString
    // nc=16/m=16/beam=32: the cheapest point of a settings sweep where
    // the graph walk's top-3 equals exact top-3 on every demo query
    // below — near-uniform synthetic vectors need the wide beam (real
    // embedding corpora cluster and sit higher at the same settings)
    GraphIndex.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      dir, nCentroids = 16, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
  }

  private val demoQueries = Seq(
    "fast table scan merge join",
    "columnar storage compression",
    "stream window aggregation state")

  test("graph top-k equals exact top-k on the demo queries") {
    demoQueries.foreach { q =>
      val qv = Embed.embedQuery(spark, q).toSeq
      val exact = Similarity.topK(embedded, "embedding", qv, 3,
          tieBreak = Seq("doc_id", "chunk_idx"))
        .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq
      val viaGraph = handle.topK(spark, qv, 3,
          tieBreak = Seq("doc_id", "chunk_idx"))
        .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq
      assert(viaGraph == exact, s"graph retrieval diverged from exact for '$q'")
    }
  }

  test("askGraph emits the same prompt as the exact ask when top-k agrees") {
    demoQueries.foreach { q =>
      val exactPrompt = Retrieval.ask(spark,
          spark.read.parquet(s"$sfDir/documents.parquet"), q, topK = 3,
          chunkSize = 32)
        .select("prompt").head().getString(0)
      val graphPrompt = Retrieval.askGraph(spark, handle, q, topK = 3)
        .select("prompt").head().getString(0)
      assert(graphPrompt == exactPrompt, s"askGraph prompt diverged for '$q'")
    }
  }

  test("AskPipeline routed through the graph store: same answer, cache round-trip intact") {
    val emptyCache = Seq.empty[(Long, Seq[Float], String, Int)]
      .toDF("entry_id", "embedding", "response", "freq")
    val q = demoQueries.head
    val (exactRes, _) = AskPipeline.ask(spark, embedded, emptyCache, q)
    val (graphRes, c1) = AskPipeline.ask(spark, embedded, emptyCache, q,
      graph = Some(handle))
    assert(!graphRes.fromCache)
    assert(graphRes.answer == exactRes.answer)
    assert(graphRes.prompt == exactRes.prompt)
    // second ask hits the semantic cache — the graph walk is skipped
    // entirely, the reference's hot path
    val (hit, c2) = AskPipeline.ask(spark, embedded, c1, q, graph = Some(handle))
    assert(hit.fromCache && hit.answer == graphRes.answer)
    assert(c2.select("freq").as[Int].head() == 2)
  }

  test("batched serving equals solo search per query (shared per-hop reads)") {
    import spark.implicits._
    val qdf = demoQueries.zipWithIndex
      .map { case (q, i) => (i.toLong, Embed.embedQuery(spark, q).toSeq) }
      .toDF("query_id", "qvec")
    val batched = handle.topKBatch(spark, qdf, "query_id", "qvec",
        3, tieBreak = Seq("doc_id", "chunk_idx"))
      .select("query_id", "rank", "doc_id", "chunk_idx")
      .as[(Long, Int, String, Int)].collect().toSeq.sorted
    val solo = demoQueries.zipWithIndex.flatMap { case (q, i) =>
      handle.topK(spark, Embed.embedQuery(spark, q).toSeq, 3,
          tieBreak = Seq("doc_id", "chunk_idx"))
        .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("sim"), col("doc_id"), col("chunk_idx"))))
        .select("doc_id", "chunk_idx", "rank")
        .as[(String, Int, Int)].collect()
        .map { case (d, c, r) => (i.toLong, r, d, c) }
    }.sorted
    assert(batched == solo)
  }

  test("build refuses duplicate natural keys (silent node merge)") {
    val dup = embedded.limit(4).unionAll(embedded.limit(2))
    val dir = TestDirs.create("graft_gdup").toString
    val e = intercept[IllegalArgumentException] {
      GraphIndex.build(spark, dup, Seq("doc_id", "chunk_idx"), "embedding", dir)
    }
    assert(e.getMessage.contains("duplicate uid"))
  }

  test("insert: uploaded docs join the live index and become retrievable") {
    import operators.{GraphIndex => GI}
    // build over the corpus MINUS one held-out doc, then upload it —
    // the reference's live-index append (app/embedding_gen.py:315-409)
    val held = embedded.select("doc_id").orderBy("doc_id").head().getString(0)
    val base = embedded.filter(col("doc_id") =!= held)
    val upload = embedded.filter(col("doc_id") === held)
    val dir = TestDirs.create("graft_gins").toString
    val h = GI.build(spark, base, Seq("doc_id", "chunk_idx"), "embedding",
      dir, nCentroids = 16, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
    // query with the held-out doc's own first chunk text: a perfect-sim
    // self-match once the doc is in the index
    val qText = upload.orderBy("chunk_idx").select("chunk_text").head().getString(0)
    val qv = Embed.embedQuery(spark, qText).toSeq
    val before = h.topK(spark, qv, 1, tieBreak = Seq("doc_id", "chunk_idx"))
      .select("doc_id").as[String].collect()
    assert(!before.contains(held))
    val oldTop = h.topK(spark, Embed.embedQuery(spark, demoQueries.head).toSeq,
        3, tieBreak = Seq("doc_id", "chunk_idx"))
      .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq
    val nEdges = GI.insert(spark, h, upload, Seq("doc_id", "chunk_idx"), "embedding")
    assert(nEdges > 0)
    // edge-budget sanity: appended rows ≤ |B|·(2m+1) (top-m + reverses + up-link)
    val b = upload.count()
    assert(nEdges <= b * (2 * h.m + 1))
    val after = h.topK(spark, qv, 1, tieBreak = Seq("doc_id", "chunk_idx"))
      .select("doc_id", "sim").as[(String, Double)].collect()
    assert(after.head._1 == held && after.head._2 > 0.99,
      s"uploaded doc not retrieved: $after")
    // results for unrelated existing queries are unchanged
    val oldTopAfter = h.topK(spark, Embed.embedQuery(spark, demoQueries.head).toSeq,
        3, tieBreak = Seq("doc_id", "chunk_idx"))
      .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq
    assert(oldTopAfter == oldTop)
  }

  // -------------------- the in-JVM Hot serving tier -------------------- //

  /** (doc_id, chunk_idx, raw sim bits) of a tier's full visited set. */
  private def visitedBits(tier: GraphIndex.Serving, qv: Seq[Double]): Seq[(String, Int, Long)] =
    tier.search(spark, qv)
      .select("doc_id", "chunk_idx", "sim")
      .as[(String, Int, Double)].collect().toSeq
      .map(r => (r._1, r._2, java.lang.Double.doubleToRawLongBits(r._3))).sorted

  test("hot serving: in-JVM walk equals the cold Spark walk on FULL visited sets") {
    val hotH = GraphIndex.hot(spark, handle)
    try {
      // full visited set + exact sims on raw bits — the walk must be the
      // same beam expansion as the oracle-gated store walk, and the
      // re-attach the same rows, not just the same top-k
      demoQueries.foreach { q =>
        val qv = Embed.embedQuery(spark, q).toSeq
        val cold = visitedBits(handle, qv)
        assert(cold.nonEmpty)
        assert(visitedBits(hotH, qv) == cold, s"hot visited set diverged for '$q'")
      }
      // batch path: same per-query rows
      val qdf = demoQueries.zipWithIndex
        .map { case (q, i) => (i.toLong, Embed.embedQuery(spark, q).toSeq) }
        .toDF("query_id", "qvec")
      def batchOf(tier: GraphIndex.Serving) =
        tier.topKBatch(spark, qdf, "query_id", "qvec",
            3, tieBreak = Seq("doc_id", "chunk_idx"))
          .select("query_id", "rank", "doc_id", "chunk_idx", "sim")
          .as[(Long, Int, String, Int, Double)].collect().toSeq
          .map(r => (r._1, r._2, r._3, r._4, java.lang.Double.doubleToRawLongBits(r._5))).sorted
      assert(batchOf(hotH) == batchOf(handle))
      // the ask pipeline accepts a Hot wherever a Serving goes
      val q = demoQueries.head
      val coldPrompt = Retrieval.askGraph(spark, handle, q, topK = 3)
        .select("prompt").head().getString(0)
      val hotPrompt = Retrieval.askGraph(spark, hotH, q, topK = 3)
        .select("prompt").head().getString(0)
      assert(hotPrompt == coldPrompt)
    } finally hotH.cool()
  }

  test("hot serving: a DENSE random query's full visited set equals the cold walk") {
    // the demo queries are sparse hashed-BoW vectors, so the hot walk
    // folds them over their nonzeros only; a Gaussian query has no zero
    // component and pins the dense side of the same fold
    val hotH = GraphIndex.hot(spark, handle)
    try {
      val rnd = new scala.util.Random(17L)
      val qv = Seq.fill(graft.Schemas.EmbeddingDim)(rnd.nextGaussian())
      assert(qv.forall(_ != 0.0))
      val cold = visitedBits(handle, qv)
      assert(cold.nonEmpty)
      assert(visitedBits(hotH, qv) == cold,
        "hot visited set diverged from the cold walk for a dense query")
    } finally hotH.cool()
  }

  test("every tier and measureRecall refuse a duplicate-id or null-vector query table alike") {
    // two rows under one id would walk apart and merge under that id
    // (topKBatch ranking a chunk twice); a null vector has no walk
    val qv = Embed.embedQuery(spark, demoQueries.head).toSeq
    val qv2 = Embed.embedQuery(spark, demoQueries(1)).toSeq
    val dupIds = Seq((7L, qv), (7L, qv2)).toDF("query_id", "qvec")
    val nullVec = Seq((1L, Some(qv)), (2L, None: Option[Seq[Double]])).toDF("query_id", "qvec")
    val hotH = GraphIndex.hot(spark, handle)
    val sh = GraphIndex.hotSharded(spark, handle, nShards = 2)
    try {
      Seq(dupIds -> "distinct", nullVec -> "null").foreach { case (table, what) =>
        val refusals = Seq[(String, () => Any)](
          "cold" -> (() => handle.searchBatch(spark, table, "query_id", "qvec")),
          "hot" -> (() => hotH.searchBatch(spark, table, "query_id", "qvec")),
          "sharded" -> (() => sh.searchBatch(spark, table, "query_id", "qvec")),
          "measureRecall" -> (() => GraphIndex.measureRecall(spark, handle, embedded,
            Seq("doc_id", "chunk_idx"), "embedding", queries = Some(table))))
          .map { case (tier, run) =>
            val e = intercept[IllegalArgumentException](run())
            assert(e.getMessage.contains(what), s"$tier: ${e.getMessage}")
            tier -> e.getMessage
          }
        assert(refusals.map(_._2).distinct.length == 1, s"refusals differ: $refusals")
      }
    } finally { hotH.cool(); sh.cool() }
  }

  test("sharded hot at nShards=1 is bit-for-bit the single-JVM hot walk") {
    val hotH = GraphIndex.hot(spark, handle)
    val sh = GraphIndex.hotSharded(spark, handle, nShards = 1)
    try {
      demoQueries.foreach { q =>
        val qv = Embed.embedQuery(spark, q).toSeq
        val hotRows = hotH.search(spark, qv)
          .select("uid", "sim").as[(Long, Double)].collect().toSet
        val shRows = sh.search(spark, qv)
          .select("uid", "sim").as[(Long, Double)].collect().toSet
        assert(shRows == hotRows, s"sharded(1) visited set diverged for '$q'")
      }
      val qdf = demoQueries.zipWithIndex
        .map { case (q, i) => (i.toLong, Embed.embedQuery(spark, q).toSeq) }
        .toDF("query_id", "qvec")
      val hotBatch = hotH.topKBatch(spark, qdf, "query_id", "qvec",
          3, tieBreak = Seq("doc_id", "chunk_idx"))
        .select("query_id", "rank", "doc_id", "chunk_idx")
        .as[(Long, Int, String, Int)].collect().toSeq.sorted
      val shBatch = sh.topKBatch(spark, qdf, "query_id", "qvec",
          3, tieBreak = Seq("doc_id", "chunk_idx"))
        .select("query_id", "rank", "doc_id", "chunk_idx")
        .as[(Long, Int, String, Int)].collect().toSeq.sorted
      assert(shBatch == hotBatch)
    } finally { hotH.cool(); sh.cool() }
  }

  test("sharded hot: the distributed fan-out is bit-for-bit the in-JVM walk of the same shards") {
    // the visited-set discipline for the sharded tier: the executor-side
    // job must equal a driver-side walkArrays replay over shard arrays
    // the SPEC builds independently from the store — the distributed
    // execution mechanism adds nothing beyond the shard confinement
    val nShards = 4
    val sh = GraphIndex.hotSharded(spark, handle, nShards)
    try {
      def shardOf(cell: Long): Int = (((cell % nShards) + nShards) % nShards).toInt
      val chunkRows = handle.chunks(spark)
        .select(col("uid").cast("long"), col("embedding").cast("array<double>"),
          col("cell_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
      val chunkIds = chunkRows.map(_._1).toSet
      val centRows = handle.centroids(spark).orderBy("centroid_id")
        .select(col("centroid_id").cast("long"),
          col("centroid_vec").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      // nodes per shard: chunk rows by their own cell; centroid-only
      // rows by their own id (chunk version wins on overlap)
      val nodesByShard = (chunkRows.map { case (id, v, cell) => (shardOf(cell), id, v) } ++
        centRows.filterNot(c => chunkIds.contains(c._1))
          .map { case (id, v) => (shardOf(id), id, v) })
        .groupBy(_._1)
      val nodeShard = (chunkRows.map(c => c._1 -> shardOf(c._3)) ++
        centRows.filterNot(c => chunkIds.contains(c._1))
          .map(c => c._1 -> shardOf(c._1))).toMap
      val edges = spark.read.parquet(handle.edgesDir)
        .select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (s, d) => nodeShard.contains(s) && nodeShard.contains(d) &&
          nodeShard(s) == nodeShard(d) }
      val arraysByShard = nodesByShard.map { case (sid, ns) =>
        val ids = ns.map(_._2)
        val vecs = ns.map(_._3)
        val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
        val idx = ids.zipWithIndex.toMap
        val adj = Array.fill(ids.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
        edges.foreach { case (s, d) =>
          if (idx.contains(s) && idx.contains(d)) adj(idx(s)) += idx(d)
        }
        sid -> (new GraphIndex.GraphArrays(ids, vecs, norms, adj.map(_.toArray)), idx)
      }
      def cosineOf(q: Array[Double], v: Array[Double]): Double = {
        var qn = 0.0; var vn = 0.0; var dot = 0.0; var i = 0
        while (i < q.length) { qn += q(i) * q(i); vn += v(i) * v(i); dot += q(i) * v(i); i += 1 }
        if (qn == 0.0 || vn == 0.0) 0.0 else dot / (math.sqrt(qn) * math.sqrt(vn))
      }
      demoQueries.foreach { q =>
        val qv = Embed.embedQuery(spark, q).toArray
        // the routing rule: global top-beam centroids, each routed to
        // the shard its node row ACTUALLY landed in (nodeShard — the
        // placement map; `id mod nShards` diverges whenever a centroid
        // chunk row was assigned to another centroid's cell)
        val entries = centRows.map { case (id, v) => (id, cosineOf(qv, v)) }
          .sortBy { case (id, s) => (-s, id) }
          .take(handle.beamWidth)
          .groupBy { case (id, _) => nodeShard(id) }
        val expected = entries.flatMap { case (sid, es) =>
          val (g, idx) = arraysByShard(sid)
          val entryIdxs = es.map(_._1).flatMap(idx.get)
          GraphIndex.walkArrays(g, entryIdxs, qv, handle.beamWidth, handle.hops)
        }.toSet
        val got = sh.search(spark, qv.toSeq)
          .select("uid", "sim").as[(Long, Double)].collect().toSet
        // attach drops non-chunk nodes; this store's centroids are all
        // chunk rows, so nothing is lost and the sets compare whole
        assert(got == expected, s"sharded fan-out diverged from the replay for '$q'")
        // determinism: a second identical fan-out returns the same rows
        val again = sh.search(spark, qv.toSeq)
          .select("uid", "sim").as[(Long, Double)].collect().toSet
        assert(again == got)
      }
      // quality statement on this fixture: beam >= |C| routes every
      // cell, so sharded top-3 still equals exact top-3
      demoQueries.foreach { q =>
        val qv = Embed.embedQuery(spark, q).toSeq
        val exact = Similarity.topK(embedded, "embedding", qv, 3,
            tieBreak = Seq("doc_id", "chunk_idx"))
          .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq
        val viaShards = sh.topK(spark, qv, 3, tieBreak = Seq("doc_id", "chunk_idx"))
          .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq
        assert(viaShards == exact, s"sharded top-k diverged from exact for '$q'")
      }
    } finally sh.cool()
  }

  test("sharded hot is size-guarded PER SHARD: refuses past the budget, serves at it") {
    import operators.{GraphIndex => GI}
    val ests = GI.hotShardBytesEstimates(spark, handle, nShards = 4)
    assert(ests.length == 4 && ests.sum > 0)
    val worst = ests.max
    val err = intercept[IllegalStateException] {
      GI.hotSharded(spark, handle, nShards = 4, budgetBytes = worst - 1)
    }
    assert(err.getMessage.contains("per-shard budget"), err.getMessage)
    // sharding is the remedy the refusal names: the whole-graph hot
    // estimate exceeds any single shard's (budget bounds ONE pin)
    assert(GI.hotBytesEstimate(spark, handle) > worst,
      "per-shard estimates must undercut the whole-graph estimate")
    val sh = GI.hotSharded(spark, handle, nShards = 4, budgetBytes = worst)
    try {
      val qv = Embed.embedQuery(spark, demoQueries.head).toSeq
      assert(sh.search(spark, qv).count() > 0)
    } finally sh.cool()
  }

  test("sharded hot recall gate: refuses under the floor naming the cross-shard drop; serves at the measured value") {
    import operators.{GraphIndex => GI}
    // a NARROW-beam store: the entry set is a strict subset of the
    // cells, so dropped cross-shard clique edges genuinely cost recall
    // (mid-walk re-routing into un-entered cells is confined away)
    val dir = TestDirs.create("graft_gshrec").toString
    val h = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      dir, nCentroids = 16, m = 4, nBuckets = 16, beamWidth = 2, hops = 2)
    val keys = Seq("doc_id", "chunk_idx")
    val probe = GI.hotSharded(spark, h, nShards = 4)
    val measured = try GI.measureRecall(spark, probe, embedded, keys, "embedding")
      finally probe.cool()
    // the narrow walk genuinely loses recall against exact brute force
    // (measured 0.58 on this fixture — deterministic, no RNG anywhere)
    assert(measured < 0.95,
      s"fixture must measure imperfect recall for the gate to bite (got $measured)")
    // a floor above the tier's measured quality: the gate REFUSES and
    // the message names both the floor breach and the edge drop
    val err = intercept[IllegalStateException] {
      GI.hotSharded(spark, h, nShards = 4,
        recallFloor = (measured + 1.0) / 2, recallKeyCols = keys)
    }
    assert(err.getMessage.contains("below the floor") &&
      err.getMessage.contains("cross-shard"), err.getMessage)
    // at the measured value the gated build serves
    val ok = GI.hotSharded(spark, h, nShards = 4,
      recallFloor = measured, recallKeyCols = keys)
    try assert(ok.search(spark,
      Embed.embedQuery(spark, demoQueries.head).toSeq).count() > 0)
    finally ok.cool()
    // a floor without key columns is a usage error, refused up front
    intercept[IllegalArgumentException] {
      GI.hotSharded(spark, h, nShards = 4, recallFloor = 0.5)
    }
  }

  test("staleness contract: a delete after hot() flips isStale; re-hot clears; cold handle never stale") {
    val h = freshHandle()
    val hot0 = GraphIndex.hot(spark, h)
    try {
      assert(!hot0.isStale(spark), "a fresh snapshot must read current")
      assert(!h.isStale(spark), "the cold handle reads the store live — never stale")
      val victim = embedded.select("doc_id", "chunk_idx")
        .orderBy("doc_id", "chunk_idx").as[(String, Int)].head()
      GraphIndex.delete(spark, h, Seq(victim).toDF("doc_id", "chunk_idx"),
        Seq("doc_id", "chunk_idx"))
      assert(hot0.isStale(spark), "a delete must flip the snapshot stale")
      assert(!h.isStale(spark))
      val hot1 = GraphIndex.hot(spark, h)
      try assert(!hot1.isStale(spark), "re-hot must clear staleness")
      finally hot1.cool()
      assert(hot0.isStale(spark), "the old snapshot stays stale")
    } finally hot0.cool()
  }

  test("staleness: an insert after hot()/hotSharded() flips isStale via the drift counter") {
    import operators.{GraphIndex => GI}
    val held = embedded.select("doc_id").orderBy("doc_id").head().getString(0)
    val base = embedded.filter(col("doc_id") =!= held)
    val upload = embedded.filter(col("doc_id") === held)
    val dir = TestDirs.create("graft_gstale").toString
    val h = GI.build(spark, base, Seq("doc_id", "chunk_idx"), "embedding",
      dir, nCentroids = 16, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
    val hot0 = GI.hot(spark, h)
    val sh0 = GI.hotSharded(spark, h, nShards = 2)
    try {
      assert(!hot0.isStale(spark) && !sh0.isStale(spark))
      GI.insert(spark, h, upload, Seq("doc_id", "chunk_idx"), "embedding")
      assert(hot0.isStale(spark), "insert must flip the hot snapshot stale")
      assert(sh0.isStale(spark), "insert must flip the sharded snapshot stale")
      val re = GI.hot(spark, h)
      try assert(!re.isStale(spark)) finally re.cool()
    } finally { hot0.cool(); sh0.cool() }
  }

  test("staleness: a chunk append landing while hot() loads leaves the snapshot stale") {
    import scala.jdk.CollectionConverters._
    val h = freshHandle()
    val chunksDir = java.nio.file.Paths.get(h.chunksDir)
    spark.sparkContext.hadoopConfiguration.set(
      "fs.hooked.impl", classOf[ListingHookFileSystem].getName)
    // right after hot() first lists chunks/ — whichever of its steps
    // does that — a file lands there, as a racing insert's would
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    ListingHookFileSystem.afterChunksListing.set { () =>
      val src = java.nio.file.Files.walk(chunksDir).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = chunksDir.resolve(s"uid_bucket=${h.nBuckets}")
      java.nio.file.Files.createDirectories(dst)
      java.nio.file.Files.copy(src, dst.resolve(src.getFileName))
      fired.set(true)
    }
    try {
      val hot0 = GraphIndex.hot(spark, h.copy(dir = "hooked://" + h.dir))
      try {
        assert(fired.get, "the load must list chunks/ through the hooked scheme")
        assert(hot0.isStale(spark),
          "a mutation between the stamp and the reads must leave the snapshot stale")
      } finally hot0.cool()
    } finally ListingHookFileSystem.afterChunksListing.set(null)
  }

  test("hot serving is a snapshot: deletes after hot() appear only on re-hot") {
    val h = freshHandle()
    val qv = Embed.embedQuery(spark, demoQueries.head).toSeq
    val hot0 = GraphIndex.hot(spark, h)
    try {
      val before = topIds(hot0, qv, 3)
      val victim = before.head
      GraphIndex.delete(spark, h,
        Seq(victim).toDF("doc_id", "chunk_idx"), Seq("doc_id", "chunk_idx"))
      // the live snapshot still serves the deleted row
      assert(topIds(hot0, qv, 3) == before,
        "a Hot snapshot must not see post-hot deletes")
      // a fresh hot() sees the mark (and matches cold)
      val hot1 = GraphIndex.hot(spark, h)
      try {
        val after = topIds(hot1, qv, 3)
        assert(!after.contains(victim), s"re-hot must apply the mark: $after")
        assert(after == topIds(h, qv, 3), "re-hot must match the cold store")
      } finally hot1.cool()
    } finally hot0.cool()
  }

  // -------------------- lifecycle: delete + compact -------------------- //

  /** A private store per lifecycle test — these mutate, and the shared
    * `handle` must stay pristine for the serving tests. */
  private def freshHandle(): GraphIndex.Handle = {
    val dir = TestDirs.create("graft_glc").toString
    GraphIndex.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      dir, nCentroids = 16, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
  }

  private def topIds(h: GraphIndex.Serving, qv: Seq[Double], k: Int): Seq[(String, Int)] =
    h.topK(spark, qv, k, tieBreak = Seq("doc_id", "chunk_idx"))
      .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq

  test("delete: marked chunk vanishes from results at once; compact removes it physically") {
    val h = freshHandle()
    val qv = Embed.embedQuery(spark, demoQueries.head).toSeq
    val before = topIds(h, qv, 3)
    // victim = the best-ranked NON-centroid hit (centroid marks are the
    // structural case, covered separately below)
    val centIds = h.centroids(spark).select("centroid_id").as[Long].collect().toSet
    val uidOf = h.chunks(spark).select("doc_id", "chunk_idx", "uid")
      .as[(String, Int, Long)].collect()
      .map { case (d, c, u) => (d, c) -> u }.toMap
    val victim = before.find(k => !centIds.contains(uidOf(k))).get
    val n = GraphIndex.delete(spark, h,
      Seq(victim).toDF("doc_id", "chunk_idx"), Seq("doc_id", "chunk_idx"))
    assert(n == 1)
    val after = topIds(h, qv, 3)
    assert(!after.contains(victim), "marked chunk still surfaced")
    // mark-delete result == exact top-3 over the survivors: the walk
    // still visits the victim (it routes), only the gate drops it
    val exactSurvivors = Similarity.topK(
        embedded.filter(!(col("doc_id") === victim._1 && col("chunk_idx") === victim._2)),
        "embedding", qv, 3, tieBreak = Seq("doc_id", "chunk_idx"))
      .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq
    assert(after == exactSurvivors)
    GraphIndex.compact(spark, h)
    // physically gone: no chunk row, no edge endpoint, no tombstone left
    val vUid = uidOf(victim)
    assert(h.chunks(spark).filter(col("uid") === vUid).isEmpty)
    assert(spark.read.parquet(h.edgesDir)
      .filter(col("src") === vUid || col("dst") === vUid).isEmpty)
    assert(!new java.io.File(h.tombstonesDir).exists,
      "non-structural marks must clear after compaction")
    assert(topIds(h, qv, 3) == exactSurvivors, "post-compact results diverged")
  }

  test("deleting a centroid: filtered from results, edges kept structural through compact") {
    val h = freshHandle()
    val centId = h.centroids(spark).orderBy("centroid_id").head().getLong(0)
    val key = h.chunks(spark).filter(col("uid") === centId)
      .select("doc_id", "chunk_idx").as[(String, Int)].head()
    GraphIndex.delete(spark, h,
      Seq(key).toDF("doc_id", "chunk_idx"), Seq("doc_id", "chunk_idx"))
    // query with the centroid chunk's own text — a perfect self-match if
    // the gate leaked
    val qText = embedded.filter(col("doc_id") === key._1 && col("chunk_idx") === key._2)
      .select("chunk_text").head().getString(0)
    val qv = Embed.embedQuery(spark, qText).toSeq
    assert(!topIds(h, qv, 3).contains(key), "marked centroid surfaced")
    GraphIndex.compact(spark, h)
    // structural: the centroid keeps routing (clique + up-links intact)…
    assert(spark.read.parquet(h.edgesDir).filter(col("src") === centId).count() > 0,
      "compaction stripped a structural centroid's edges")
    // …its chunk row is gone, and its mark survives compaction
    assert(h.chunks(spark).filter(col("uid") === centId).isEmpty)
    assert(spark.read.parquet(h.tombstonesDir)
      .filter(col("tomb_id") === centId).count() == 1)
    assert(!topIds(h, qv, 3).contains(key), "centroid resurfaced after compact")
  }

  test("insert refuses a tombstoned uid (delete wins until re-key)") {
    val h = freshHandle()
    val qv = Embed.embedQuery(spark, demoQueries.head).toSeq
    val victim = topIds(h, qv, 1).head
    GraphIndex.delete(spark, h,
      Seq(victim).toDF("doc_id", "chunk_idx"), Seq("doc_id", "chunk_idx"))
    // re-inserting the SAME natural key would be silently suppressed by
    // the serve-time gate — the guard fails loudly instead
    val e = intercept[IllegalArgumentException] {
      GraphIndex.insert(spark, h,
        embedded.filter(col("doc_id") === victim._1 && col("chunk_idx") === victim._2),
        Seq("doc_id", "chunk_idx"), "embedding")
    }
    assert(e.getMessage.contains("tombstoned"))
    // a fresh natural key (the O-3 re-upload path) goes through fine
    val reUpload = embedded
      .filter(col("doc_id") === victim._1 && col("chunk_idx") === victim._2)
      .withColumn("doc_id", concat(col("doc_id"), lit("_v2")))
    assert(GraphIndex.insert(spark, h, reUpload,
      Seq("doc_id", "chunk_idx"), "embedding") > 0)
  }

  test("insert refuses a uid already in the index (retry / same-key re-upload)") {
    val h = freshHandle()
    val someDoc = embedded.select("doc_id").orderBy("doc_id").head().getString(0)
    val e = intercept[IllegalArgumentException] {
      GraphIndex.insert(spark, h, embedded.filter(col("doc_id") === someDoc),
        Seq("doc_id", "chunk_idx"), "embedding")
    }
    assert(e.getMessage.contains("already in the index"))
    // duplicate keys WITHIN one batch are the same silent-merge class
    val fresh = embedded.filter(col("doc_id") === someDoc)
      .withColumn("doc_id", concat(col("doc_id"), lit("_dup")))
    val e2 = intercept[IllegalArgumentException] {
      GraphIndex.insert(spark, h, fresh.unionAll(fresh),
        Seq("doc_id", "chunk_idx"), "embedding")
    }
    assert(e2.getMessage.contains("within the batch"))
  }

  test("delete refuses uids that are neither indexed nor already marked") {
    val h = freshHandle()
    val e = intercept[IllegalArgumentException] {
      GraphIndex.delete(spark, h,
        Seq(("no_such_doc", 999)).toDF("doc_id", "chunk_idx"),
        Seq("doc_id", "chunk_idx"))
    }
    assert(e.getMessage.contains("not in the index"))
    // a RETRIED delete of an already-marked key stays idempotent
    val qv = Embed.embedQuery(spark, demoQueries.head).toSeq
    val victim = topIds(h, qv, 1).head
    val keys = Seq(victim).toDF("doc_id", "chunk_idx")
    GraphIndex.delete(spark, h, keys, Seq("doc_id", "chunk_idx"))
    assert(GraphIndex.delete(spark, h, keys, Seq("doc_id", "chunk_idx")) == 1)
  }

  test("rebuild after inserts equals a fresh build over the same rows; subsumes compaction") {
    import operators.{GraphIndex => GI}
    val docIds = embedded.select("doc_id").distinct().orderBy("doc_id")
      .as[String].collect()
    val (heldOut, baseIds) = docIds.splitAt(2)
    // incremental history: build on the base, insert the held-out docs
    val incDir = TestDirs.create("graft_grb_inc").toString
    val hInc = GI.build(spark, embedded.filter(col("doc_id").isin(baseIds: _*)),
      Seq("doc_id", "chunk_idx"), "embedding",
      incDir, nCentroids = 16, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
    heldOut.foreach { d =>
      GI.insert(spark, hInc, embedded.filter(col("doc_id") === d),
        Seq("doc_id", "chunk_idx"), "embedding")
    }
    // plus a delete, so the rebuild also has marks to apply
    val qv = Embed.embedQuery(spark, demoQueries.head).toSeq
    val victim = topIds(hInc, qv, 1).head
    GI.delete(spark, hInc,
      Seq(victim).toDF("doc_id", "chunk_idx"), Seq("doc_id", "chunk_idx"))
    val hReb = GI.rebuild(spark, hInc, nCentroids = 16, m = 16,
      nBuckets = 16, beamWidth = 32, hops = 3)
    // fresh-build twin over exactly the surviving rows
    val freshDir = TestDirs.create("graft_grb_fresh").toString
    val hFresh = GI.build(spark,
      embedded.filter(!(col("doc_id") === victim._1 && col("chunk_idx") === victim._2)),
      Seq("doc_id", "chunk_idx"), "embedding",
      freshDir, nCentroids = 16, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
    // THE invariant: rebuild ≡ fresh build, store by store (insert is a
    // provably bounded approximation that rebuild trues up exactly)
    def edgeSet(h: GI.Handle) = spark.read.parquet(h.edgesDir)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    def centSet(h: GI.Handle) = h.centroids(spark)
      .select("centroid_id").as[Long].collect().toSet
    def chunkSet(h: GI.Handle) = h.chunks(spark)
      .select("uid", "cell_id").as[(Long, Long)].collect().toSet
    assert(centSet(hReb) == centSet(hFresh), "rebuild picked different centroids")
    assert(chunkSet(hReb) == chunkSet(hFresh), "rebuild sidecar diverged")
    assert(edgeSet(hReb) == edgeSet(hFresh), "rebuild edges diverged")
    // marks applied: tombstone store cleared, victim gone, search equal
    assert(!new java.io.File(hReb.tombstonesDir).exists)
    assert(topIds(hReb, qv, 3) == topIds(hFresh, qv, 3))
    assert(!topIds(hReb, qv, 3).contains(victim))
  }

  test("insert-drift cadence: counter tracks appends, probe fires on schedule, rebuild resets") {
    import operators.{GraphIndex => GI}
    val docIds = embedded.select("doc_id").distinct().orderBy("doc_id")
      .as[String].collect()
    val (heldOut, baseIds) = docIds.splitAt(2)
    val dir = TestDirs.create("graft_gdrift").toString
    val h = GI.build(spark, embedded.filter(col("doc_id").isin(baseIds: _*)),
      Seq("doc_id", "chunk_idx"), "embedding",
      dir, nCentroids = 16, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
    assert(GI.driftStatus(spark, h) == ((0L, None)), "fresh store starts at zero")
    // the recall the probe will sample, measured BEFORE any insert —
    // the baseline the drifted store is judged against
    val keyCols = Seq("doc_id", "chunk_idx")
    val before = GI.measureRecall(spark, h,
      h.chunks(spark).drop("uid", "uid_bucket", "cell_id"), keyCols, "embedding",
      nQueries = 8, k = 5)
    // insert #1: counter advances, cadence (every=2) not yet due
    GI.insert(spark, h, embedded.filter(col("doc_id") === heldOut(0)),
      keyCols, "embedding")
    assert(GI.driftStatus(spark, h)._1 == 1L)
    assert(GI.driftProbe(spark, h, keyCols, every = 2, nQueries = 8, k = 5).isEmpty,
      "probe must not fire off-cadence")
    assert(GI.driftStatus(spark, h)._2.isEmpty, "no recall recorded off-cadence")
    // insert #2: due — the probe measures the LIVE store (which now
    // contains both batches) and records the number
    GI.insert(spark, h, embedded.filter(col("doc_id") === heldOut(1)),
      keyCols, "embedding")
    val probed = GI.driftProbe(spark, h, keyCols, every = 2, nQueries = 8, k = 5)
    assert(probed.isDefined, "probe must fire on the cadence")
    val (afterInserts, recommend) = probed.get
    assert(GI.driftStatus(spark, h) == ((2L, Some(afterInserts))),
      "the probe's recall must persist in the sidecar")
    // graphInsert links batch-vs-cell with reverse edges — on this tiny
    // fixture the approximation stays healthy; the REBUILD signal is
    // advisory and must reflect the floor comparison exactly
    assert(recommend == (afterInserts < 0.9))
    // rebuild trues the store up and resets the accounting
    val hReb = GI.rebuild(spark, h, nCentroids = 16)
    assert(GI.driftStatus(spark, hReb) == ((0L, None)), "rebuild must reset drift")
    val after = GI.measureRecall(spark, hReb,
      hReb.chunks(spark).drop("uid", "uid_bucket", "cell_id"), keyCols, "embedding",
      nQueries = 8, k = 5)
    assert(after >= before - 0.2,
      f"rebuilt store recall $after%.3f fell far below the pre-insert $before%.3f")
    // insert guards are UNAFFECTED by drift accounting: a refused
    // duplicate insert must not advance the counter
    intercept[IllegalArgumentException] {
      GI.insert(spark, hReb, embedded.filter(col("doc_id") === heldOut(0))
        .unionByName(embedded.filter(col("doc_id") === heldOut(0))),
        keyCols, "embedding")
    }
    assert(GI.driftStatus(spark, hReb)._1 == 0L,
      "a refused insert must not advance the drift counter")
  }

  test("compact merges per-insert small files back to one per bucket, results unchanged") {
    import operators.{GraphIndex => GI}
    // build over part of the corpus, then two insert batches — each
    // append adds a file set to every touched bucket dir
    val docIds = embedded.select("doc_id").distinct().orderBy("doc_id")
      .as[String].collect()
    val (heldOut, baseIds) = docIds.splitAt(2)
    val dir = TestDirs.create("graft_gcmp").toString
    val h = GI.build(spark, embedded.filter(col("doc_id").isin(baseIds: _*)),
      Seq("doc_id", "chunk_idx"), "embedding",
      dir, nCentroids = 16, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
    heldOut.foreach { d =>
      GI.insert(spark, h, embedded.filter(col("doc_id") === d),
        Seq("doc_id", "chunk_idx"), "embedding")
    }
    def filesPerBucket(dir: String): Map[String, Int] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(f => f.isDirectory && !f.getName.startsWith("_"))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
    }
    assert(filesPerBucket(h.edgesDir).values.max > 1, "inserts should have sprawled files")
    val qv = Embed.embedQuery(spark, demoQueries.head).toSeq
    val before = topIds(h, qv, 3)
    GraphIndex.compact(spark, h) // no tombstones: pure segment merge
    assert(filesPerBucket(h.edgesDir).values.forall(_ == 1),
      "edge buckets not merged to one file")
    assert(filesPerBucket(h.chunksDir).values.forall(_ == 1),
      "chunk buckets not merged to one file")
    assert(topIds(h, qv, 3) == before, "pure compaction changed results")
  }

  test("handle re-opened cold serves the same results (ingest/serve split)") {
    val qv = Embed.embedQuery(spark, demoQueries.head).toSeq
    val built = handle.topK(spark, qv, 3, tieBreak = Seq("doc_id", "chunk_idx"))
      .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq
    // a serving process re-opens from the PATH alone: every layout
    // constant (bucket modulus above all) travels in the meta sidecar
    val cold = GraphIndex.open(spark, handle.dir)
    assert(cold == handle, "open() must reconstruct the builder's handle exactly")
    val viaCold = cold.topK(spark, qv, 3, tieBreak = Seq("doc_id", "chunk_idx"))
      .select("doc_id", "chunk_idx").as[(String, Int)].collect().toSeq
    assert(viaCold == built)
  }

  // -------------------- recall-gated serving build -------------------- //

  test("measureRecall: a store searched at full width scores ~1.0 against brute force") {
    // the shared fixture store was tuned until graph top-3 == exact
    // top-3 on every demo query; recall@3 over in-corpus probes should
    // sit high as well — and, critically, the measurement itself must
    // be deterministic (same probes, same number, every call)
    val r1 = GraphIndex.measureRecall(spark, handle, embedded,
      Seq("doc_id", "chunk_idx"), "embedding", nQueries = 10, k = 3)
    val r2 = GraphIndex.measureRecall(spark, handle, embedded,
      Seq("doc_id", "chunk_idx"), "embedding", nQueries = 10, k = 3)
    assert(r1 == r2, "recall measurement must be deterministic")
    assert(r1 >= 0.7, s"fixture store recall@3 unexpectedly low: $r1")
  }

  test("measureRecall gates on the CALLER's workload when given; default excludes self") {
    // a workload of two text-derived query vectors (not corpus rows):
    // the measurement must run on exactly these probes
    val qv1 = Embed.embedQuery(spark, "fast table scan merge join").toSeq
    val qv2 = Embed.embedQuery(spark, "stream window aggregation state").toSeq
    val workload = Seq((1L, qv1), (2L, qv2)).toDF("qid", "qvec")
    val rW = GraphIndex.measureRecall(spark, handle, embedded,
      Seq("doc_id", "chunk_idx"), "embedding", k = 3, queries = Some(workload))
    assert(rW >= 0.0 && rW <= 1.0)
    assert(rW == GraphIndex.measureRecall(spark, handle, embedded,
      Seq("doc_id", "chunk_idx"), "embedding", k = 3, queries = Some(workload)),
      "workload measurement must be deterministic")
    // the fixture store's walk top-3 equals exact top-3 on these very
    // demo queries (pinned above) — the workload recall must be 1.0
    assert(rW == 1.0, s"demo-query workload recall should be exact, got $rW")
    // default probes leave the probe's own row out: recall@1 of a
    // self-including probe would be a free 1.0 per query; the
    // leave-one-out number genuinely measures neighbor retrieval, so
    // it CAN sit below 1.0 — assert the exclusion is real by checking
    // the measured value never counts the probe row itself
    val r1 = GraphIndex.measureRecall(spark, handle, embedded,
      Seq("doc_id", "chunk_idx"), "embedding", nQueries = 5, k = 1)
    assert(r1 >= 0.0 && r1 <= 1.0)
  }

  test("measureRecall refuses an EMPTY workload instead of returning NaN past the gate") {
    // recalls.sum/0 is NaN and NaN < recallFloor is false — an
    // accidentally-empty recallQueriesDf would publish a store with
    // recall=NaN, silently defeating buildServing's gate; the
    // measurement must refuse loudly instead
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Double])].toDF("qid", "qvec")
    val e = intercept[IllegalArgumentException] {
      GraphIndex.measureRecall(spark, handle, embedded,
        Seq("doc_id", "chunk_idx"), "embedding", k = 3, queries = Some(empty))
    }
    assert(e.getMessage.contains("zero probes"), e.getMessage)
  }

  test("buildServing: derives the sqrt-N codebook, gates on recall, refuses below the floor") {
    val dir = TestDirs.create("graft_gserve").toString
    // floor 0: always publishes; the returned recall is the evidence
    val (h, recall) = GraphIndex.buildServing(spark, embedded,
      Seq("doc_id", "chunk_idx"), "embedding", dir,
      m = 16, nBuckets = 16, beamWidth = 32, hops = 3,
      superProbes = 4, trainSampleFrac = 0.5, recallFloor = 0.0,
      recallQueries = 10, recallK = 3)
    assert(recall >= 0.0 && recall <= 1.0)
    // the codebook size-derived to ⌊√N⌋ on disk
    val n = embedded.count()
    val nCents = math.floor(math.sqrt(n.toDouble)).toLong
    assert(h.centroids(spark).count() == nCents,
      s"expected the ⌊√N⌋ = $nCents codebook in the store")
    // the published store actually serves
    assert(h.search(spark, embedded.select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)).count() > 0)
    // an unreachable floor refuses AND removes the store — a
    // below-floor index must never be left lying around to serve
    val dir2 = TestDirs.create("graft_gserve2").toString
    val err = intercept[IllegalStateException] {
      GraphIndex.buildServing(spark, embedded, Seq("doc_id", "chunk_idx"),
        "embedding", dir2, m = 16, nBuckets = 16, beamWidth = 32, hops = 3,
        recallFloor = 1.01, recallQueries = 10, recallK = 3)
    }
    assert(err.getMessage.contains("below the floor"), err.getMessage)
    assert(!new java.io.File(s"$dir2/edges").exists(),
      "refused store must be deleted, not published")
  }

  private def edgeSnapshot(h: GraphIndex.Handle): Seq[(Long, Long)] =
    spark.read.parquet(h.dir + "/edges")
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect().toSeq.sorted

  private def cellSnapshot(h: GraphIndex.Handle): Seq[(Long, Long)] =
    h.chunks(spark)
      .select(col("uid").cast("long"), col("cell_id").cast("long"))
      .as[(Long, Long)].collect().toSeq.sorted

  test("size-derived hier: small-corpus default ≡ flat bit-for-bit; past the crossover ≡ explicit two-level; composes with banding; rebuild invariant holds") {
    import operators.{GraphIndex => GI}
    def tmp(p: String) = TestDirs.create(p).toString
    def snap(h: GraphIndex.Handle) = (cellSnapshot(h), edgeSnapshot(h))
    // BELOW the crossover (fixture ≪ DefaultAutoHierAt): the default is
    // the historical flat assignment, bit-for-bit
    val hDefault = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      tmp("graft_gah_dflt"), nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3)
    val hFlat = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      tmp("graft_gah_flat"), nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3, autoHierAt = Long.MaxValue)
    assert(snap(hDefault) == snap(hFlat),
      "below the crossover the default must equal the flat build bit-for-bit")
    // AT/ABOVE the crossover (forced with autoHierAt = 1): the default
    // must equal the EXPLICIT two-level build at |S| = ⌊√|C|⌋ = 4 and
    // the shared superProbes default, bit-for-bit (cells AND edges)
    val hAuto = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      tmp("graft_gah_auto"), nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3, autoHierAt = 1L)
    val hHier = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      tmp("graft_gah_expl"), nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3, nSupers = 4)
    assert(snap(hAuto) == snap(hHier),
      "past the crossover the default must equal the explicit hier build")
    assert(cellSnapshot(hAuto) != cellSnapshot(hFlat),
      "fixture must actually route differently past the crossover " +
        "(hier approximation visible on some rows)")
    // BOTH derivations forced: the full scaled recipe (two-level
    // assignment + OR-banded edge confinement) equals the explicit
    // composition bit-for-bit
    val planeRows = embedded
      .withColumn("_uid", GI.uidFor(Seq("doc_id", "chunk_idx")))
      .orderBy("_uid").limit(4)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq
    val hBoth = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      tmp("graft_gah_both"), nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3, autoHierAt = 1L, autoBandAt = 1L)
    val hComposed = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      tmp("graft_gah_comp"), nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3, nSupers = 4,
      lshBands = Seq(planeRows.take(2), planeRows.drop(2)))
    assert(snap(hBoth) == snap(hComposed),
      "forced-both default must equal the explicit hier+banded composition")
    // rebuild ≡ fresh build where the derivation matters: rebuilding
    // the forced-crossover store reproduces it bit-for-bit
    val hReb = GI.rebuild(spark, hAuto, nCentroids = 16, m = 16,
      nBuckets = 16, beamWidth = 32, hops = 3, autoHierAt = 1L)
    assert(snap(hReb) == snap(hHier),
      "rebuild must derive the same auto-supers as a fresh build")
  }

  test("size-derived banding: small-corpus default ≡ plain build bit-for-bit; past the crossover ≡ explicit bands") {
    import operators.{GraphIndex => GI}
    def tmp(p: String) = TestDirs.create(p).toString
    // BELOW the crossover (this fixture ≪ DefaultAutoBandAt): the
    // default build must be the historical plain build, bit-for-bit —
    // compare against autoBandAt = MaxValue (auto-banding suppressed)
    val hDefault = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      tmp("graft_gab_dflt"), nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3)
    val hPlain = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      tmp("graft_gab_plain"), nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3, autoBandAt = Long.MaxValue)
    assert(edgeSnapshot(hDefault) == edgeSnapshot(hPlain),
      "below the crossover the default must equal the plain build bit-for-bit")
    // AT/ABOVE the crossover (forced with autoBandAt = 1): the default
    // must equal the EXPLICIT banded build over the same derived planes
    // (the 4 lowest-uid rows, 2 bands × 2 planes) bit-for-bit
    val planeRows = embedded
      .withColumn("_uid", GI.uidFor(Seq("doc_id", "chunk_idx")))
      .orderBy("_uid").limit(4)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq
    val hAuto = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      tmp("graft_gab_auto"), nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3, autoBandAt = 1L)
    val hBanded = GI.build(spark, embedded, Seq("doc_id", "chunk_idx"), "embedding",
      tmp("graft_gab_expl"), nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3,
      lshBands = Seq(planeRows.take(2), planeRows.drop(2)))
    assert(edgeSnapshot(hAuto) == edgeSnapshot(hBanded),
      "past the crossover the default must equal the explicit banded build")
    assert(edgeSnapshot(hAuto) != edgeSnapshot(hPlain),
      "fixture must actually band past the crossover (bands change edges here)")
    // rebuild preserves the fresh-build invariant in the banded regime
    // too: rebuilding the banded store at the same forced crossover
    // reproduces it bit-for-bit
    val hReb = GI.rebuild(spark, hAuto, nCentroids = 16, m = 16,
      nBuckets = 16, beamWidth = 32, hops = 3, autoBandAt = 1L)
    assert(edgeSnapshot(hReb) == edgeSnapshot(hBanded),
      "rebuild must derive the same auto-bands as a fresh build")
    // buildServing's size-derived default: below the crossover it
    // resolves to 0 bands — identical store shape to explicit lshBands=0
    // (same codebook, same recall path; spot-check the edge sets match)
    val (hs1, _) = GI.buildServing(spark, embedded, Seq("doc_id", "chunk_idx"),
      "embedding", tmp("graft_gab_srv1"), m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3, recallFloor = 0.0, recallQueries = 10, recallK = 3)
    val (hs0, _) = GI.buildServing(spark, embedded, Seq("doc_id", "chunk_idx"),
      "embedding", tmp("graft_gab_srv0"), m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3, lshBands = 0, recallFloor = 0.0,
      recallQueries = 10, recallK = 3)
    assert(edgeSnapshot(hs1) == edgeSnapshot(hs0),
      "buildServing's size-derived default below the crossover must equal explicit lshBands=0")
  }

  test("hot() is size-guarded: refuses past the budget with the estimate, before any collect") {
    import operators.{GraphIndex => GI}
    val est = GI.hotBytesEstimate(spark, handle)
    assert(est > 0, "estimate must be positive on a non-empty store")
    val err = intercept[IllegalStateException] {
      GI.hot(spark, handle, budgetBytes = est - 1)
    }
    assert(err.getMessage.contains("exceeds the budget"), err.getMessage)
    // at/over the estimate the same store hots fine and serves
    val hot = GI.hot(spark, handle, budgetBytes = est)
    try {
      val qv = Embed.embedQuery(spark, demoQueries.head).toSeq
      assert(hot.search(spark, qv).count() > 0)
    } finally hot.cool()
  }

  test("drift sidecar: interrupted swap recovers the prior counter; probe cadence survives skipped multiples") {
    import operators.{GraphIndex => GI}
    val docIds = embedded.select("doc_id").distinct().orderBy("doc_id")
      .as[String].collect()
    val (heldOut, baseIds) = docIds.splitAt(3)
    val dir = TestDirs.create("graft_gdrift2").toString
    val h = GI.build(spark, embedded.filter(col("doc_id").isin(baseIds: _*)),
      Seq("doc_id", "chunk_idx"), "embedding",
      dir, nCentroids = 16, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
    val keyCols = Seq("doc_id", "chunk_idx")
    GI.insert(spark, h, embedded.filter(col("doc_id") === heldOut(0)),
      keyCols, "embedding")
    assert(GI.driftStatus(spark, h)._1 == 1L)
    // simulate a crash mid-swap: the prior counter sits renamed-aside
    // and the published path is gone — driftStatus must READ the aside
    // (never silently reset to a fresh-store (0, None)) but, being a
    // read API, must NOT mutate the store: the r16 rename-on-read shape
    // raced a live writeDrift's swap window and failed outright on
    // read-only filesystems
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir + "/_drift"),
      new org.apache.hadoop.fs.Path(dir + "/_drift_prev")))
    assert(GI.driftStatus(spark, h)._1 == 1L,
      "an interrupted swap must surface the prior drift counter")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "/_drift")),
      "a READ must not republish the sidecar")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir + "/_drift_prev")),
      "a READ must leave the aside where it lies")
    // the explicit repair normalizes the layout on demand...
    assert(GI.repairDrift(spark, h), "repairDrift must restore an aside")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir + "/_drift")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(dir + "/_drift_prev")),
      "repairDrift must publish the aside as the live sidecar")
    assert(!GI.repairDrift(spark, h), "repairDrift is a no-op on a healthy store")
    assert(GI.driftStatus(spark, h)._1 == 1L)
    // ...and the next WRITE also heals it (re-break, then insert: the
    // writer folds the aside's contents in through its status read and
    // publishes the merged counter)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir + "/_drift"),
      new org.apache.hadoop.fs.Path(dir + "/_drift_prev")))
    // cadence: with every=2, skip the exact multiple (no probe at 2),
    // probe at 3 — inserts-since-last-probe (3-0) >= 2 must fire, where
    // the old `inserts % every == 0` test would never fire again
    GI.insert(spark, h, embedded.filter(col("doc_id") === heldOut(1)),
      keyCols, "embedding")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir + "/_drift")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(dir + "/_drift_prev")),
      "the next write must publish the merged counter and sweep the aside")
    GI.insert(spark, h, embedded.filter(col("doc_id") === heldOut(2)),
      keyCols, "embedding")
    assert(GI.driftStatus(spark, h)._1 == 3L)
    val fired = GI.driftProbe(spark, h, keyCols, every = 2, nQueries = 8, k = 5)
    assert(fired.isDefined,
      "probe must fire once the skipped cadence point is passed")
    // and the probe position persists: immediately re-probing is NOT due
    assert(GI.driftProbe(spark, h, keyCols, every = 2, nQueries = 8, k = 5).isEmpty,
      "a just-probed store must not probe again until `every` more inserts")
    // trackDrift=false: the insert lands but the counter stays put
    val more = embedded.filter(col("doc_id") === baseIds.head)
    val dir2 = TestDirs.create("graft_gdrift3").toString
    val h2 = GI.build(spark, embedded.filter(col("doc_id").isin(baseIds.tail: _*)),
      keyCols, "embedding", dir2, nCentroids = 16, m = 16, nBuckets = 16,
      beamWidth = 32, hops = 3)
    GI.insert(spark, h2, more, keyCols, "embedding", trackDrift = false)
    assert(GI.driftStatus(spark, h2) == ((0L, None)),
      "trackDrift=false must skip the per-insert sidecar round-trip")
  }
}

/** The local filesystem under a `hooked://` scheme, running a one-shot
  * action right after it lists a directory named `chunks` — lets a spec
  * land a store mutation at an exact point inside a load. */
class ListingHookFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("hooked:///")

  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val out = super.listStatus(f)
    if (f.getName == "chunks")
      Option(ListingHookFileSystem.afterChunksListing.getAndSet(null)).foreach(_.apply())
    out
  }
}

object ListingHookFileSystem {
  val afterChunksListing = new java.util.concurrent.atomic.AtomicReference[() => Unit]()
}
