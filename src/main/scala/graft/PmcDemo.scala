package graft

import org.apache.spark.sql.functions._

/** End-to-end demo on the reference's real corpus: scan the 3,027 PMC
  * articles, chunk at the reference's 512 words, embed, and answer the
  * README's own example query ("What is Ghrelin?", README.md:108-123)
  * through the full ask pipeline. Read-only on /root/reference. */
object PmcDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)
    val t0 = System.nanoTime()

    val docs = sources.CorpusSource.scanWithCharsetFallback(
      spark, "/root/reference/PMC", "PMC*.txt").toDF()
    val chunks = operators.Ingest.chunk(
        docs.filter(operators.Ingest.nonBlank(col("text"))), "text", Schemas.ChunkSize)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    val (embedded, dfreq, nDocs2) = operators.Embed.withTfIdfEmbedding(chunks, "chunk_text", "embedding", dim = 1024)
    val index = embedded.persist()
    val nDocs = docs.count()
    val nChunks = index.count()
    val tIngest = (System.nanoTime() - t0) / 1e9
    println(f"INGEST docs=$nDocs chunks=$nChunks in $tIngest%.1f s")

    import spark.implicits._
    val emptyCache = Seq.empty[(Long, Seq[Float], String, Int)]
      .toDF("entry_id", "embedding", "response", "freq")
    val query = "What is Ghrelin?"
    val qv = operators.Embed.embedQueryTfIdf(spark, query, dfreq, nDocs2, dim = 1024)
    val t1 = System.nanoTime()
    val (res, cache1) = operators.AskPipeline.ask(spark, index, emptyCache, query, queryVec = Some(qv))
    println(f"ASK1 fromCache=${res.fromCache} in ${(System.nanoTime() - t1) / 1e9}%.1f s")
    println("ANSWER: " + res.answer.take(300))
    val t2 = System.nanoTime()
    val (res2, _) = operators.AskPipeline.ask(spark, index, cache1, query, queryVec = Some(qv))
    println(f"ASK2 fromCache=${res2.fromCache} in ${(System.nanoTime() - t2) / 1e9}%.1f s")

    // GRAPH-ROUTED ASK — the reference's actual serving architecture
    // (HNSW behind the ask, app/main.py:262-283/347-373): build the
    // graph store ONCE at ingest, then answer the same README query
    // through the partition-pruned beam walk instead of the exact scan.
    val tG = System.nanoTime()
    val gdir = java.nio.file.Files.createTempDirectory("pmc_graph").toString
    val h = operators.GraphIndex.build(spark, index, Seq("doc_id", "chunk_idx"),
      "embedding", gdir, nCentroids = 64, m = 16, nBuckets = 64,
      beamWidth = 32, hops = 3)
    println(f"GRAPH BUILD in ${(System.nanoTime() - tG) / 1e9}%.1f s")
    val tGA = System.nanoTime()
    val (resG, _) = operators.AskPipeline.ask(spark, index, emptyCache, query,
      queryVec = Some(qv), graph = Some(h))
    println(f"GRAPH ASK fromCache=${resG.fromCache} in ${(System.nanoTime() - tGA) / 1e9}%.1f s " +
      s"answerMatchesExact=${resG.answer == res.answer}")
    println("GRAPH ANSWER: " + resG.answer.take(300))

    // HOT (in-JVM) GRAPH ASK — the reference's steady state (HNSW
    // resident in RAM, no disk access per /ask) taken literally: the
    // HNSW-analog is walked BY THE SERVING PROCESS (driver primitive
    // arrays, zero Spark jobs per hop; visited sets bit-identical to
    // the cold walk — GraphIndexSpec); per-ask Spark work is only the
    // pruned sidecar re-attach + the pipeline's scalar tail. hot()
    // loads the store once (the serving-process startup cost). Same
    // store, same answers.
    val tHot = System.nanoTime()
    val hotH = operators.GraphIndex.hot(spark, h)
    println(f"GRAPH HOT (array load) in ${(System.nanoTime() - tHot) / 1e9}%.1f s")
    val tHA = System.nanoTime()
    val (resH, _) = operators.AskPipeline.ask(spark, index, emptyCache, query,
      queryVec = Some(qv), graph = Some(hotH))
    println(f"HOT GRAPH ASK fromCache=${resH.fromCache} in ${(System.nanoTime() - tHA) / 1e9}%.1f s " +
      s"answerMatchesExact=${resH.answer == res.answer}")
    val tHA2 = System.nanoTime()
    val (resH2, _) = operators.AskPipeline.ask(spark, index, emptyCache,
      "ghrelin receptor signalling", queryVec = Some(operators.Embed.embedQueryTfIdf(
        spark, "ghrelin receptor signalling", dfreq, nDocs2, dim = 1024)),
      graph = Some(hotH))
    println(f"HOT GRAPH ASK2 fromCache=${resH2.fromCache} in ${(System.nanoTime() - tHA2) / 1e9}%.1f s")

    // FULLY-RESIDENT ASK — round 17, the reference's whole serving
    // process replicated literally: in-process index (hot + resident
    // chunk text), in-process Redis (ResidentLfuCache), in-process
    // embedder (tfIdfQueryEmbedder's collected df map). ZERO Spark
    // jobs per ask — the measured path behind the 391.9 ask/s HTTP
    // knee (SCALE.md r17). Same store, same answers.
    val tRes = System.nanoTime()
    val hotT = operators.GraphIndex.hot(spark, h, residentText = true)
    val resEmbed = operators.Embed.tfIdfQueryEmbedder(dfreq, nDocs2, dim = 1024)
    println(f"GRAPH RESIDENT (text+cache+embed load) in ${(System.nanoTime() - tRes) / 1e9}%.1f s")
    val rcache = new operators.ResidentLfuCache()
    val tRA = System.nanoTime()
    val resR = operators.AskPipeline.askResident(spark, index, rcache, query,
      queryVec = Some(resEmbed(query)), graph = Some(hotT))
    println(f"RESIDENT ASK fromCache=${resR.fromCache} in ${(System.nanoTime() - tRA) / 1e9}%.3f s " +
      s"answerMatchesExact=${resR.answer == res.answer}")
    val tRA2 = System.nanoTime()
    val resR2 = operators.AskPipeline.askResident(spark, index, rcache, query,
      queryVec = Some(resEmbed(query)), graph = Some(hotT))
    println(f"RESIDENT ASK2 (cache HIT) fromCache=${resR2.fromCache} " +
      f"in ${(System.nanoTime() - tRA2) / 1e9}%.3f s")
    hotT.cool()

    // LIVE WS SERVING LOOP — the reference's README demo (ws/ask,
    // app/main.py:650-735; README "What is Ghrelin?") driven end-to-end
    // by a real JDK WebSocket client against the hot index: multi-turn
    // asks on one chat, per-token frames, the evolving LFU cache
    // (capacity pinned to 2 so the demo also EXERCISES eviction: the
    // 3rd distinct query evicts the least-frequently-used entry, and
    // the evicted query misses again on re-ask).
    locally {
      // the WS loop serves from the HOT tier (round 15) — the same
      // README sequence, now at the in-JVM walk's miss latency; cache
      // hit/evict semantics are tier-independent (AskServerSpec)
      val srv = new AskServer(spark, index, graph = Some(hotH),
        embedQuery = Some(q =>
          operators.Embed.embedQueryTfIdf(spark, q, dfreq, nDocs2, dim = 1024)),
        dim = 1024, capacity = 2)
      srv.start()
      val wsPort = srv.port
      try {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val msgs = new java.util.concurrent.LinkedBlockingQueue[String]()
        val listener = new java.net.http.WebSocket.Listener {
          private val sb = new StringBuilder
          override def onText(ws: java.net.http.WebSocket, data: CharSequence,
                              last: Boolean): java.util.concurrent.CompletionStage[_] = {
            sb.append(data)
            if (last) { msgs.add(sb.toString); sb.setLength(0) }
            ws.request(1); null
          }
        }
        val http = java.net.http.HttpClient.newHttpClient()
        val ws = http.newWebSocketBuilder()
          .buildAsync(java.net.URI.create(s"ws://127.0.0.1:$wsPort/ws/ask"), listener)
          .join()
        def askWs(label: String, q: String): Boolean = {
          val t = System.nanoTime()
          ws.sendText(s"""{"chat_id":"demo","query":${mapper.writeValueAsString(q)}}""", true)
          var tokens = 0
          var done: com.fasterxml.jackson.databind.JsonNode = null
          while (done == null) {
            val m = msgs.poll(120, java.util.concurrent.TimeUnit.SECONDS)
            require(m != null, s"WS relay stalled on '$q'")
            val node = mapper.readTree(m)
            if (node.has("done") || node.has("error")) done = node
            else tokens += 1
          }
          val hit = done.path("from_cache").asBoolean(false)
          println(f"WS $label%-28s tokens=$tokens fromCache=$hit " +
            f"in ${(System.nanoTime() - t) / 1e9}%.1f s")
          hit
        }
        val q1 = query; val q2 = "role of leptin in appetite"
        val q3 = "growth hormone secretagogue receptor"
        require(!askWs("ask1 ghrelin (miss)", q1))
        require(askWs("ask2 ghrelin (HIT)", q1), "repeat ask must hit the cache")
        require(!askWs("ask3 leptin (miss)", q2))
        require(!askWs("ask4 ghs-r (miss+evict)", q3))
        // capacity 2: q3's insert evicted the LFU entry (q2, freq 1 —
        // q1 sits at freq 2) → q2 misses again, q1 still hits
        require(!askWs("ask5 leptin (EVICTED->miss)", q2),
          "evicted entry must miss on re-ask")
        require(askWs("ask6 ghrelin (still HIT)", q1))
        ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "bye").join()
        // same chat over HTTP: the WS turns accrued in the bounded
        // conversation memory (multi-turn, one chat_id)
        val r = http.send(java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${srv.port}/ask"))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"chat_id":"demo","query":${mapper.writeValueAsString(q1)}}""")).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        val rn = mapper.readTree(r.body())
        println(s"WS->HTTP same chat: fromCache=${rn.path("from_cache").asBoolean(false)} " +
          s"historyTurns=${rn.path("n_history_turns").asInt(-1)}")
      } finally srv.stop()
    }
    hotH.cool()

    // INDEX LIFECYCLE on the live store — the reference's delete-by-_id
    // plus OpenSearch's segment merge: erase the answer's top source
    // document, re-ask (mark-delete: it vanishes from retrieval the
    // moment delete() returns), then compact (physical removal + file
    // merge) and re-ask (post-delete answer is stable across the swap).
    locally {
      val topDoc = h.topK(spark, qv.toSeq, 1,
        tieBreak = Seq("doc_id", "chunk_idx")).select("doc_id").head().getString(0)
      val keys = index.filter(col("doc_id") === topDoc).select("doc_id", "chunk_idx")
      val tDel = System.nanoTime()
      val nDel = operators.GraphIndex.delete(spark, h, keys, Seq("doc_id", "chunk_idx"))
      val (resD, _) = operators.AskPipeline.ask(spark, index, emptyCache, query,
        queryVec = Some(qv), graph = Some(h))
      println(f"DELETE top source $topDoc ($nDel chunks) in " +
        f"${(System.nanoTime() - tDel) / 1e9}%.1f s; " +
        s"sourceGoneFromAnswer=${resD.answer != resG.answer}")
      val tCmp = System.nanoTime()
      operators.GraphIndex.compact(spark, h)
      val tCmpDone = (System.nanoTime() - tCmp) / 1e9
      val (resC, _) = operators.AskPipeline.ask(spark, index, emptyCache, query,
        queryVec = Some(qv), graph = Some(h))
      println(f"COMPACT in $tCmpDone%.1f s; answerStableAcrossCompact=${resC.answer == resD.answer}")
    }

    // LIVE TOKEN EGRESS — the reference's WS streaming loop
    // (app/main.py:616-647) end-to-end on the real answer: tokens leave
    // the engine one by one, strictly in seq order, through the
    // RocksDB-backed relay, even though arrivals are scrambled across
    // micro-batches (batch 1 delivers seqs 0-4 plus 8-9 early; batch 2
    // fills the 5-7 hole, which releases the buffered run).
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.TokenEgress
      import graft.streaming.TokenEgress.TokenIn
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      implicit val sqlCtx = s2.sqlContext
      val toks = resG.answer.split("\\s+").zipWithIndex
        .map { case (t, i) => TokenIn(1L, i.toLong, t) }
      val batches: Seq[Seq[TokenIn]] =
        if (toks.length > 10)
          Seq(toks.slice(0, 5).toSeq ++ toks.slice(8, 10), // hole at 5-7
              toks.slice(5, 8).toSeq,                      // gap fills → drain
              toks.drop(10).toSeq)
        else Seq(toks.toSeq)
      val input = MemoryStream[TokenIn]
      val q2 = TokenEgress.tokenEgress(input.toDS())
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("pmc_tokens").start()
      var emitted = 0L
      batches.zipWithIndex.foreach { case (b, i) =>
        input.addData(b: _*)
        q2.processAllAvailable()
        val rows = s2.table("pmc_tokens").orderBy("seq")
          .collect().map(_.getString(2))
        println(s"EGRESS batch ${i + 1}: +${rows.length - emitted} tokens -> " +
          rows.mkString(" ").take(160))
        emitted = rows.length
      }
      q2.stop()
      val finalTokens = s2.table("pmc_tokens").orderBy("seq")
        .collect().map(_.getString(2))
      println("EGRESS in-order=" +
        (finalTokens.toSeq == toks.map(_.token).toSeq) + s" (${finalTokens.length} tokens)")
    }

    // Hybrid retrieval on the real corpus: BM25 chunk leg ⊕ the TF-IDF
    // cosine leg, RRF-fused — exact-term grounding for the same README
    // query, at ask-pipeline latency.
    val tH = System.nanoTime()
    val ck = index.withColumn("_ck", concat(col("doc_id"), lit("#"), col("chunk_idx")))
    val legCos = ck.select(col("_ck"),
        graft.functions.VectorFunctions.cosine(col("embedding"), lit(qv)).as("score"))
      .orderBy(desc("score"), col("_ck")).limit(50)
    val legLex = operators.Retrieval.bm25(ck, "_ck", "chunk_text", query)
      .orderBy(desc("score"), col("_ck")).limit(50)
    val fused = operators.Retrieval.rrfFuse(legLex, legCos, "_ck")
      .orderBy(desc("rrf_score"), col("_ck")).limit(5)
      .select("_ck", "rank_a", "rank_b", "rrf_score").collect()
    println(f"HYBRID top-5 in ${(System.nanoTime() - tH) / 1e9}%.1f s " +
      "(ck, bm25_rank, cos_rank, rrf):")
    fused.foreach(r => println(s"HYBRID   ${r.get(0)} ${r.get(1)} ${r.get(2)} " +
      f"${r.getDouble(3)}%.5f"))

    // The composed retrieve → fuse → RERANK → context stage on the real
    // corpus (the askHybrid(reranker = ...) shape): fused top-10 rescored
    // by the batched client, top-5 kept. Scorer is the md5 stand-in —
    // the PLUMBING (per-partition client, batching, bounded candidates)
    // is what this line demonstrates; a cross-encoder drops into the slot.
    val fused10 = operators.Retrieval.rrfFuse(legLex, legCos, "_ck")
      .orderBy(desc("rrf_score"), col("_ck")).limit(10)
      .join(ck.select("_ck", "chunk_text"), "_ck")
    val reranked = operators.Retrieval.rerank(fused10, query, "chunk_text")
      .orderBy(desc("rerank_score"), col("_ck")).limit(5)
      .select("_ck", "rrf_score", "rerank_score").collect()
    println(f"HYBRID RERANK top-5 in ${(System.nanoTime() - tH) / 1e9}%.1f s total " +
      "(ck, rrf, rerank_score — md5 stand-in scorer):")
    reranked.foreach(r => println(f"RERANK   ${r.get(0)} ${r.getDouble(1)}%.5f " +
      f"${r.getDouble(2)}%.5f"))

    // Retrieval-quality datapoint (round-5 verdict item 7): top-5 chunk
    // overlap between the legs and their fusions, for the README query
    // plus exact-term queries a lexical leg should ground. rerank∩rrf
    // uses the md5 stand-in, so it measures how much the stage REORDERS
    // the fused head — not answer quality (no model in this sandbox).
    val tQ = System.nanoTime()
    val qset = Seq(query, "Ghrelin receptor GHS-R1a", "leptin adipose tissue",
      "growth hormone secretagogue", "insulin glucose metabolism")
    println("QUALITY query | bm25-cos | rrf-bm25 | rrf-cos | rerank-rrf (top-5 overlaps)")
    qset.foreach { q =>
      val qv2 = operators.Embed.embedQueryTfIdf(spark, q, dfreq, nDocs2, dim = 1024)
      val lC = ck.select(col("_ck"),
          graft.functions.VectorFunctions.cosine(col("embedding"), lit(qv2)).as("score"))
        .orderBy(desc("score"), col("_ck")).limit(50)
      val lL = operators.Retrieval.bm25(ck, "_ck", "chunk_text", q)
        .orderBy(desc("score"), col("_ck")).limit(50)
      def top5(df: org.apache.spark.sql.DataFrame, scoreCol: String): Seq[String] =
        df.orderBy(desc(scoreCol), col("_ck")).limit(5)
          .select("_ck").as[String].collect().toSeq
      val bmTop = top5(lL, "score")
      val cosTop = top5(lC, "score")
      val fusedQ = operators.Retrieval.rrfFuse(lL, lC, "_ck")
      val rrfTop = top5(fusedQ, "rrf_score")
      val rerTop = top5(operators.Retrieval.rerank(
        fusedQ.orderBy(desc("rrf_score"), col("_ck")).limit(10)
          .join(ck.select("_ck", "chunk_text"), "_ck"), q, "chunk_text"), "rerank_score")
      def ov(a: Seq[String], b: Seq[String]) = a.toSet.intersect(b.toSet).size
      println(s"QUALITY $q | ${ov(bmTop, cosTop)} | ${ov(rrfTop, bmTop)} | " +
        s"${ov(rrfTop, cosTop)} | ${ov(rerTop, rrfTop)}")
    }
    println(f"QUALITY done in ${(System.nanoTime() - tQ) / 1e9}%.1f s")

    // Curation signals on the REAL corpus — a sanity datapoint that the
    // training-data operators produce sensible numbers on actual
    // scientific prose, not just the synthetic tables.
    val t3 = System.nanoTime()
    val rules = operators.QualityRules.gopherRules(col("text"))
    val sv = operators.QualityRules.survivalStats(
      operators.QualityRules.evaluate(docs, rules), rules).collect()(0)
    val svn = sv.schema.fieldNames.zipWithIndex.toMap
    println(s"CURATE survival: ${sv.getLong(svn("n_passed"))}/${sv.getLong(svn("n_docs"))} pass; " +
      rules.map { case (n, _) => s"$n=${sv.getLong(svn(s"killed_by_$n"))}" }.mkString(" "))
    val dup = operators.Dedup.duplicatedGramProfile(docs, "doc_id", "text", n = 10)
      .agg(sum(col("n_dup")).cast("double") / sum(col("n_grams"))).head().getDouble(0)
    println(f"CURATE 10-gram dup fraction: $dup%.4f")
    val lp = operators.TextAnalysis.unigramLogprob(docs, "doc_id", "text")
      .agg(expr("percentile(logprob, array(0.05, 0.5, 0.95))")).head().getSeq[Double](0)
    println(f"CURATE unigram logprob p5/p50/p95: ${lp(0)}%.2f / ${lp(1)}%.2f / ${lp(2)}%.2f " +
      f"(in ${(System.nanoTime() - t3) / 1e9}%.1f s)")

    // SemDeDup on the REAL corpus (round-4 verdict item 9): per-chunk
    // TF-IDF vectors → 256 k-means cells → within-cell cosine pruning,
    // tau swept. Real scientific prose (shared boilerplate, reused
    // method sections) gives the semantic tier organic near-dups the
    // synthetic embeddings table (organic max cosine 0.47) cannot.
    val t4 = System.nanoTime()
    val uidW = org.apache.spark.sql.expressions.Window.orderBy("doc_id", "chunk_idx")
    val vecs = index.select(col("doc_id"), col("chunk_idx"), col("embedding"))
      .withColumn("uid", row_number().over(uidW).cast("long"))
      .persist()
    val seeds = vecs.filter(col("uid") <= 256)
      .select(col("uid").as("centroid_id"), col("embedding").as("centroid_vec"))
    val cents = operators.Ann.kmeansRefine(vecs, "uid", "embedding", seeds,
      dim = 1024, iters = 2).persist()
    val nCells = cents.count()
    Seq(0.7, 0.8, 0.9).foreach { tau =>
      val out = operators.SemanticDedup.dedup(vecs, "uid", "embedding",
        cents, "centroid_id", "centroid_vec", tau)
      val nDrop = out.filter(!col("is_kept")).count()
      println(f"SEMDEDUP tau=$tau%.1f cells=$nCells chunks=$nChunks dropped=$nDrop " +
        f"(${100.0 * nDrop / nChunks}%.2f%%)")
    }
    // hand-checkable evidence: one dropped chunk and its dup_of partner
    val sample = operators.SemanticDedup.dedup(vecs, "uid", "embedding",
        cents, "centroid_id", "centroid_vec", tau = 0.9)
      .filter(!col("is_kept")).orderBy("uid").limit(1)
      .select(col("uid"), col("dup_of")).collect()
    sample.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val byUid = vecs.select("uid", "doc_id", "chunk_idx").as[(Long, String, Int)]
        .collect().map(x => x._1 -> ((x._2, x._3))).toMap
      val Seq((da, ca), (db, cb)) = Seq(byUid(a), byUid(b))
      def snippet(d: String, c: Int) = chunks
        .filter(col("doc_id") === d && col("chunk_idx") === c)
        .select("chunk_text").head().getString(0).take(160)
      println(s"SEMDEDUP PAIR dropped=($da#$ca) dup_of=($db#$cb)")
      println(s"SEMDEDUP PAIR A: ${snippet(da, ca)}")
      println(s"SEMDEDUP PAIR B: ${snippet(db, cb)}")
    }
    println(f"SEMDEDUP done in ${(System.nanoTime() - t4) / 1e9}%.1f s")
    spark.stop()
  }
}
