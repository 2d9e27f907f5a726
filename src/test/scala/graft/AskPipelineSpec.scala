package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AskPipeline, Embed, Ingest}

/** End-to-end ask lifecycle (SURVEY §3.1): retrieval answer, cache
  * round-trip with threshold-inclusive hit + freq bump, LFU eviction. */
class AskPipelineSpec extends AnyFunSuite {
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

  private def emptyCache = Seq.empty[(Long, Seq[Float], String, Int)]
    .toDF("entry_id", "embedding", "response", "freq")

  test("miss -> retrieval answer, prompt carries context, cache gains the entry") {
    val (res, cache1) = AskPipeline.ask(spark, index, emptyCache, "spark join tuning")
    assert(!res.fromCache)
    assert(res.answer.nonEmpty && res.answer != "No relevant context found.")
    assert(res.prompt.contains("User Query:\nspark join tuning"))
    assert(cache1.count() == 1)
    assert(cache1.select("freq").as[Int].head() == 1)
  }

  test("identical repeat ask hits the cache and bumps freq") {
    val (_, cache1) = AskPipeline.ask(spark, index, emptyCache, "spark join tuning")
    val (res2, cache2) = AskPipeline.ask(spark, index, cache1, "spark join tuning")
    assert(res2.fromCache)
    assert(cache2.count() == 1)
    assert(cache2.select("freq").as[Int].head() == 2)
    // cached answer equals the originally generated one
    val (res1again, _) = AskPipeline.ask(spark, index, emptyCache, "spark join tuning")
    assert(res2.answer == res1again.answer)
  }

  test("insert at capacity evicts the newest min-freq entry (reference tie-break)") {
    val (_, c1) = AskPipeline.ask(spark, index, emptyCache, "spark join tuning")
    val (_, c2) = AskPipeline.ask(spark, index, c1, "pizza dough recipe", capacity = 2)
    assert(c2.count() == 2)
    // third distinct ask at capacity 2: both entries have freq 1, so the
    // reference's newest-first list scan evicts the MOST RECENT one
    // (app/main.py:107-114 over LPUSH order) — entry_id 2, not 1
    val (_, c3) = AskPipeline.ask(spark, index, c2, "broadcast strategies", capacity = 2)
    val ids = c3.select("entry_id").as[Long].collect().toSet
    assert(c3.count() == 2)
    assert(!ids.contains(2L), s"expected newest min-freq eviction, cache has $ids")
  }

  test("fused solo tail is byte-identical to the declarative rank/context/prompt tail") {
    import org.apache.spark.sql.functions._
    // the DataFrame tail (Retrieval.askGraph / promptFromHits) is the
    // oracle-gated shape; askStateless's fused driver-side tail must
    // reproduce its prompt BYTE-FOR-BYTE — exact path and graph path
    val query = "spark join tuning"
    val (resExact, _) = AskPipeline.askStateless(spark, index, emptyCache, query)
    val declarativeExact = operators.Retrieval.ask(spark,
        Seq(("d1", "spark shuffle join performance tuning for large tables"),
          ("d2", "pasta recipes and pizza dough for the home cook"),
          ("d3", "broadcast join strategies in distributed query engines"))
          .toDF("doc_id", "text"),
        query, chunkSize = 16)
      .select("prompt").head().getString(0)
    assert(resExact.prompt == declarativeExact,
      "fused exact-path prompt diverged from the declarative tail")
    // graph path (the hot serving shape): askGraph's DataFrame tail vs
    // the fused askStateless over the same store
    val dir = TestDirs.create("graft_fuse").toString
    val h = operators.GraphIndex.build(spark, index, Seq("doc_id", "chunk_idx"),
      "embedding", dir, nCentroids = 4, m = 4, nBuckets = 4, beamWidth = 8, hops = 3)
    val hot = operators.GraphIndex.hot(spark, h)
    try {
      val (resHot, _) = AskPipeline.askStateless(spark, index, emptyCache, query,
        graph = Some(hot))
      val declarativeGraph = operators.Retrieval.askGraph(spark, hot, query)
        .select("prompt").head().getString(0)
      assert(resHot.prompt == declarativeGraph,
        "fused graph-path prompt diverged from the declarative tail")
      // history section renders identically too
      val (resHist, _) = AskPipeline.askStateless(spark, index, emptyCache, query,
        history = Some("Human: hi\nAI: hello"))
      assert(resHist.prompt.contains(
        "Conversation so far:\nHuman: hi\nAI: hello\n\nUser Query:\n"))
    } finally hot.cool()
  }

  test("resident-text tier: zero-job retrieval tail is byte-identical to the DataFrame tail") {
    import org.apache.spark.sql.functions._
    val query = "spark join tuning"
    val dir = TestDirs.create("graft_rtext").toString
    val h = operators.GraphIndex.build(spark, index, Seq("doc_id", "chunk_idx"),
      "embedding", dir, nCentroids = 4, m = 4, nBuckets = 4, beamWidth = 8, hops = 3)
    val plain = operators.GraphIndex.hot(spark, h)
    val withText = operators.GraphIndex.hot(spark, h, residentText = true)
    try {
      assert(!plain.hasResidentText && withText.hasResidentText)
      // the local rows equal the DataFrame topK rows exactly (values
      // AND order — the hitOrdering twin of orderBy(desc(sim), ...))
      val qv = Embed.embedQuery(spark, query).toSeq
      val dfRows = plain.topK(spark, qv, 3, tieBreak = Seq("doc_id", "chunk_idx"))
        .select(col("doc_id"), col("chunk_idx").cast("long"), col("chunk_text"), col("sim"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .toSeq
      val localRows = withText.topKLocalRows(qv, 3).get
        .map { case (d, ci, t, s) => (d.asInstanceOf[String], ci, t, s) }
      assert(localRows == dfRows, "resident-text top-k diverged from the DataFrame tail")
      assert(plain.topKLocalRows(qv, 3).isEmpty,
        "a tier built without residentText must decline the local path")
      // end to end through askStateless: prompts byte-identical
      val (resPlain, _) = AskPipeline.askStateless(spark, index, emptyCache, query,
        graph = Some(plain))
      val (resText, _) = AskPipeline.askStateless(spark, index, emptyCache, query,
        graph = Some(withText))
      assert(resText.prompt == resPlain.prompt && resText.answer == resPlain.answer,
        "resident-text ask diverged from the hot-tier ask")
      // the budget guard refuses BEFORE collecting any text
      val tEst = operators.GraphIndex.hotTextBytesEstimate(spark, h)
      assert(tEst > 0)
      val err = intercept[IllegalStateException] {
        operators.GraphIndex.hot(spark, h, residentText = true,
          textBudgetBytes = tEst - 1)
      }
      assert(err.getMessage.contains("textBudgetBytes"), err.getMessage)
    } finally { plain.cool(); withText.cool() }
  }

  test("resident LFU cache medium is bit-for-bit the DataFrame cache loop") {
    // the same ask sequence through both cache mediums: a miss, a
    // second distinct miss at capacity 2, a third miss forcing the
    // newest-min-freq eviction, then a repeat of the first query that
    // must HIT — answers, fromCache flags, and the exported cache
    // table itself must all match (the ResidentLfuCache contract)
    val queries = Seq("spark join tuning", "pizza dough recipe",
      "broadcast strategies", "spark join tuning")
    var dfCache = emptyCache
    val viaDf = queries.map { q =>
      val (r, c) = AskPipeline.ask(spark, index, dfCache, q, capacity = 2)
      dfCache = c
      (r.answer, r.fromCache)
    }
    val rc = new operators.ResidentLfuCache(2)
    val viaResident = queries.map { q =>
      val r = AskPipeline.askResident(spark, index, rc, q)
      (r.answer, r.fromCache)
    }
    assert(viaResident == viaDf,
      s"resident medium diverged:\n df=$viaDf\n rc=$viaResident")
    assert(viaResident.last._2, "the repeat ask must hit the cache")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("entry_id", "embedding", "response", "freq")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getString(2), r.getInt(3)))
      .toSet
    assert(snap(rc.toDF(spark)) == snap(dfCache),
      "exported resident cache table must equal the DataFrame cache")
    // round trip: loading the DataFrame cache back is identity
    val reloaded = operators.ResidentLfuCache.fromDF(dfCache, 2)
    assert(snap(reloaded.toDF(spark)) == snap(dfCache))
    // and a hit against the reloaded cache touches the same entry
    val r2 = AskPipeline.askResident(spark, index, reloaded, "spark join tuning")
    assert(r2.fromCache)
  }

  test("fromDF trims an over-capacity load by the eviction rule; maxId floor is empty-only") {
    import org.apache.spark.sql.functions.col
    // 5 entries into capacity 3: the trimmed survivor set must equal
    // what 2 SEQUENTIAL DataFrame-medium evictions leave (insert evicts
    // exactly one per arrival, so an untrimmed over-capacity load
    // would stay over capacity for the life of the process)
    val df = Seq(
      (1L, Seq(1f, 0f), "a", 2), (2L, Seq(0f, 1f), "b", 1),
      (3L, Seq(1f, 1f), "c", 1), (4L, Seq(0.5f, 1f), "d", 3),
      (5L, Seq(1f, 0.5f), "e", 1))
      .toDF("entry_id", "embedding", "response", "freq")
    var cur = df
    (1 to 2).foreach { _ =>
      val victim = operators.CacheLfu.evictionVictim(cur)
        .select("entry_id").as[Long].head
      cur = cur.filter(col("entry_id") =!= victim)
    }
    val expect = cur.select("entry_id").as[Long].collect().toSet
    val rc = operators.ResidentLfuCache.fromDF(df, 3)
    assert(rc.size == 3)
    val got = rc.toDF(spark).select("entry_id").as[Long].collect().toSet
    assert(got == expect, s"trim survivors $got != sequential evictions $expect")
    // max-id floor: 0 substitutes ONLY for an empty cache — matching
    // the DataFrame medium's coalesce(max(entry_id), 0), which reports
    // a negative true max for externally-constructed caches
    val neg = Seq((-5L, Seq(1f, 0f), "n", 1))
      .toDF("entry_id", "embedding", "response", "freq")
    val (_, maxNeg) = operators.ResidentLfuCache.fromDF(neg, 3)
      .probeBatch(Seq(Array(0.0, 1.0)))
    assert(maxNeg == -5L, "non-empty cache must report its true (negative) max id")
    val (_, maxEmpty) = new operators.ResidentLfuCache(3)
      .probeBatch(Seq(Array(0.0, 1.0)))
    assert(maxEmpty == 0L)
  }

  test("NaN cosine hits on BOTH cache media (Spark nan-safe threshold compare)") {
    // a stored vector containing NaN makes the cosine NaN; Spark's
    // `sim >= threshold` filter orders NaN above every double, so the
    // DataFrame medium HITS — the resident medium must hit identically
    // (cmpSparkDouble on the threshold test, not Java >=)
    val nan = Seq((1L, Seq(Float.NaN, 0f), "nan-entry", 1))
      .toDF("entry_id", "embedding", "response", "freq")
    val q = Seq(1.0, 0.0)
    val dfHits = operators.Similarity.cacheLookup(nan, "embedding", q).count()
    assert(dfHits == 1L,
      "DataFrame medium: NaN sim must pass the nan-safe >= threshold filter")
    val rcHit = operators.ResidentLfuCache.fromDF(nan, 3).lookup(q.toArray)
    assert(rcHit.map(_._2) == Some("nan-entry"),
      "resident medium must hit the same NaN-sim entry")
  }

  test("askBatchResident equals askBatch: snapshot probes, merge order, insert-id rule") {
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("entry_id", "embedding", "response", "freq")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getString(2), r.getInt(3)))
      .toSet
    // batch 1: three distinct misses + an IN-BATCH duplicate (both
    // duplicates must miss — snapshot semantics — and both insert)
    val b1 = Seq("spark join tuning", "pizza dough recipe",
      "broadcast strategies", "spark join tuning")
    val (dfRes1, dfCache1) = AskPipeline.askBatch(spark, index, emptyCache, b1)
    val rc = new operators.ResidentLfuCache()
    val rcRes1 = AskPipeline.askBatchResident(spark, index, rc, b1)
    assert(rcRes1.map(r => (r.answer, r.fromCache)) ==
      dfRes1.map(r => (r.answer, r.fromCache)))
    assert(rcRes1.count(_.fromCache) == 0, "snapshot probes: duplicate still misses")
    assert(snap(rc.toDF(spark)) == snap(dfCache1),
      "batch-1 cache tables diverged (insert-id rule)")
    // batch 2 against the evolved caches: one HIT + one new miss
    val b2 = Seq("spark join tuning", "columnar compression formats")
    val (dfRes2, dfCache2) = AskPipeline.askBatch(spark, index, dfCache1, b2)
    val rcRes2 = AskPipeline.askBatchResident(spark, index, rc, b2)
    assert(rcRes2.map(r => (r.answer, r.fromCache)) ==
      dfRes2.map(r => (r.answer, r.fromCache)))
    assert(rcRes2.head.fromCache, "the repeat must hit across batches")
    assert(snap(rc.toDF(spark)) == snap(dfCache2),
      "batch-2 cache tables diverged (touch merge)")
  }

  test("empty hook answer is a failure: error answer, cache NOT poisoned") {
    // HttpGenerateClient degrades to "" on any transport/LLM error by
    // contract; the reference (app/main.py:541-548) answers an error and
    // skips the cache insert — one transient failure must not become a
    // cache hit served until eviction
    val (res, c1) = AskPipeline.ask(spark, index, emptyCache, "spark join tuning",
      generate = Some(_ => "   "))
    assert(res.failed && !res.fromCache)
    assert(res.answer == AskPipeline.NoResponseAnswer)
    assert(c1.count() == 0, "failed generation must not insert a cache entry")
    // the model recovers: the SAME query is still a miss and caches normally
    val (res2, c2) = AskPipeline.ask(spark, index, c1, "spark join tuning",
      generate = Some(p => "recovered answer"))
    assert(!res2.fromCache && !res2.failed && res2.answer == "recovered answer")
    assert(c2.count() == 1)
  }

  test("askStateless effects merge against a LATER cache (concurrent-arrival)") {
    // two racing identical misses: both probe the empty snapshot, both
    // produce an Insert; applying the second against the first's result
    // allocates a fresh id — the askBatch/Redis race, two entries
    val (r1, e1) = AskPipeline.askStateless(spark, index, emptyCache, "spark join tuning")
    val (r2, e2) = AskPipeline.askStateless(spark, index, emptyCache, "spark join tuning")
    assert(!r1.fromCache && !r2.fromCache && r1.answer == r2.answer)
    val merged = AskPipeline.applyCacheEffect(
      AskPipeline.applyCacheEffect(emptyCache, e1), e2)
    assert(merged.count() == 2)
    assert(merged.select("entry_id").as[Long].collect().toSet == Set(1L, 2L))
    // a Touch whose entry was concurrently evicted no-ops instead of erring
    val touched = AskPipeline.applyCacheEffect(emptyCache, AskPipeline.TouchEffect(99L))
    assert(touched.count() == 0)
  }

  test("chat memory feeds the next ask's history (S-2 + §3.1 integration)") {
    import graft.streaming.SessionState
    import graft.streaming.SessionState.ChatMessage
    val (r1, c1) = AskPipeline.ask(spark, index, emptyCache, "spark join tuning")
    val mem = SessionState.chatMemory(
      Seq(ChatMessage("chat-1", "spark join tuning", r1.answer)).toDS())
      .collect().head
    val (r2, _) = AskPipeline.ask(spark, index, c1, "what about sort merge",
      history = Some(mem.history))
    assert(r2.prompt.contains(s"Human: spark join tuning\nAI: ${r1.answer}"))
    assert(r2.prompt.indexOf("Conversation so far") < r2.prompt.indexOf("User Query"))
  }

  test("history is prepended when provided") {
    val (res, _) = AskPipeline.ask(spark, index, emptyCache, "and what about sort merge",
      history = Some("Human: spark joins?\nAI: use broadcast for small sides"))
    assert(res.prompt.contains("Conversation so far:"))
    assert(res.prompt.indexOf("Conversation so far") < res.prompt.indexOf("User Query"))
  }

  private val batchQueries = Seq(
    "spark join tuning", "pizza dough recipe", "broadcast strategies")

  test("askBatch equals the sequential ask loop on non-cross-hitting queries") {
    val (seqResults, seqCache) = batchQueries.foldLeft(
        (Seq.empty[AskPipeline.AskResult], emptyCache)) { case ((rs, c), q) =>
      val (r, c2) = AskPipeline.ask(spark, index, c, q)
      (rs :+ r, c2)
    }
    // precondition for the equivalence: no sequential ask cross-hit a
    // previous one's fresh entry
    assert(seqResults.forall(!_.fromCache))
    val (batchResults, batchCache) = AskPipeline.askBatch(spark, index, emptyCache, batchQueries)
    assert(batchResults.map(_.answer) == seqResults.map(_.answer))
    assert(batchResults.map(_.prompt) == seqResults.map(_.prompt))
    assert(batchResults.forall(!_.fromCache))
    val entries = (c: org.apache.spark.sql.DataFrame) =>
      c.select("entry_id", "response", "freq").as[(Long, String, Int)].collect().toSet
    assert(entries(batchCache) == entries(seqCache), "merged cache diverged from sequential")
  }

  test("askBatch: hits serve from the snapshot and bump freq; misses retrieve") {
    val (_, c1) = AskPipeline.ask(spark, index, emptyCache, "spark join tuning")
    val (rs, c2) = AskPipeline.askBatch(spark, index, c1,
      Seq("spark join tuning", "pizza dough recipe"))
    assert(rs(0).fromCache && !rs(1).fromCache)
    assert(c2.count() == 2)
    assert(c2.filter($"entry_id" === 1L).select("freq").as[Int].head() == 2)
  }

  test("askBatch routed through the graph store equals the exact batch") {
    val gdir = TestDirs.create("graft_askb").toString
    val h = operators.GraphIndex.build(spark, index, Seq("doc_id", "chunk_idx"),
      "embedding", gdir, nCentroids = 4, m = 4, nBuckets = 8, beamWidth = 16, hops = 3)
    val (exact, _) = AskPipeline.askBatch(spark, index, emptyCache, batchQueries)
    val (viaGraph, _) = AskPipeline.askBatch(spark, index, emptyCache, batchQueries,
      graph = Some(h))
    assert(viaGraph.map(_.answer) == exact.map(_.answer))
    assert(viaGraph.map(_.prompt) == exact.map(_.prompt))
  }
}
