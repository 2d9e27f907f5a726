package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serve-only latency benchmark for the resident graph index on a
  * testdata corpus (`corpus=<dir>`, default /root/testdata/sf0.1) — the
  * number the reference actually publishes (`< 3.5 s` end-to-end ask,
  * README.md:3,181) is a SERVING latency, while the engine's bench rows
  * for the graph family are build-dominated (they construct the store
  * inside the query so the oracle can replay it). This main separates
  * the two:
  *
  *   ingest + build + load ONCE (reported, not benchmarked), then
  *   measure the ask latency distribution over 64 in-domain queries
  *   at batch sizes 1 / 8 / 32 against a fresh (empty) cache per ask —
  *   retrieval latency, never cache-hit latency.
  *
  * Query vectors are pre-embedded outside the timers (the reference's
  * embed call is an external service), so the measured span is: cache probe → resident beam walk → sidecar
  * re-attach → context assembly → prompt → generation stub.
  *
  * Tiers: the in-JVM `hot` tier by default (GraphIndex.hot); `text`
  * adds its resident chunk-text map; `sharded [shards=K]` serves from
  * the executor-pinned shards (GraphIndex.hotSharded, default K=4).
  *
  * Prints per-mode p50/p95/max and one machine-readable JSON line.
  * Run: `sbt "runMain graft.ServeBench [corpus=<dir>]"`.
  *
  * `runMain graft.ServeBench http` measures the LIVE serving surface
  * instead: an [[AskServer]] over the same resident index, hit by real
  * loopback HTTP clients at concurrency 1 / 4 / 8 / 16 (the reference
  * serves behind a 5-way semaphore, app/main.py:31,186). Each level
  * gets a fresh server (fresh cache — retrieval latency, not hit
  * latency), 64 distinct single-miss asks dispatched work-stealing
  * across c client threads; reports per-request p50/p95/p99/max in
  * milliseconds plus wall-clock throughput, and one JSON line.
  * Percentiles are nearest rank, so with 64 asks a level's p99 is its
  * slowest ask.
  */
object ServeBench {
  private def pct(sorted: Seq[Double], p: Double): Double =
    sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1))

  def main(args: Array[String]): Unit = {
    // `cluster` swaps the in-process local[32] master for
    // local-cluster[2,8,4096]: two REAL executor JVMs on this box —
    // the sharded tier's GraphArrays actually serialize across a
    // process boundary and the walk fan-out schedules onto remote
    // cores. Honest framing: same box, same page cache, loopback
    // shuffle — it measures process-boundary overhead and proves the
    // shipping path, not multi-machine scaling (see ClusterCheck).
    val clustered = args.contains("cluster")
    // serving sessions run FAIR so AskServer's per-request pools give
    // each in-flight ask a fair core share (FIFO convoys them)
    val fair = "spark.scheduler.mode" -> "FAIR"
    val spark =
      if (clustered) GraftSession.localCluster(2, 8, 4096, fair)
      else GraftSession.local(32, fair)
    if (clustered) println(s"CLUSTER executors=${GraftSession.executors(spark)} (real JVMs)")
    import spark.implicits._

    val t0 = System.nanoTime()
    // `corpus=<dir>` serves another testdata-shaped documents.parquet —
    // the sf1 scale row (r17 verdict item 7) runs the SAME pipeline over
    // /tmp/graft_sf1, past both size-derived build gates
    val corpusDir = args.collectFirst { case a if a.startsWith("corpus=") => a.drop(7) }
      .getOrElse("/root/testdata/sf0.1")
    val corpusName = corpusDir.split('/').last
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val chunks = operators.Ingest.chunk(
        docs.filter(operators.Ingest.nonBlank(col("text"))), "text", Schemas.ChunkSize)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    val (embedded, dfreq, nDocs) =
      operators.Embed.withTfIdfEmbedding(chunks, "chunk_text", "embedding", dim = 1024)
    val index = embedded.persist()
    val nChunks = index.count()

    // 64 deterministic in-domain queries: the first 8 words of the
    // first chunk of the first 64 docs (by doc_id) — realistic phrasing
    // pulled from the corpus itself, no RNG. Derived BEFORE the build:
    // the gated build's recall floor is checked against THIS workload.
    val queries = index.filter(col("chunk_idx") === 0)
      .orderBy("doc_id").select("chunk_text").limit(64)
      .as[String].collect()
      .map(_.split("\\s+").filter(_.nonEmpty).take(8).mkString(" ")).toSeq
    val qvecs = queries.map(q =>
      operators.Embed.embedQueryTfIdf(spark, q, dfreq, nDocs, dim = 1024))
    val qWorkload = qvecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("query_id", "qv")

    val gdir = java.nio.file.Files.createTempDirectory("serve_graph").toString
    // DEFAULT: the recall-gated production build (buildServing) — the
    // measured recipe wired in: sqrt-N codebook, head-seed TRAINED
    // sqrt-C coarse quantizer probed at p=8 (SCALE.md "Measured
    // scaling curve", routing-quality table — the PMC recall probe, in
    // commit be29786 — measured p=4 = flat recall 0.98 at 69 vs 181
    // dots/row on PMC, but on the sf0.1 documents p=4 gates at
    // recall@10 0.895 and the build refuses; head-order seeds are
    // load-bearing — hash-random seeds collapse to 0.405), and the
    // build REFUSES below recall 0.9 ON THE BENCH'S OWN QUERY
    // WORKLOAD — a ServeBench number can no longer come from a
    // low-recall store by construction. Edge bands stay off here (they
    // are a BUILD-cost knob needing beam 64 — the serving-latency
    // numbers keep the beam-32 walk; the banded acceptance row lives
    // in that same SCALE.md table). `ServeBench flat` keeps the old
    // flat build for comparison.
    val (h, recall) =
      if (args.contains("flat")) {
        val fh = operators.GraphIndex.build(spark, index, Seq("doc_id", "chunk_idx"),
          "embedding", gdir, nCentroids = 181, m = 16, nBuckets = 64,
          beamWidth = 32, hops = 3)
        (fh, Double.NaN)
      } else operators.GraphIndex.buildServing(spark, index,
        Seq("doc_id", "chunk_idx"), "embedding", gdir,
        m = 16, nBuckets = 64, beamWidth = 32, hops = 3,
        superProbes = 8,
        recallFloor = 0.9, recallQueries = 20, recallK = 10,
        recallQueriesDf = Some(qWorkload))
    // the default tier is the in-JVM one (GraphIndex.hot — zero Spark
    // jobs per hop; the per-ask Spark work left is the pruned sidecar
    // re-attach), the round-15 answer to the measured c≈8 knee whose
    // root cause was per-hop job scheduling, not data work.
    // `sharded [shards=K]` serves from the executor-resident sharded
    // tier (GraphIndex.hotSharded, default K=4) — the round-17 answer
    // to the knee the hot tier itself hits: walks run as executor
    // tasks, a batch fans out as ONE job, per-shard RAM is budgeted.
    val nShards = args.collectFirst {
      case a if a.startsWith("shards=") => a.drop(7).toInt }.getOrElse(4)
    // `text` = hot + the resident uid→chunk-text map: the solo ask's
    // retrieval tail runs with ZERO Spark jobs (cache probe and insert
    // remain — the measured residual past the r16 fuse)
    val tierName =
      if (args.contains("sharded")) s"sharded$nShards"
      else if (args.contains("text")) "hotText"
      else "hot"
    val wh: operators.GraphIndex.Serving =
      if (args.contains("sharded")) operators.GraphIndex.hotSharded(spark, h, nShards)
      else operators.GraphIndex.hot(spark, h, residentText = args.contains("text"))
    println(f"SETUP chunks=$nChunks ingest+build+load=${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"build=${if (args.contains("flat")) "flat" else "servingGated"} " +
      f"tier=$tierName recall=$recall%.3f")

    val emptyCache = Seq.empty[(Long, Seq[Float], String, Int)]
      .toDF("entry_id", "embedding", "response", "freq")

    // `retrieve`: pure retrieval-path throughput per tier, one shared
    // setup — the batch fan-out comparison the sharded tier exists for.
    // The 64-query workload runs as ONE topKBatch per tier (hot walks
    // it sequentially in the driver; sharded fans it out as one job
    // over K parallel shard tasks); 3 passes, min wall. This isolates
    // walk parallelism from per-ask job scheduling — the quantity that
    // transfers to a multi-executor cluster, where each shard task is
    // a different machine (the http sweep on ONE box measures the
    // opposite regime: per-ask dispatch overhead with no second JVM to
    // scale to — see SCALE.md r17).
    if (args.contains("retrieve")) {
      wh.cool() // tier-per-row below; the default tier is not used
      // per-shard budget behavior at each K (the sf1 scale row reads
      // these against DefaultHotBudgetBytes — a refusal would name the
      // worst shard; these lines show the headroom)
      Seq(2, 4, 8).foreach { k =>
        val e = operators.GraphIndex.hotShardBytesEstimates(spark, h, k)
        println(f"SHARD-EST K=$k%d worst=${e.max / (1L << 20)}%,d MiB " +
          f"total=${e.sum / (1L << 20)}%,d MiB " +
          f"budget=${operators.GraphIndex.DefaultHotBudgetBytes / (1L << 20)}%,d MiB/shard")
      }
      val tiers: Seq[(String, () => operators.GraphIndex.Serving)] =
        Seq(
          ("hot", () => operators.GraphIndex.hot(spark, h)),
          ("sharded2", () => operators.GraphIndex.hotSharded(spark, h, 2)),
          ("sharded4", () => operators.GraphIndex.hotSharded(spark, h, 4)),
          ("sharded8", () => operators.GraphIndex.hotSharded(spark, h, 8)))
      val qdf = qWorkload.withColumnRenamed("qv", "qvec")
      // quality column: per-query top-3 overlap vs the UNSHARDED hot
      // tier — the measured price of the cross-shard clique confinement
      // on the real corpus (1.0 = the sharding changed no answer)
      var hotTop: Map[Long, Set[(String, Int)]] = Map.empty
      val rows = tiers.map { case (name, mk) =>
        val tier = mk()
        def top(): Map[Long, Set[(String, Int)]] =
          tier.topKBatch(spark, qdf, "query_id", "qvec", 3,
              tieBreak = Seq("doc_id", "chunk_idx"))
            .select("query_id", "doc_id", "chunk_idx")
            .collect().groupBy(_.getLong(0))
            .map { case (q, rs) =>
              q -> rs.map(r => (r.getString(1), r.getInt(2))).toSet }
        def pass(): Double = {
          val t = System.nanoTime()
          val n = tier.topKBatch(spark, qdf, "query_id", "qvec", 3,
            tieBreak = Seq("doc_id", "chunk_idx")).count()
          require(n == 64 * 3, s"retrieve[$name]: expected 192 rows, got $n")
          (System.nanoTime() - t) / 1e9
        }
        val answers = top() // warmup pass doubles as the quality snapshot
        if (name == "hot") hotTop = answers
        val vsHot = answers.map { case (q, s) =>
          s.intersect(hotTop.getOrElse(q, Set.empty)).size / 3.0 }.sum / answers.size
        val best = (0 until 3).map(_ => pass()).min
        val thr = queries.length / best
        println(f"RETRIEVE $name%-9s 64-query batch min=$best%.3f s " +
          f"throughput=$thr%.2f ask/s top3_vs_hot=$vsHot%.3f")
        tier.cool()
        f""""$name":{"batch64_s":$best%.3f,"ask_per_sec":$thr%.2f,"top3_vs_hot":$vsHot%.3f}"""
      }
      println(s"""{"bench":"serve_retrieve_batch","corpus":"$corpusName","chunks":$nChunks,${rows.mkString(",")}}""")
      spark.stop(); return
    }

    if (args.contains("http")) {
      httpConcurrencyBench(spark, index, wh, dfreq, nDocs, queries, nChunks,
        args, tierName, corpusName)
      wh.cool(); spark.stop(); return
    }

    // warmup: JIT + codegen + cached-batch touch, outside every timer
    (0 until 3).foreach { i =>
      if (args.contains("rescache"))
        operators.AskPipeline.askResident(spark, index,
          new operators.ResidentLfuCache(), queries(i),
          queryVec = Some(qvecs(i)), graph = Some(wh))
      else
        operators.AskPipeline.ask(spark, index, emptyCache, queries(i),
          queryVec = Some(qvecs(i)), graph = Some(wh))
    }

    def stats(lat: Seq[Double]): (Double, Double, Double) = {
      val s = lat.sorted
      (pct(s, 0.50), pct(s, 0.95), s.last)
    }

    // batch=1: 64 solo asks, fresh cache each (retrieval, not cache hits).
    // `rescache` probes a fresh ResidentLfuCache instead (r17): with the
    // hotText tier that makes the whole ask ZERO Spark jobs.
    val useResidentCache = args.contains("rescache")
    val solo = queries.indices.map { i =>
      val t = System.nanoTime()
      if (useResidentCache)
        operators.AskPipeline.askResident(spark, index,
          new operators.ResidentLfuCache(), queries(i),
          queryVec = Some(qvecs(i)), graph = Some(wh))
      else
        operators.AskPipeline.ask(spark, index, emptyCache, queries(i),
          queryVec = Some(qvecs(i)), graph = Some(wh))
      (System.nanoTime() - t) / 1e9
    }
    val (s50, s95, sMax) = stats(solo)
    println(f"SERVE solo   n=${solo.length} p50=$s50%.3f p95=$s95%.3f max=$sMax%.3f s/ask")

    def batched(size: Int): (Seq[Double], Double, Double, Double) = {
      val lat = queries.indices.grouped(size).filter(_.length == size).map { g =>
        val t = System.nanoTime()
        if (useResidentCache)
          operators.AskPipeline.askBatchResident(spark, index,
            new operators.ResidentLfuCache(), g.map(queries),
            queryVecs = Some(g.map(qvecs)), graph = Some(wh))
        else
          operators.AskPipeline.askBatch(spark, index, emptyCache,
            g.map(queries), queryVecs = Some(g.map(qvecs)), graph = Some(wh))
        (System.nanoTime() - t) / 1e9
      }.toSeq
      val (p50, p95, mx) = stats(lat)
      (lat, p50, p95, mx)
    }
    val (b8, b8p50, b8p95, b8max) = batched(8)
    println(f"SERVE batch8 n=${b8.length} p50=$b8p50%.3f p95=$b8p95%.3f max=$b8max%.3f s/batch " +
      f"(${b8p50 / 8}%.3f s/ask at p50)")
    val (b32, b32p50, b32p95, b32max) = batched(32)
    println(f"SERVE batch32 n=${b32.length} p50=$b32p50%.3f p95=$b32p95%.3f max=$b32max%.3f s/batch " +
      f"(${b32p50 / 32}%.3f s/ask at p50)")
    // batch saturation: one 64-wide batch (the whole workload) names
    // the batch path's amortization floor — when s/ask stops improving
    // with batch size, the residual is the fixed per-batch job set,
    // i.e. the single driver JVM, not batch width
    val (b64, b64p50, b64p95, b64max) = batched(64)
    println(f"SERVE batch64 n=${b64.length} p50=$b64p50%.3f p95=$b64p95%.3f max=$b64max%.3f s/batch " +
      f"(${b64p50 / 64}%.3f s/ask at p50)")

    println(s"""{"bench":"serve_only","corpus":"$corpusName","tier":"$tierName","chunks":$nChunks,""" +
      f""""solo":{"n":${solo.length},"p50":$s50%.3f,"p95":$s95%.3f,"max":$sMax%.3f},""" +
      f""""batch8":{"n":${b8.length},"p50":$b8p50%.3f,"p95":$b8p95%.3f,"max":$b8max%.3f},""" +
      f""""batch32":{"n":${b32.length},"p50":$b32p50%.3f,"p95":$b32p95%.3f,"max":$b32max%.3f},""" +
      f""""batch64":{"n":${b64.length},"p50":$b64p50%.3f,"p95":$b64p95%.3f,"max":$b64max%.3f},""" +
      f""""per_ask_p50":{"solo":$s50%.3f,"batch8":${b8p50 / 8}%.3f,"batch32":${b32p50 / 32}%.3f,"batch64":${b64p50 / 64}%.3f}}""")
    wh.cool()
    spark.stop()
  }

  /** Concurrency 1/4/8/16 against a LIVE AskServer: per-request HTTP
    * latency + wall-clock throughput. Fresh server (fresh cache) per
    * level; the 64 queries are distinct, so every measured ask is a
    * full retrieval miss. */
  private def httpConcurrencyBench(spark: SparkSession,
                                   index: org.apache.spark.sql.DataFrame,
                                   wh: operators.GraphIndex.Serving,
                                   dfreq: org.apache.spark.sql.DataFrame,
                                   nDocs: Long, queries: Seq[String],
                                   nChunks: Long, args: Array[String],
                                   tierName: String,
                                   corpusName: String): Unit = {
    val http = java.net.http.HttpClient.newHttpClient()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def ask(port: Int, q: String): Unit = {
      val body = s"""{"chat_id":"bench","query":${mapper.writeValueAsString(q)}}"""
      val resp = http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/ask"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200 &&
        mapper.readTree(resp.body()).path("answer").asText().nonEmpty,
        s"ask failed (${resp.statusCode()}): ${resp.body().take(200)}")
    }
    // `http pools=N` isolates the scheduler-pool count from the client
    // count at c=16 — the bottleneck-naming experiment: if throughput
    // moves with N, pool scheduling is the ceiling; if it doesn't, the
    // serialized resource is elsewhere (driver DAG-scheduler event
    // loop being the usual local-mode suspect for many tiny jobs)
    val poolOverride = args.collectFirst {
      case a if a.startsWith("pools=") => a.drop(6).toInt }
    // `http wide` extends the sweep past c=16 — the round-16 ask: name
    // the saturation point the single driver JVM imposes BEFORE a
    // deploy finds it (the knee's position, not just its existence)
    val clientLevels =
      if (poolOverride.isDefined) Seq(16)
      else if (args.contains("wide")) Seq(1, 4, 8, 16, 24, 32, 48)
      else Seq(1, 4, 8, 16)
    // rescache also swaps in the RESIDENT query embedder (df map
    // collected once): with the resident-text tier + resident cache
    // that makes the whole request path zero-Spark-jobs
    val embedFn: String => Array[Double] =
      if (args.contains("rescache"))
        operators.Embed.tfIdfQueryEmbedder(dfreq, nDocs, dim = 1024)
      else
        (q: String) => operators.Embed.embedQueryTfIdf(spark, q, dfreq, nDocs, dim = 1024)
    val levels = clientLevels.map { c =>
      val srv = new AskServer(spark, index, graph = Some(wh),
        embedQuery = Some(embedFn),
        dim = 1024, concurrency = poolOverride.getOrElse(math.max(c, 2)),
        residentCache = args.contains("rescache"))
      val port = srv.start()
      try {
        // warmup asks use throwaway queries so the measured 64 stay misses
        Seq("graph walk warmup one", "graph walk warmup two", "graph walk warmup three")
          .foreach(ask(port, _))
        val next = new java.util.concurrent.atomic.AtomicInteger(0)
        val lat = java.util.Collections.synchronizedList(
          new java.util.ArrayList[Double]())
        val t0 = System.nanoTime()
        val threads = (0 until c).map { _ =>
          new Thread(() => {
            var i = next.getAndIncrement()
            while (i < queries.length) {
              val t = System.nanoTime()
              ask(port, queries(i))
              lat.add((System.nanoTime() - t) / 1e6)
              i = next.getAndIncrement()
            }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        val wall = (System.nanoTime() - t0) / 1e9
        import scala.jdk.CollectionConverters._
        val s = lat.asScala.toSeq.sorted
        val (p50, p95, p99, mx) = (pct(s, 0.50), pct(s, 0.95), pct(s, 0.99), s.last)
        val thr = queries.length / wall
        println(f"SERVE http c=$c n=${s.length} p50=$p50%.3f p95=$p95%.3f " +
          f"p99=$p99%.3f max=$mx%.3f ms/req wall=$wall%.3f s throughput=$thr%.2f ask/s")
        (c, p50, p95, p99, mx, wall, thr)
      } finally srv.stop()
    }
    val levelJson = levels.map { case (c, p50, p95, p99, mx, wall, thr) =>
      f""""c$c":{"p50_ms":$p50%.3f,"p95_ms":$p95%.3f,"p99_ms":$p99%.3f,"max_ms":$mx%.3f,"wall_s":$wall%.3f,"ask_per_sec":$thr%.2f}"""
    }.mkString(",")
    println(s"""{"bench":"serve_http_concurrent","corpus":"$corpusName","tier":"$tierName","chunks":$nChunks,$levelJson}""")
    // the sizing rule a deploy should copy instead of the default 8:
    // throughput rises to a KNEE (concurrent driver-side beam walks
    // contending on the one DAG-scheduler event loop, SCALE.md) and
    // FALLS past it — slots ≈ the measured knee, accept queue unbounded
    // (admission control, the reference's 5-way semaphore). Print the
    // measured recommendation so it travels with every run's output —
    // but only when the sweep actually OBSERVED a knee: a pools=
    // override runs one level (nothing to compare), and a sweep whose
    // max sits on the last level never saw throughput fall, so
    // claiming "more slots reduce throughput" would be unsupported.
    val knee = levels.maxBy(_._7)
    if (levels.length > 1 && knee._1 != levels.last._1)
      println(f"SERVE sizing: throughput knee at c=${knee._1} " +
        f"(${knee._7}%.2f ask/s) — set AskServer(concurrency ≈ ${knee._1}) " +
        "and let excess requests queue; more slots past the knee REDUCE " +
        "throughput (driver beam-walk contention, see SCALE.md c=16 table)")
    else if (levels.length > 1)
      println(f"SERVE sizing: throughput still rising at the widest level " +
        f"measured (c=${knee._1}, ${knee._7}%.2f ask/s) — no knee observed; " +
        "extend the sweep before sizing the pool")
  }
}
