package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.AskServer
import graft.operators.{AskPipeline, Embed, GraphIndex, Ingest, ResidentLfuCache, Retrieval, Similarity}

/** The live /ask workloads: one [[AskServer]] on the resident tier
  * (`GraphIndex.hot(residentText = true)`, resident LFU cache, resident
  * TF-IDF query embedder) over a seeded corpus, driven over loopback HTTP
  * by an open-loop generator of at most `nproc` threads.
  *
  * `ask-miss` sends distinct queries (more than the cache holds), so every
  * ask runs the miss path; `ask-zipf` draws Zipf-skewed repeats from a
  * pool smaller than the cache, so most asks are hits. Each request's
  * latency runs from the time it was due, not the time it was sent.
  */
object AskBench {
  val Dim = 1024
  val TopK: Int = graft.Schemas.DefaultTopK
  /** The latency limit on the tail percentile for goodput. */
  val LimitMs = 250.0
  /** The percentile `latency_tail_ms` reports. */
  val TailGate = 0.9
  /** The fixed rate ladder (ask/s): x1.1 steps from the nominal rate (the
    * first rung) to 269 ask/s, finer than the 0.25 bound on goodput. */
  val Ladder: Seq[Double] = Seq.tabulate(21)(i => math.round(400 * math.pow(1.1, i)) / 10.0)
  /** The build's recall floor — raised probes, never a lowered floor. */
  val RecallFloor = 0.9
  val SuperProbes = 8
  /** Warm-up asks sent last, open loop at the nominal rate over kept-alive
    * connections (the timed path, on a full cache); the rest of the
    * warm-up list fills the cache first, over fresh connections. */
  val JitWarmup = 80

  /** One request as the generator saw it. */
  final case class Sent(query: String, dueNs: Long, sendNs: Long, endNs: Long,
                        ok: Boolean, fromCache: Boolean, answer: String) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
    def lagMs: Double = (sendNs - dueNs) / 1e6
    def httpMs: Double = (endNs - sendNs) / 1e6
  }

  /** The serving stack one setup produces. */
  final case class Tier(index: DataFrame, hot: GraphIndex.Hot, embed: String => Array[Double],
                        server: AskServer, port: Int, gateRecall: Double) {
    def close(): Unit = { server.stop(); hot.cool(); index.unpersist(); () }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private lazy val http: HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** POST /ask; (status 200 and a real answer, from_cache, answer). */
  def ask(port: Int, q: String): (Boolean, Boolean, String) =
    try {
      val body = s"""{"chat_id":"bench","query":${mapper.writeValueAsString(q)}}"""
      val resp = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ask"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val root = mapper.readTree(resp.body())
      val answer = root.path("answer").asText("")
      (resp.statusCode() == 200 && answer.trim.nonEmpty && answer != AskPipeline.NoResponseAnswer,
        root.path("from_cache").asBoolean(false), answer)
    } catch { case scala.util.control.NonFatal(e) => (false, false, s"error: ${e.getMessage}") }

  /** Open loop: request i is due at t0 + i / rate; `workers` threads each
    * take the next due request, wait for its time and send it. `after`
    * runs on the worker once the response is in (the traced replay). */
  def openLoop(port: Int, queries: IndexedSeq[String], rate: Double, workers: Int,
               after: (Int, Sent) => Unit = (_, _) => ()): IndexedSeq[Sent] = {
    val out = new Array[Sent](queries.length)
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime() + 5000000L
    val threads = (0 until workers).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < queries.length) {
          val due = t0 + (i * 1e9 / rate).toLong
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          val (ok, fromCache, answer) = ask(port, queries(i))
          val s = Sent(queries(i), due, now, System.nanoTime(), ok, fromCache, answer)
          out(i) = s
          after(i, s)
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    out.toIndexedSeq
  }

  /** POST /ask on a fresh connection closed after the reply (set-up
    * traffic only: a new connection skips the delayed-ACK wait that
    * back-to-back requests on a kept-alive one run into). */
  def askFresh(port: Int, q: String): Boolean =
    try {
      val body = s"""{"chat_id":"bench","query":${mapper.writeValueAsString(q)}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.setTcpNoDelay(true)
        val out = sock.getOutputStream
        out.write((s"POST /ask HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
          "Content-Type: application/json\r\nConnection: close\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.write(body); out.flush()
        val resp = new String(sock.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        resp.startsWith("HTTP/1.1 200") && !resp.contains(AskPipeline.NoResponseAnswer)
      } finally sock.close()
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Closed loop as fast as `workers` connections go (warm-up only). */
  def closedLoop(port: Int, queries: Seq[String], workers: Int,
                 send: (Int, String) => Boolean = (p, q) => ask(p, q)._1): Int = {
    val next = new AtomicInteger(0)
    val bad = new AtomicInteger(0)
    val threads = (0 until workers).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < queries.length) {
          if (!send(port, queries(i))) bad.incrementAndGet()
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    bad.get
  }

  /** Latencies with failed asks as +inf (a failure misses every limit). */
  def latencies(ss: Seq[Sent]): Seq[Double] =
    ss.map(s => if (s.ok) s.latencyMs else Double.PositiveInfinity)

  /** ingest → embed → gated build → hot tier → server, timed per layer. */
  def setup(spark: SparkSession, a: Main.Args, gateQueries: Seq[String],
            spy: JobSpy, times: collection.mutable.Map[String, Double]): Tier = {
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val v = spy.tagged(spark.sparkContext, "setup")(f)
      times(name) = (System.nanoTime() - t0) / 1e9
      v
    }
    val chunks = timed("Ingest.chunk_s") {
      val docs = spark.read.parquet(s"${a.dataDir}/documents.parquet")
        .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      val c = Ingest.chunk(docs.filter(Ingest.nonBlank(col("text"))), "text", graft.Schemas.ChunkSize)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text")).persist()
      c.count()
      c
    }
    val (index, embed) = timed("Embed.corpus_s") {
      val (embedded, dfreq, nDocs) = Embed.withTfIdfEmbedding(chunks, "chunk_text", "embedding", dim = Dim)
      val idx = embedded.persist()
      idx.count()
      (idx, Embed.tfIdfQueryEmbedder(dfreq, nDocs, dim = Dim))
    }
    chunks.unpersist()
    import spark.implicits._
    val gateDf = gateQueries.zipWithIndex
      .map { case (q, i) => (i.toLong, embed(q).toSeq) }.toDF("query_id", "qv")
    val dir = a.workDir.resolve("graph").toString
    val (h, gateRecall) = timed("GraphIndex.build_s") {
      GraphIndex.buildServing(spark, index, Seq("doc_id", "chunk_idx"), "embedding", dir,
        m = 16, nBuckets = 16, beamWidth = 32, hops = 3, superProbes = SuperProbes,
        recallFloor = RecallFloor, recallQueries = 20, recallK = 10,
        recallQueriesDf = Some(gateDf))
    }
    val hot = timed("GraphIndex.hot_s")(GraphIndex.hot(spark, h, residentText = true))
    val server = new AskServer(spark, index, graph = Some(hot), embedQuery = Some(embed),
      dim = Dim, concurrency = Main.cpus, residentCache = true)
    val port = server.start()
    Tier(index, hot, embed, server, port, gateRecall)
  }

  def run(a: Main.Args, r: Main.Record): Unit = {
    val spark = Main.session(a)
    val sessionS = Main.sinceJvmStartS()
    val spy = new JobSpy
    spark.sparkContext.addSparkListener(spy)
    val tr = new Tracer(a.traced)
    val workers = Main.cpus

    // the generated requests: the workload's query stream plus the seeded
    // samples the build gate and the checks use
    val qs = mapper.readTree(new java.io.File(s"${a.dataDir}/queries.json"))
    def strings(key: String): IndexedSeq[String] =
      qs.path(key).elements().asScala.map(_.asText()).toIndexedSeq
    val stream = strings("stream")
    val warmup = strings("warmup")
    val gateQueries = strings("gate")
    var cursor = 0
    def left: Int = stream.length - cursor
    def take(n: Int): IndexedSeq[String] = {
      require(cursor + n <= stream.length, s"query stream exhausted ($cursor + $n > ${stream.length})")
      val s = stream.slice(cursor, cursor + n); cursor += n; s
    }

    // set-up: ingest → embed → build → hot → server, then warm-up asks
    // (the cache fill, then the timed path on a full cache)
    val layerTimes = collection.mutable.LinkedHashMap.empty[String, Double]
    val tier = setup(spark, a, gateQueries, spy, layerTimes)
    val fill0 = System.nanoTime()
    val badFill = closedLoop(tier.port, warmup.dropRight(JitWarmup), workers, askFresh)
    val fillS = (System.nanoTime() - fill0) / 1e9
    val badJit = openLoop(tier.port, warmup.takeRight(JitWarmup), Ladder.head, workers).count(!_.ok)
    if (badJit + badFill > 0) r.fail(s"warm-up: ${badJit + badFill} asks failed")
    val setupS = Main.sinceJvmStartS()
    Main.log("set-up done")
    spy.awaitEnded("setup")
    val setupSummary = spy.summary("setup")
    val heapSetup = Main.heapLiveMb()

    val port = tier.port
    val nominal = Ladder.head
    val nominalN = math.max(20, (nominal * a.seconds * 0.6).toInt)
    val rungN = (rate: Double) => math.max(60, math.min(400, (rate * a.seconds * 0.15).toInt))
    val levels = collection.mutable.ArrayBuffer.empty[(Double, IndexedSeq[Sent])]

    // the box's speed right before the timed asks (in the record only)
    r.info("calib_jvm_before_load_s") = Main.jvmCalib()
    // plain: the nominal level, then a search of the ladder above it
    val plainNominal = openLoop(port, take(nominalN), nominal, workers)
    levels += ((nominal, plainNominal))
    def passes(ss: Seq[Sent]): Boolean = {
      val lat = latencies(ss)
      val lastFifth = ss.drop(ss.length * 4 / 5).map(_.lagMs)
      Stats.pct(lat, Stats.tailP(lat.length)) <= LimitMs && Stats.median(lastFifth) <= LimitMs
    }
    // asks answered within the limit per second of the level's schedule
    def goodput(rate: Double, ss: Seq[Sent]): Double =
      ss.count(s => s.ok && s.latencyMs <= LimitMs) / (ss.length / rate)
    var goodputRps = if (passes(plainNominal)) goodput(nominal, plainNominal) else 0.0

    // the traced phase: the same nominal rate, each response replayed
    // in-process through the modules' public calls with spans, against a
    // mirror cache primed (untraced) with every ask the server has seen
    val mirror = new ResidentLfuCache()
    val inprocMs = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    def replay(t: Tracer, i: Int, q: String): Unit = {
      val req = i.toLong
      val t0 = System.nanoTime()
      val qv = t.span("Embed.query", req, "ask")(tier.embed(q))
      val hit = t.span("ResidentCache.lookup", req, "ask")(mirror.lookup(qv))
      val effect = hit match {
        case Some((id, _)) => AskPipeline.TouchEffect(id)
        case None =>
          val rows = t.span("GraphIndex.walk", req, "ask")(tier.hot.topKLocalRows(qv.toSeq, TopK))
            .getOrElse(Nil)
          val blocks = t.span("Retrieval.context", req, "ask") {
            val b = Retrieval.contextBlocksLocal(rows)
            Retrieval.promptStringLocal(q, b.mkString("\n\n"), None)
            b
          }
          val answer = t.span("AskPipeline.generate", req, "ask")(
            AskPipeline.generateStub(blocks.headOption.getOrElse("")))
          AskPipeline.InsertEffect(qv.map(_.toFloat).toSeq, answer)
      }
      t.span("ResidentCache.apply", req, "ask")(mirror.applyEffect(effect))
      inprocMs.put(i, (System.nanoTime() - t0) / 1e6)
    }

    var tracedNominal: IndexedSeq[Sent] = IndexedSeq.empty
    if (a.traced) {
      val untraced = new Tracer(false)
      (warmup ++ plainNominal.map(_.query)).foreach(q => replay(untraced, -1, q))
      inprocMs.clear()
      tracedNominal = openLoop(port, take(nominalN), nominal, workers,
        after = (i, s) => replay(tr, i, s.query))
    } else {
      // the highest passing rung, by bisection over the ladder (passing
      // taken as monotone in the rate): about five rungs instead of a
      // climb through every one. A rung the generated stream cannot fill
      // counts as failed.
      var lo = 0
      var hi = if (goodputRps > 0) Ladder.length else 0
      while (hi - lo > 1) {
        val mid = (lo + hi) / 2
        val rate = Ladder(mid)
        if (left < rungN(rate)) { r.info("ladder_stopped_at") = rate; hi = mid }
        else {
          val ss = openLoop(port, take(rungN(rate)), rate, workers)
          levels += ((rate, ss))
          if (passes(ss)) { lo = mid; goodputRps = goodput(rate, ss) } else hi = mid
        }
      }
      r.info("goodput_rung_per_s") = Ladder(lo)
    }
    val heapEnd = Main.heapLiveMb()
    Main.log("load done")

    // ---- checks, outside every timer -------------------------------- //
    val allSent = levels.flatMap(_._2) ++ tracedNominal
    r.attempted += allSent.length
    allSent.filterNot(_.ok).foreach(s => r.fail(s"ask failed: '${s.query}' -> ${s.answer.take(80)}"))
    // a seeded sample of misses must equal the in-process askResident answer
    val misses = allSent.filter(s => s.ok && !s.fromCache)
    val rnd = new scala.util.Random(a.seed)
    val sample = rnd.shuffle(misses).take(if (a.tiny) 4 else 6)
    sample.foreach { s =>
      r.attempted += 1
      val want = AskPipeline.askResident(spark, tier.index, new ResidentLfuCache(), s.query,
        dim = Dim, queryVec = Some(tier.embed(s.query)), graph = Some(tier.hot)).answer
      if (want != s.answer) r.fail(s"answer mismatch for '${s.query}'")
    }
    // hot-tier top-3 against the exact scan, over a seeded query sample
    val recallSample = rnd.shuffle(stream.take(cursor).distinct).take(if (a.tiny) 4 else 6)
    val keyOf = (d: Any, c: Long) => s"$d/$c"
    val recalls = recallSample.map { q =>
      val qv = tier.embed(q).toSeq
      val exact = Similarity.topK(tier.index, "embedding", qv, TopK, tieBreak = Seq("doc_id", "chunk_idx"))
        .select(col("doc_id"), col("chunk_idx").cast("long")).collect()
        .map(x => keyOf(x.get(0), x.getLong(1))).toSet
      val got = tier.hot.topKLocalRows(qv, TopK).getOrElse(Nil).map(x => keyOf(x._1, x._2)).toSet
      if (exact.isEmpty) 1.0 else exact.intersect(got).size.toDouble / exact.size
    }
    val recall3 = if (recalls.isEmpty) 1.0 else recalls.sum / recalls.length
    r.attempted += 1
    if (recall3 < RecallFloor) r.fail(f"retrieval_recall_at_3 $recall3%.3f under $RecallFloor")
    if (tier.gateRecall < RecallFloor) r.fail(s"gate recall ${tier.gateRecall} under floor")

    Main.log("checks done")

    // ---- metrics ------------------------------------------------------ //
    // the gated tail is p90 (24 asks beyond it at 240); the highest
    // percentile the sample supports is recorded beside it
    val nomLat = latencies(plainNominal)
    val tailP = Stats.tailP(nomLat.length)
    r.put("setup_s", setupS, "s")
    r.put("latency_ms", Stats.median(nomLat), "ms")
    r.put("latency_tail_ms", Stats.pct(nomLat, TailGate), "ms")
    r.info("latency_supported_tail_ms") = Stats.pct(nomLat, tailP)
    r.put("goodput_per_s", goodputRps, "1/s")
    r.put("jvm.heap_live_mb", math.max(heapSetup, heapEnd), "MB")
    r.info("nominal_rate_per_s") = nominal
    r.info("nominal_asks") = nomLat.length
    r.info("supported_tail_percentile") = tailP * 100
    r.info("latency_limit_ms") = LimitMs
    r.info("retrieval_recall_at_3") = recall3
    r.info("gate_recall_at_10") = tier.gateRecall
    r.info("setup_layers_s") = layerTimes
    r.info("cache_fill_s") = fillS
    r.info("levels") = levels.map { case (rate, ss) =>
      val lat = latencies(ss)
      Map("rate_per_s" -> rate, "n" -> ss.length, "p50_ms" -> Stats.median(lat),
        "tail_ms" -> Stats.pct(lat, Stats.tailP(lat.length)),
        "lag_p99_ms" -> Stats.pct(ss.map(_.lagMs), 0.99), "passes" -> passes(ss))
    }

    // per-layer (traced run): spans, set-up layers, generator validity
    val measured = if (a.traced) tracedNominal else plainNominal
    def ms(name: String) = tr.ms(name)
    r.put("Embed.query_ms_p50", Stats.median(ms("Embed.query")), "ms")
    r.put("Embed.query_ms_p99", Stats.pct(ms("Embed.query"), 0.99), "ms")
    r.put("ResidentCache.lookup_ms_p50", Stats.median(ms("ResidentCache.lookup")), "ms")
    r.put("ResidentCache.lookup_ms_p99", Stats.pct(ms("ResidentCache.lookup"), 0.99), "ms")
    r.put("ResidentCache.apply_ms_p99", Stats.pct(ms("ResidentCache.apply"), 0.99), "ms")
    r.put("ResidentCache.hit_frac",
      if (measured.isEmpty) 0.0 else measured.count(_.fromCache).toDouble / measured.length, "frac")
    r.put("ResidentCache.size", mirror.size.toDouble, "count")
    r.put("GraphIndex.walk_ms_p50", Stats.median(ms("GraphIndex.walk")), "ms")
    r.put("GraphIndex.walk_ms_p99", Stats.pct(ms("GraphIndex.walk"), 0.99), "ms")
    r.put("GraphIndex.walk_calls", ms("GraphIndex.walk").length.toDouble, "count")
    r.put("Retrieval.context_ms_p50", Stats.median(ms("Retrieval.context")), "ms")
    r.put("AskPipeline.generate_ms_p50", Stats.median(ms("AskPipeline.generate")), "ms")
    val selfMs = tracedNominal.indices.filter(i => inprocMs.containsKey(i) && tracedNominal(i).ok)
      .map(i => tracedNominal(i).httpMs - inprocMs.get(i))
    r.put("AskServer.self_ms_p50", Stats.median(selfMs), "ms")
    r.put("AskServer.self_ms_p99", Stats.pct(selfMs, 0.99), "ms")
    r.put("setup.session_s", sessionS, "s")
    Seq("Ingest.chunk_s", "Embed.corpus_s", "GraphIndex.build_s", "GraphIndex.hot_s")
      .foreach(k => r.put(k, layerTimes.getOrElse(k, 0.0), "s"))
    r.put("GraphIndex.gate_recall", tier.gateRecall, "frac")
    r.put("GraphIndex.recall_at_3", recall3, "frac")
    r.put("setup.spark_jobs", setupSummary.jobs.toDouble, "count")
    r.put("setup.shuffle_mb", setupSummary.shuffleBytes / 1048576.0, "MB")
    r.put("loadgen.lag_ms_p99", Stats.pct(measured.map(_.lagMs), 0.99), "ms")
    r.put("loadgen.sent", measured.length.toDouble, "count")
    r.put("loadgen.ok", measured.count(_.ok).toDouble, "count")
    if (a.traced) {
      val plainP50 = Stats.median(nomLat)
      r.put("trace.overhead_frac",
        (Stats.median(latencies(tracedNominal)) - plainP50) / plainP50, "frac")
      tr.write(a.workDir.resolve("spans.csv"))
    }
    // every timed ask, in schedule order per level
    val asks = java.nio.file.Files.newBufferedWriter(a.workDir.resolve("asks.csv"))
    try {
      asks.write("level,rate_per_s,i,due_ms,lag_ms,latency_ms,ok,from_cache\n")
      val all = levels.toSeq.map { case (rate, ss) => (if (rate == nominal) "nominal" else "rung", rate, ss) } ++
        (if (tracedNominal.isEmpty) Nil else Seq(("traced", nominal, tracedNominal)))
      all.foreach { case (level, rate, ss) =>
        ss.zipWithIndex.foreach { case (s, i) =>
          asks.write(f"$level,$rate,$i,${(s.dueNs - ss.head.dueNs) / 1e6}%.3f,${s.lagMs}%.3f," +
            f"${s.latencyMs}%.3f,${s.ok},${s.fromCache}\n")
        }
      }
    } finally asks.close()
    r.info("box") = Main.box(spark)
    Main.log("box recorded")
    tier.close()
    spark.stop()
  }
}
