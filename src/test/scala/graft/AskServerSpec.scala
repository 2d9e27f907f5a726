package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Embed, Ingest}

/** Live-socket spec for [[AskServer]]: real HTTP round-trips against a
  * loopback server over a small embedded index — the reference's
  * POST /ask contract (query in, answer out), the evolving LFU cache
  * observable as from_cache on a repeat ask, per-chat conversation
  * memory, the NDJSON token relay, and input validation. */
class AskServerSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  private val mapper = new ObjectMapper()
  // the JDK server speaks HTTP/1.1 only; pinning skips the h2c upgrade
  // offer, and the client keeps one connection alive per server
  private lazy val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private lazy val chunks = {
    import spark.implicits._
    val docs = Seq(
      (1L, "the planner chooses a broadcast hash join for small tables"),
      (2L, "vectors are normalized before the cosine scoring step runs"),
      (3L, "the shuffle file is written per map task and fetched by reducers"))
      .toDF("doc_id", "text")
    Ingest.chunk(docs.filter(Ingest.nonBlank(col("text"))), "text", 8)
      .select("doc_id", "chunk_idx", "chunk_text")
  }

  private lazy val index = Materialize(Embed.withEmbedding(chunks, "chunk_text", "embedding"))

  private def withServer(f: Int => Unit): Unit = {
    val srv = new AskServer(spark, index)
    val port = srv.start()
    try f(port) finally srv.stop()
  }

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** A server on the resident tier the benchmark serves —
    * `hot(residentText = true)` graph, resident LFU cache, driver-side
    * TF-IDF query embedder — so an ask schedules no Spark job and its
    * round trip is transport plus driver compute. */
  private def withResidentServer(f: AskServer => Unit): Unit = {
    val (embedded, dfreq, n) = Embed.withTfIdfEmbedding(chunks, "chunk_text", "embedding")
    val tfIndex = Materialize(embedded)
    val dir = java.nio.file.Files.createTempDirectory("graft_askresident").toString
    val h = operators.GraphIndex.build(spark, tfIndex, Seq("doc_id", "chunk_idx"),
      "embedding", dir, nCentroids = 2, m = 4, nBuckets = 4, beamWidth = 8, hops = 2)
    val hot = operators.GraphIndex.hot(spark, h, residentText = true)
    val srv = new AskServer(spark, tfIndex, graph = Some(hot),
      embedQuery = Some(Embed.tfIdfQueryEmbedder(dfreq, n)), residentCache = true)
    srv.start()
    try f(srv) finally { srv.stop(); hot.cool() }
  }

  /** Spark jobs started from an ask's scheduler pool (`graft-ask-N`)
    * while `body` runs. The listener bus delivers a listener's events
    * in order, so once a fence job submitted after `body` has ended,
    * every job start from `body` has been counted. */
  private def askPoolJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val fence = "graft-fence-" + java.util.UUID.randomUUID()
    val asked = new java.util.concurrent.atomic.AtomicInteger(0)
    val fenceJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.scheduler.pool", "").startsWith("graft-ask-")))
          asked.incrementAndGet()
        if (props.exists(_.getProperty("graft.fence") == fence)) fenceJob.set(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceJob.get) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.fence", fence)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.fence", null)
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus never delivered the fence job's end")
      asked.get
    } finally sc.removeSparkListener(listener)
  }

  private def medianMs(nanos: Seq[Long]): Double = {
    val s = nanos.sorted
    (s((s.length - 1) / 2) + s(s.length / 2)) / 2e6
  }

  /** A real JDK WebSocket client on `/ws/ask`; `ask` sends one query and
    * returns every message up to and including its done/error line. */
  private final class WsClient(wsPort: Int, chatId: String) {
    private val msgs = new java.util.concurrent.LinkedBlockingQueue[String]()
    private val listener = new java.net.http.WebSocket.Listener {
      private val sb = new StringBuilder
      override def onText(ws: java.net.http.WebSocket, data: CharSequence,
                          last: Boolean): java.util.concurrent.CompletionStage[_] = {
        sb.append(data)
        if (last) { msgs.add(sb.toString); sb.setLength(0) }
        ws.request(1); null
      }
    }
    private val ws = http.newWebSocketBuilder()
      .buildAsync(URI.create(s"ws://127.0.0.1:$wsPort/ws/ask"), listener).join()
    def ask(q: String): Seq[String] = {
      ws.sendText(s"""{"chat_id":"$chatId","query":${mapper.writeValueAsString(q)}}""", true)
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      var done = false
      while (!done) {
        val m = msgs.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(m != null, s"WS relay stalled on '$q'; got so far: $got")
        got += m
        val n = mapper.readTree(m)
        done = n.has("done") || n.has("error")
      }
      got.toSeq
    }
    def close(): Unit = ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "bye").join()
  }

  test("staleCheck=refuse answers 503 once the graph snapshot goes stale; log serves on") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_askstale").toString
    val h = operators.GraphIndex.build(spark, index, Seq("doc_id", "chunk_idx"),
      "embedding", dir, nCentroids = 2, m = 4, nBuckets = 4, beamWidth = 8, hops = 2)
    def delete(n: Int): Unit = {
      val victim = index.select("doc_id", "chunk_idx")
        .orderBy("doc_id", "chunk_idx").as[(Long, Int)].collect()(n)
      operators.GraphIndex.delete(spark, h,
        Seq(victim).toDF("doc_id", "chunk_idx"), Seq("doc_id", "chunk_idx"))
    }
    val hot0 = operators.GraphIndex.hot(spark, h)
    val srv0 = new AskServer(spark, index, graph = Some(hot0), staleCheck = "refuse")
    val p0 = srv0.start()
    try {
      assert(post(p0, "/ask", """{"query":"broadcast join tables"}""").statusCode() == 200)
      delete(0)
      val stale = post(p0, "/ask", """{"query":"broadcast join tables"}""")
      assert(stale.statusCode() == 503, s"${stale.statusCode()} ${stale.body()}")
      assert(stale.body().contains("stale"), stale.body())
    } finally { srv0.stop(); hot0.cool() }
    // the log posture keeps serving the point-in-time snapshot
    val hot1 = operators.GraphIndex.hot(spark, h)
    val srv1 = new AskServer(spark, index, graph = Some(hot1), staleCheck = "log")
    val p1 = srv1.start()
    try {
      delete(1)
      assert(hot1.isStale(spark))
      assert(post(p1, "/ask", """{"query":"broadcast join tables"}""").statusCode() == 200)
    } finally { srv1.stop(); hot1.cool() }
  }

  test("POST /ask answers; an identical repeat is served from the evolving cache") {
    withServer { port =>
      val q = """{"chat_id":"c0","query":"broadcast hash join planner"}"""
      val r1 = mapper.readTree(post(port, "/ask", q).body())
      assert(r1.path("query").asText() == "broadcast hash join planner")
      assert(r1.path("answer").asText().nonEmpty)
      assert(!r1.path("from_cache").asBoolean(true), "first ask must be a miss")
      val r2 = mapper.readTree(post(port, "/ask", q).body())
      assert(r2.path("from_cache").asBoolean(false), "repeat ask must hit the cache")
      assert(r2.path("answer").asText() == r1.path("answer").asText())
    }
  }

  test("conversation memory: turns accumulate per chat_id, isolated across chats") {
    withServer { port =>
      def turns(chat: String, q: String): Int =
        mapper.readTree(post(port, "/ask",
          s"""{"chat_id":"$chat","query":${mapper.writeValueAsString(q)}}""").body())
          .path("n_history_turns").asInt(-1)
      assert(turns("cA", "cosine scoring of vectors") == 0)
      assert(turns("cA", "shuffle files and reducers") == 1)
      assert(turns("cA", "planner and small tables") == 2)
      assert(turns("cB", "cosine scoring of vectors") == 0, "chats are isolated")
    }
  }

  test("POST /ask/stream relays the answer as NDJSON tokens ending in done:true") {
    withServer { port =>
      val q = """{"chat_id":"s0","query":"shuffle file map task"}"""
      val ask = mapper.readTree(post(port, "/ask", q).body()).path("answer").asText()
      val lines = post(port, "/ask/stream", q).body().split("\n").filter(_.nonEmpty)
      val last = mapper.readTree(lines.last)
      assert(last.path("done").asBoolean(false), s"missing done line: ${lines.last}")
      assert(last.path("from_cache").asBoolean(false), "same query: relay serves the cached answer")
      val rebuilt = lines.init.map(l => mapper.readTree(l).path("token").asText()).mkString
      assert(rebuilt == ask, s"token concat != answer:\n'$rebuilt'\n'$ask'")
    }
  }

  test("generateStream hook: miss-path tokens relay the MODEL's deltas; cached repeat relays the stored answer") {
    val deltas = Seq("alpha ", "beta ", "gamma")
    // the hook runs at the pipeline's LLM call site and receives the
    // full prompt — assert that contract while we're here
    @volatile var seenPrompt: String = null
    val srv = new AskServer(spark, index,
      generateStream = Some { p => seenPrompt = p; deltas.iterator })
    val port = srv.start()
    try {
      val q = """{"chat_id":"g0","query":"broadcast join tables"}"""
      val lines = post(port, "/ask/stream", q).body().split("\n").filter(_.nonEmpty)
      val toks = lines.init.map(l => mapper.readTree(l).path("token").asText()).toSeq
      assert(toks == deltas, s"live relay must emit the model's own deltas: $toks")
      assert(!mapper.readTree(lines.last).path("from_cache").asBoolean(true))
      assert(seenPrompt != null && seenPrompt.contains("broadcast join tables") &&
        seenPrompt.contains("Context:"), s"hook must receive the full prompt:\n$seenPrompt")
      // the accumulated stream IS the cached answer: the repeat is a
      // hit and relays the stored text (split per word, not per delta)
      val again = post(port, "/ask/stream", q).body().split("\n").filter(_.nonEmpty)
      assert(mapper.readTree(again.last).path("from_cache").asBoolean(false))
      val rebuilt = again.init.map(l => mapper.readTree(l).path("token").asText()).mkString
      assert(rebuilt == deltas.mkString, s"cached relay must replay the accumulated answer: '$rebuilt'")
    } finally srv.stop()
  }

  test("failed generation: error answer, nothing cached, no memory turn") {
    // hook fails (empty answer) once, then recovers — the failure must
    // not be served as a later cache hit and must not become a history turn
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new AskServer(spark, index,
      generate = Some(_ => if (calls.incrementAndGet() == 1) "" else "real answer"))
    val port = srv.start()
    try {
      val q = """{"chat_id":"f0","query":"broadcast join tables"}"""
      val r1 = mapper.readTree(post(port, "/ask", q).body())
      assert(r1.path("answer").asText() == graft.operators.AskPipeline.NoResponseAnswer)
      assert(r1.path("answer").asText() == "Error: No response was generated. Please try later!",
        "must be the reference's verbatim error string (app/main.py:541)")
      assert(!r1.path("from_cache").asBoolean(true))
      val r2 = mapper.readTree(post(port, "/ask", q).body())
      assert(!r2.path("from_cache").asBoolean(true),
        "the failed answer must not have seeded the cache")
      assert(r2.path("answer").asText() == "real answer")
      assert(r2.path("n_history_turns").asInt(-1) == 0,
        "a failed ask must not append a conversation turn")
      val r3 = mapper.readTree(post(port, "/ask", q).body())
      assert(r3.path("from_cache").asBoolean(false), "the real answer caches normally")
      assert(r3.path("n_history_turns").asInt(-1) == 1)
    } finally srv.stop()
  }

  test("failed STREAMING generation is visible on /ask/stream: error answer relayed, not a bare done") {
    // HttpGenerateClient degrades to an EMPTY stream on any transport
    // failure — the stream client must still read the error answer
    // (token relay of NoResponseAnswer), never a token-less done:true
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new AskServer(spark, index,
      generateStream = Some(_ =>
        if (calls.incrementAndGet() == 1) Iterator.empty
        else Iterator("recovered ", "answer")))
    val port = srv.start()
    try {
      val q = """{"chat_id":"sf0","query":"broadcast join tables"}"""
      val lines1 = post(port, "/ask/stream", q).body().trim.split("\n").toSeq
      val toks1 = lines1.filter(_.contains("\"token\""))
        .map(l => mapper.readTree(l).path("token").asText()).mkString
      assert(toks1 == graft.operators.AskPipeline.NoResponseAnswer,
        s"failed stream must relay the error answer, got: $lines1")
      // and the failure did not poison the cache: the retry generates
      val lines2 = post(port, "/ask/stream", q).body().trim.split("\n").toSeq
      val toks2 = lines2.filter(_.contains("\"token\""))
        .map(l => mapper.readTree(l).path("token").asText()).mkString
      assert(toks2 == "recovered answer", s"got: $lines2")
      assert(mapper.readTree(lines2.last).path("from_cache").asBoolean(true) == false)
    } finally srv.stop()
  }

  test("WS fragmented text message (FIN=0 + continuation) is assembled and answered") {
    val srv = new AskServer(spark, index)
    srv.start()
    val wsPort = srv.port
    try {
      val sock = new java.net.Socket("127.0.0.1", wsPort)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        sock.getInputStream, java.nio.charset.StandardCharsets.ISO_8859_1))
      // handshake
      out.write(("GET /ws/ask HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n" +
        "Connection: Upgrade\r\nSec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
        "Sec-WebSocket-Version: 13\r\n\r\n").getBytes("ISO-8859-1"))
      out.flush()
      var line = in.readLine()
      assert(line != null && line.contains("101"), s"handshake failed: $line")
      while (line != null && line.nonEmpty) line = in.readLine()
      // masked client frames: text FIN=0 with the first half, then
      // continuation FIN=1 with the rest
      def frame(opcode: Int, fin: Boolean, payload: Array[Byte]): Array[Byte] = {
        val mask = Array[Byte](0x11, 0x22, 0x33, 0x44)
        val b = new scala.collection.mutable.ArrayBuffer[Byte]()
        b += ((if (fin) 0x80 else 0x00) | opcode).toByte
        assert(payload.length < 126)
        b += (0x80 | payload.length).toByte
        b ++= mask
        payload.indices.foreach(i => b += (payload(i) ^ mask(i % 4)).toByte)
        b.toArray
      }
      val msg = """{"chat_id":"wf0","query":"broadcast join tables"}"""
        .getBytes("UTF-8")
      val (h1, h2) = msg.splitAt(msg.length / 2)
      out.write(frame(0x1, fin = false, h1))
      out.write(frame(0x0, fin = true, h2))
      out.flush()
      // read server frames until the done line arrives (unmasked, short)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      val seen = new StringBuilder
      val raw = sock.getInputStream
      var done = false
      while (!done && System.nanoTime() < deadline) {
        val b0 = raw.read(); val b1 = raw.read()
        assert(b0 >= 0 && b1 >= 0, s"server closed early after: $seen")
        val len = b1 & 0x7f
        assert(len < 126, "test frames are short")
        val payload = new Array[Byte](len)
        var off = 0
        while (off < len) {
          val r = raw.read(payload, off, len - off); assert(r >= 0); off += r
        }
        val text = new String(payload, "UTF-8")
        seen.append(text).append('\n')
        if (text.contains("\"done\"") || text.contains("\"error\"")) done = true
      }
      assert(seen.toString.contains("\"done\":true"),
        s"fragmented message must be assembled and answered, got: $seen")
      assert(!seen.toString.contains("\"error\""),
        s"no error line expected, got: $seen")
      sock.close()
    } finally srv.stop()
  }

  test("generateStream-only: /ask answers from the SAME model as /ask/stream") {
    val srv = new AskServer(spark, index,
      generateStream = Some(_ => Iterator("model ", "answer")))
    val port = srv.start()
    try {
      // blocking endpoint first: it must drain the stream hook, not fall
      // back to the stub — otherwise the two endpoints cache different
      // answers for the same query
      val q = """{"chat_id":"m0","query":"cosine scoring vectors"}"""
      val r1 = mapper.readTree(post(port, "/ask", q).body())
      assert(r1.path("answer").asText() == "model answer")
      val lines = post(port, "/ask/stream", q).body().split("\n").filter(_.nonEmpty)
      assert(mapper.readTree(lines.last).path("from_cache").asBoolean(false),
        "stream repeat must hit the entry /ask cached")
      val rebuilt = lines.init.map(l => mapper.readTree(l).path("token").asText()).mkString
      assert(rebuilt == "model answer")
    } finally srv.stop()
  }

  test("/ask/stream failure after headers ends the stream with an error line") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new AskServer(spark, index,
      generateStream = Some { _ =>
        if (calls.incrementAndGet() == 1)
          Iterator("one ") ++ { throw new RuntimeException("model exploded") }
        else Iterator("recovered")
      })
    val port = srv.start()
    try {
      val body = post(port, "/ask/stream",
        """{"chat_id":"e0","query":"shuffle file map task"}""").body()
      val lines = body.split("\n").filter(_.nonEmpty)
      val last = mapper.readTree(lines.last)
      assert(last.has("error"), s"stream must terminate with an error line, got: $body")
      assert(last.path("error").asText().contains("model exploded"))
      // the server survives, and the aborted ask cached nothing: the
      // recovered model's answer is generated fresh
      val r = mapper.readTree(post(port, "/ask",
        """{"chat_id":"e0","query":"shuffle file map task"}""").body())
      assert(r.path("answer").asText() == "recovered")
      assert(!r.path("from_cache").asBoolean(true))
    } finally srv.stop()
  }

  test("concurrent asks: all answered, effects merge, state stays consistent") {
    withServer { port =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val queries = Seq(
        "broadcast hash join planner", "cosine scoring of vectors",
        "shuffle files and reducers", "broadcast hash join planner",
        "cosine scoring of vectors", "shuffle files and reducers",
        "broadcast hash join planner", "cosine scoring of vectors")
      // 8 concurrent asks (3 distinct queries, duplicated) on one chat —
      // retrieval runs unlocked in parallel; effects merge serially
      val futs = queries.zipWithIndex.map { case (q, i) => Future {
        mapper.readTree(post(port, "/ask",
          s"""{"chat_id":"cc","query":${mapper.writeValueAsString(q)}}""").body())
      }}
      val rs = Await.result(Future.sequence(futs), 120.seconds)
      assert(rs.length == 8 && rs.forall(_.path("answer").asText().nonEmpty))
      // per-query answers agree across racers (hit or regenerated — the
      // pipeline is deterministic, so racing misses produce equal text)
      queries.distinct.foreach { q =>
        val answers = rs.zip(queries).filter(_._2 == q).map(_._1.path("answer").asText()).toSet
        assert(answers.size == 1, s"racing asks for '$q' diverged: $answers")
      }
      // the merged state serves hits now, and memory kept every turn
      // (bounded at historyTurns=5)
      val again = mapper.readTree(post(port, "/ask",
        """{"chat_id":"cc","query":"broadcast hash join planner"}""").body())
      assert(again.path("from_cache").asBoolean(false), "post-race repeat must be a hit")
      assert(again.path("n_history_turns").asInt(-1) == 5,
        "8 concurrent turns on one chat must leave the bounded window full")
    }
  }

  test("WS /ws/ask: real JDK WebSocket client — handshake, token relay, shared cache") {
    val srv = new AskServer(spark, index)
    srv.start()
    val wsPort = srv.port
    try {
      val ws = new WsClient(wsPort, "w0")
      // first ask: miss — token frames then done(from_cache=false)
      val first = ws.ask("broadcast hash join planner")
      val d1 = mapper.readTree(first.last)
      assert(!d1.path("from_cache").asBoolean(true))
      val answer = first.init.map(m => mapper.readTree(m).path("token").asText()).mkString
      assert(answer.nonEmpty)
      // second ask on the SAME connection: served from the shared cache
      val second = ws.ask("broadcast hash join planner")
      assert(mapper.readTree(second.last).path("from_cache").asBoolean(false))
      assert(second.init.map(m => mapper.readTree(m).path("token").asText()).mkString == answer)
      ws.close()
      // the WS asks share serving state with HTTP: POST /ask hits the
      // same cache entry the WS miss created
      val r = mapper.readTree(post(srv.port, "/ask",
        """{"chat_id":"other","query":"broadcast hash join planner"}""").body())
      assert(r.path("from_cache").asBoolean(false), "HTTP must hit the WS-seeded cache")
      assert(r.path("answer").asText() == answer)
    } finally srv.stop()
    // back-to-back asks on one connection run at compute speed: every
    // answer is several token frames, and with Nagle on the socket each
    // frame after the first waited for the client's delayed ACK (40 ms)
    withResidentServer { rs =>
      val ws = new WsClient(rs.port, "w1")
      val rounds = (0 until 24).map { i =>
        val t0 = System.nanoTime()
        val got = ws.ask(s"shuffle files fetched by reducers $i")
        assert(mapper.readTree(got.last).has("done"), got)
        System.nanoTime() - t0
      }
      ws.close()
      assert(medianMs(rounds) < 30.0,
        s"median WS ask round trip ${medianMs(rounds)} ms; all: ${rounds.map(_ / 1000000)}")
    }
  }

  test("WS demo loop spec-pinned: capacity-2 LFU evicts the cold entry, frequent one survives") {
    // the README serving loop PmcDemo runs live (miss → hit → miss →
    // miss+evict → evicted entry misses again), folded into the gate so
    // a serving regression can't silently break the reference's demo:
    // capacity 2, three distinct queries — the 3rd insert evicts the
    // least-frequently-used entry (q2, freq 1; q1 was re-asked to freq
    // 2), the evicted query misses on re-ask, and the frequent entry
    // keeps hitting through all of it
    val srv = new AskServer(spark, index, capacity = 2)
    srv.start()
    val wsPort = srv.port
    try {
      val ws = new WsClient(wsPort, "demo")
      def fromCache(q: String): Boolean =
        mapper.readTree(ws.ask(q).last).path("from_cache").asBoolean(false)
      val q1 = "broadcast hash join planner"
      val q2 = "cosine scoring normalized vectors"
      val q3 = "shuffle file map task reducers"
      assert(!fromCache(q1), "first distinct ask must miss")
      assert(fromCache(q1), "repeat must hit (freq -> 2)")
      assert(!fromCache(q2), "second distinct ask must miss (cache now full)")
      assert(!fromCache(q3), "third distinct ask must miss and evict the LFU entry")
      assert(!fromCache(q2), "evicted entry must miss again on re-ask")
      assert(fromCache(q1), "the frequent entry must survive every eviction")
      ws.close()
      // WS ↔ HTTP shared state: the same loop's cache serves POST /ask
      val r = mapper.readTree(post(srv.port, "/ask",
        s"""{"chat_id":"other","query":${mapper.writeValueAsString(q1)}}""").body())
      assert(r.path("from_cache").asBoolean(false), "HTTP must hit the WS-seeded entry")
    } finally srv.stop()
  }

  test("residentCache server: miss -> hit -> capacity-2 eviction, same contract as the DataFrame medium") {
    // the r17 resident cache medium behind the live surface: the same
    // miss/hit/evict sequence the DataFrame-backed server serves, with
    // zero cache-probe/merge Spark jobs per request
    val srv = new AskServer(spark, index, capacity = 2, residentCache = true)
    val port = srv.start()
    try {
      def ask(q: String): com.fasterxml.jackson.databind.JsonNode =
        mapper.readTree(post(port, "/ask",
          s"""{"chat_id":"rc","query":${mapper.writeValueAsString(q)}}""").body())
      val q1 = "broadcast hash join planner"
      val r1 = ask(q1)
      assert(!r1.path("from_cache").asBoolean(true), "first ask must miss")
      assert(ask(q1).path("from_cache").asBoolean(false), "repeat must hit")
      assert(ask(q1).path("answer").asText() == r1.path("answer").asText())
      // two more distinct asks overflow capacity 2: q1 (freq 3) must
      // SURVIVE the LFU eviction, the newest freq-1 entry goes
      ask("vectors cosine scoring normalized")
      ask("shuffle file map task reducers")
      assert(ask(q1).path("from_cache").asBoolean(false),
        "the frequent entry must survive eviction")
    } finally srv.stop()
  }

  test("kept-alive HTTP/1.1 /ask on the resident tier runs at compute speed (no Nagle stall)") {
    // the JDK server writes headers and body as separate segments; with
    // Nagle on, the body of every response on a kept-alive connection
    // waited for the client's delayed ACK of the headers (>= 40 ms)
    withResidentServer { srv =>
      val rounds = (0 until 40).map { i =>
        val t0 = System.nanoTime()
        val r = post(srv.port, "/ask",
          s"""{"chat_id":"ka","query":"cosine scoring normalized vectors $i"}""")
        assert(r.statusCode() == 200, r.body())
        System.nanoTime() - t0
      }
      assert(medianMs(rounds) < 30.0,
        s"median /ask round trip ${medianMs(rounds)} ms; all: ${rounds.map(_ / 1000000)}")
    }
  }

  test("resident /ask misses run zero Spark jobs; the DataFrame medium's miss runs some") {
    withResidentServer { srv =>
      val jobs = askPoolJobs {
        (0 until 20).foreach { i =>
          val r = post(srv.port, "/ask",
            s"""{"chat_id":"zj","query":"broadcast planner probe$i variant${i}x"}""")
          assert(r.statusCode() == 200, r.body())
          assert(!mapper.readTree(r.body()).path("from_cache").asBoolean(true),
            s"ask $i must miss: ${r.body()}")
        }
      }
      assert(jobs == 0, s"$jobs Spark job(s) ran from the resident ask path")
    }
    // positive control: the listener does see an ask's jobs
    withServer { port =>
      val jobs = askPoolJobs {
        val r = post(port, "/ask", """{"chat_id":"zj","query":"broadcast hash join planner"}""")
        assert(!mapper.readTree(r.body()).path("from_cache").asBoolean(true), r.body())
      }
      assert(jobs > 0, "the DataFrame-medium miss must count its Spark jobs")
    }
  }

  /** Read one raw HTTP/1.1 reply: (status, lower-cased headers, body). */
  private def readReply(in: java.io.InputStream): (Int, Map[String, String], String) = {
    val head = new StringBuilder
    while (head.length < 4 || head.substring(head.length - 4) != "\r\n\r\n") {
      val c = in.read()
      assert(c >= 0, s"connection closed inside a reply head: $head")
      head.append(c.toChar)
    }
    val lines = head.toString.split("\r\n")
    val headers = lines.tail.map { l =>
      val i = l.indexOf(':')
      l.take(i).trim.toLowerCase -> l.drop(i + 1).trim
    }.toMap
    val len = headers.get("content-length").map(_.toInt).getOrElse(0)
    (lines.head.split(' ')(1).toInt, headers,
      new String(in.readNBytes(len), java.nio.charset.StandardCharsets.UTF_8))
  }

  private def liveThreads(prefix: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(prefix)).map(_.getName)
  }

  /** Wait up to 5 s for every thread named `prefix…` to end. */
  private def awaitThreads(prefix: String, clue: String): Unit = {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (liveThreads(prefix).nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(liveThreads(prefix).isEmpty, s"$clue: ${liveThreads(prefix)}")
  }

  test("admission control: with concurrency = 1, an HTTP ask and a WS ask never overlap") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import java.util.concurrent.TimeUnit.SECONDS
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val entered = new java.util.concurrent.Semaphore(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val srv = new AskServer(spark, index, concurrency = 1, generate = Some { _ =>
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
      entered.release()
      try { gate.await(60, SECONDS); "gated answer" } finally inFlight.decrementAndGet()
    })
    val port = srv.start()
    try {
      val httpAsk = Future(post(port, "/ask", """{"chat_id":"ac0","query":"broadcast join tables"}"""))
      assert(entered.tryAcquire(60, SECONDS), "the HTTP ask never reached generate")
      val ws = new WsClient(port, "ac1")
      val wsAsk = Future(ws.ask("shuffle file map task reducers"))
      assert(!entered.tryAcquire(5, SECONDS),
        "the WS ask reached generate while the HTTP ask held the only permit")
      gate.countDown()
      val r = Await.result(httpAsk, 60.seconds)
      assert(r.statusCode() == 200, r.body())
      assert(mapper.readTree(r.body()).path("answer").asText() == "gated answer")
      val w = Await.result(wsAsk, 60.seconds)
      assert(mapper.readTree(w.last).path("done").asBoolean(false), w)
      assert(entered.tryAcquire(60, SECONDS), "the WS ask never reached generate")
      assert(maxInFlight.get == 1, s"${maxInFlight.get} asks ran generate at once")
      ws.close()
    } finally { gate.countDown(); srv.stop() }
  }

  test("HTTP/1.1 edge cases: close, 100-continue, 404/400/413/411, an h2c offer, the connection cap, stop()") {
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    val srv = new AskServer(spark, index, generate = Some(_ => "stub answer"))
    val port = srv.start()
    def open(): java.net.Socket = {
      val s = new java.net.Socket("127.0.0.1", port)
      s.setSoTimeout(60000)
      s
    }
    def send(s: java.net.Socket, head: String, body: Array[Byte] = Array.emptyByteArray): Unit = {
      s.getOutputStream.write(head.getBytes(ISO_8859_1) ++ body)
      s.getOutputStream.flush()
    }
    def postHead(extra: String, length: Long): String =
      "POST /ask HTTP/1.1\r\nHost: x\r\nContent-Type: application/json\r\n" +
        s"${extra}Content-Length: $length\r\n\r\n"
    val askBody = """{"chat_id":"h0","query":"broadcast join tables"}""".getBytes(UTF_8)
    try {
      // Connection: close is honoured: the reply says so, then EOF
      val c1 = open()
      send(c1, postHead("Connection: close\r\n", askBody.length), askBody)
      val (code1, h1, body1) = readReply(c1.getInputStream)
      assert(code1 == 200, body1)
      assert(h1.get("connection").contains("close"), h1)
      assert(c1.getInputStream.read() == -1, "the socket must close after a Connection: close reply")
      c1.close()
      // Expect: 100-continue gets the interim 100 before the body is
      // sent; the kept-alive socket then serves 404 and 400 in turn
      val c2 = open()
      send(c2, postHead("Expect: 100-continue\r\n", askBody.length))
      assert(readReply(c2.getInputStream)._1 == 100)
      send(c2, "", askBody)
      val (code2, _, body2) = readReply(c2.getInputStream)
      assert(code2 == 200 && mapper.readTree(body2).path("answer").asText() == "stub answer", body2)
      send(c2, "GET /nowhere HTTP/1.1\r\nHost: x\r\n\r\n")
      assert(readReply(c2.getInputStream)._1 == 404)
      send(c2, "GET /ask HTTP/1.1\r\nHost: x\r\n\r\n")
      val (code4, _, body4) = readReply(c2.getInputStream)
      assert(code4 == 400 && body4.contains("POST only"), body4)
      c2.close()
      // a body over 1 MiB is refused before it is read
      val c3 = open()
      send(c3, postHead("", (1 << 20) + 1))
      assert(readReply(c3.getInputStream)._1 == 413)
      c3.close()
      // a chunked request body has no length to read to
      val c4 = open()
      send(c4, "POST /ask HTTP/1.1\r\nHost: x\r\nTransfer-Encoding: chunked\r\n\r\n" +
        Integer.toHexString(askBody.length) + "\r\n", askBody ++ "\r\n0\r\n\r\n".getBytes(ISO_8859_1))
      assert(readReply(c4.getInputStream)._1 == 411)
      c4.close()
      // the cap counts open connections: wait for the closed ones' threads
      awaitThreads(s"ask-server-$port-conn-", "closed connections must release their threads")
      val held = (1 to AskServer.MaxConnections).map(_ => open())
      val over = open()
      assert(readReply(over.getInputStream)._1 == 503, "a connection over the cap gets 503")
      over.close()
      send(held.head, postHead("", askBody.length), askBody)
      assert(readReply(held.head.getInputStream)._1 == 200, "a connection under the cap is served")
      held.foreach(_.close())
      awaitThreads(s"ask-server-$port-conn-", "closed connections must release their threads")
      // a default client offers an h2c upgrade and is answered as HTTP/1.1
      val h2c = HttpClient.newHttpClient()
      val r = h2c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ask"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofByteArray(askBody)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      assert(r.version() == HttpClient.Version.HTTP_1_1)
      // stop() ends the acceptor and every connection thread, idle or not
      // (the h2c client's kept-alive connection and one raw socket)
      val idle = open()
      srv.stop()
      awaitThreads(s"ask-server-$port-", "stop() must end every server thread")
      idle.close()
    } finally srv.stop()
  }

  test("/ask replies carry Server-Timing: ask and srv durations, ask <= srv") {
    withResidentServer { srv =>
      val r = post(srv.port, "/ask", """{"chat_id":"st","query":"cosine scoring normalized vectors"}""")
      assert(r.statusCode() == 200, r.body())
      val st = r.headers().firstValue("server-timing").orElse("")
      val durs = """(\w+);dur=([0-9.]+)""".r.findAllMatchIn(st)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      assert(durs.keySet == Set("ask", "srv"), st)
      assert(durs("ask") <= durs("srv"), st)
    }
  }

  test("validation: missing query is a 400, not a crash") {
    withServer { port =>
      val r = post(port, "/ask", """{"chat_id":"x"}""")
      assert(r.statusCode() == 400, s"got ${r.statusCode()}: ${r.body()}")
      assert(r.body().contains("query"))
    }
  }
}
