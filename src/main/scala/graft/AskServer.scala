package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AskPipeline, Embed, GraphIndex}

/** A live network serving surface for the ask pipeline — the one
  * reference entry point that previously had no runnable counterpart:
  *
  *  - `POST /ask` (app/main.py:587-608): JSON
  *    `{user_id?, chat_id?, query, top_k?}` → `{"query": q,
  *    "answer": a, "from_cache": b, "n_history_turns": n}` (the
  *    reference returns query+answer; the two extra fields are
  *    observability, not behavior);
  *  - `POST /ask/stream` (the chunked-HTTP analog of the reference's
  *    WS relay, app/main.py:650-735): NDJSON — one `{"token": t}` line
  *    per answer token as the relay emits it, then `{"done": true,
  *    "from_cache": b}` — the per-token egress shape a WebSocket
  *    client consumes;
  *  - `WS /ws/ask` ([[wsStart]]; the reference's LITERAL WebSocket
  *    endpoint, app/main.py:650) on its own loopback port: a minimal
  *    RFC 6455 server (handshake + text/close/ping frames) speaking
  *    the same per-token line protocol as `/ask/stream`, one ask per
  *    received message, connection held open for the next ask —
  *    sharing THIS server's cache and conversation memory. With a
  *    `generateStream` hook (e.g.
  *    [[operators.HttpGenerateClient.generateStream]]) miss-path
  *    tokens relay LIVE as the model emits them — the hook runs at
  *    the pipeline's LLM call site, so the client reads deltas before
  *    the ask round finishes; without one (or on a cache hit) the
  *    completed answer is relayed token by token under the same line
  *    protocol.
  *
  * Serving state mirrors the reference's:
  *  - the LFU semantic cache EVOLVES across requests (hit → freq bump,
  *    miss → insert with eviction), localCheckpoint'd each ask so the
  *    ≤capacity-row table never accrues lineage;
  *  - per-chat conversation memory (app/main.py:483-489), rendered
  *    into the prompt as `Human:/AI:` turns ([[streaming.SessionState]]'s
  *    format), bounded to `historyTurns` — and INITIALIZED on first
  *    use, deliberately not replicating the reference's
  *    uninitialized-store crash.
  *
  * Concurrency is the reference's (FastAPI async + a semaphore,
  * app/main.py:31,186): `concurrency` pool threads serve requests in
  * parallel, and the single lock guards ONLY the serving-state
  * snapshot and the effect merge — the distributed retrieval, the LLM
  * call, and every token write to the client socket run UNLOCKED, so
  * a slow model or a stalled stream consumer never blocks other asks.
  *
  * SIZING `concurrency` (do not copy the default 8 blindly): the pool
  * is ADMISSION CONTROL, exactly the reference's 5-way semaphore.
  * Measured on the PMC corpus (SCALE.md c=16 table), ask throughput
  * rises to a knee around 4-8 concurrent walks and FALLS past it —
  * concurrent driver-side beam walks contend on the one DAG-scheduler
  * event loop, so extra slots add coordination cost, not work. Set
  * slots ≈ the knee ServeBench measures on YOUR corpus/box (it prints
  * a "SERVE sizing" recommendation line) and let excess requests
  * queue in the JDK server's unbounded accept queue: at c=16 offered
  * load, 4 slots + 12 queued beat 16 slots on every metric. Those knee
  * figures (and SCALE.md's live-HTTP tables) were measured while
  * every kept-alive response still paid the 40 ms stall described
  * next: their latencies carry 40 ms that is not compute and their
  * per-client throughput is understated, so re-measure before sizing
  * from them.
  *
  * TCP_NODELAY on every socket this server writes: the JDK HttpServer
  * leaves Nagle's algorithm on and sends a response's headers and body
  * as separate segments, so on a kept-alive connection the body waits
  * for the client's delayed ACK of the headers — 40 ms minimum on
  * Linux, far more than a resident-tier ask computes. The HTTP
  * endpoints get it from [[AskServer.newHttpServer]] through the JDK's
  * `sun.net.httpserver.nodelay` property, which is JVM-WIDE: it holds
  * for every JDK HttpServer in the process, so every one in graft is
  * created through that factory. The WS listener sets it on each
  * accepted socket.
  *
  * Cache semantics under interleaving are CONCURRENT-ARRIVAL, exactly
  * [[AskPipeline.askBatch]]'s: each ask probes the snapshot current at
  * its start; effects ([[AskPipeline.CacheEffect]]) merge serially in
  * completion order (racing identical misses both generate and both
  * insert — the same race the reference's Redis clients run). A failed
  * generation (empty LLM answer) updates NOTHING — no cache insert, no
  * memory turn — and answers the reference's error string
  * (app/main.py:541-548). JDK HttpServer — no new dependency, no
  * default exposure (bind 127.0.0.1, ephemeral port unless given).
  */
final class AskServer(spark: SparkSession, index: DataFrame,
                      graph: Option[GraphIndex.Serving] = None,
                      generate: Option[String => String] = None,
                      generateStream: Option[String => Iterator[String]] = None,
                      embedQuery: Option[String => Array[Double]] = None,
                      dim: Int = Schemas.EmbeddingDim,
                      defaultTopK: Int = Schemas.DefaultTopK,
                      capacity: Int = Schemas.CacheCapacity,
                      threshold: Double = Schemas.CacheThreshold,
                      historyTurns: Int = 5,
                      bindPort: Int = 0,
                      concurrency: Int = 8,
                      residentCache: Boolean = false,
                      staleCheck: String = "off") {
  require(Set("off", "log", "refuse").contains(staleCheck),
    s"AskServer: staleCheck='$staleCheck' must be off|log|refuse")
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val lock = new Object
  private var cache: DataFrame = Seq.empty[(Long, Seq[Float], String, Int)]
    .toDF("entry_id", "embedding", "response", "freq")
  // residentCache = the reference's Redis taken literally: the
  // capacity-bounded cache lives in driver arrays (ResidentLfuCache —
  // pinned bit-for-bit to the DataFrame ops), removing the cache-probe
  // and effect-merge Spark jobs from every request. Semantics are the
  // same concurrent-arrival contract: probes read some consistent
  // state, effects merge atomically, Touch on an evicted id no-ops.
  private val rcache: Option[operators.ResidentLfuCache] =
    if (residentCache) Some(new operators.ResidentLfuCache(capacity)) else None
  private val memory = scala.collection.mutable.Map.empty[String, Vector[(String, String)]]

  private val server = AskServer.newHttpServer(new InetSocketAddress("127.0.0.1", bindPort))
  server.createContext("/ask", (ex: HttpExchange) => safely(ex)(handleAsk))
  server.createContext("/ask/stream", (ex: HttpExchange) => safely(ex)(handleStream))
  // the pool must be shut down with the server or its non-daemon
  // threads outlive main and the JVM never exits
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
  server.setExecutor(pool)

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = {
    server.stop(0); pool.shutdown()
    wsSocket.foreach { s => try s.close() catch { case _: Exception => () } }
    // unblock every WS handler thread parked in a socket read (the
    // threads are daemons, but open sockets would leak until exit)
    wsConns.forEach { c => try c.close() catch { case _: Exception => () } }
    wsConns.clear()
  }
  def port: Int = server.getAddress.getPort

  // ---------------------------------------------------------------- //
  // WS /ws/ask — the reference's literal WebSocket transport         //
  // (app/main.py:650-735) over a minimal RFC 6455 server: same line  //
  // protocol as /ask/stream ({"token":t}* then {"done":...}), one    //
  // ask per received text message, connection stays open for the     //
  // next ask (the reference's receive loop). Serving state (cache,   //
  // memory) is THE SAME as the HTTP endpoints' — the lock discipline //
  // of askOnce applies unchanged, and token frames are written with  //
  // no lock held. JDK has no WS server, so the handshake + framing   //
  // live here (~100 lines); the spec drives it with the JDK's real   //
  // WS *client*. Loopback-only, like the HTTP socket.                //
  // ---------------------------------------------------------------- //

  /** Cap on concurrent WS connections — each pins a thread, so an
    * unbounded accept loop would let a local client bug accumulate
    * threads+sockets until stop(). Over the cap, accepts are refused
    * with a pre-handshake 503. */
  private val MaxWsConnections = 64
  /** Read timeout on accepted WS sockets — generous (the protocol keeps
    * connections open between asks) but finite, so a peer that wedges
    * without closing releases its handler thread. An idle timeout
    * surfaces as SocketTimeoutException in the frame read and tears the
    * connection down through wsHandle's finally. */
  private val WsIdleTimeoutMs = 10 * 60 * 1000

  private var wsSocket: Option[java.net.ServerSocket] = None
  // accepted WS connections, tracked so stop() can close them: a
  // connection's handler thread blocks in socket reads between asks
  // (reads are not interruptible), so closing the socket is the only
  // way to unblock it at shutdown
  private val wsConns =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.net.Socket]()

  /** Start the WS listener (idempotent); returns its port. */
  def wsStart(): Int = synchronized {
    wsSocket match {
      case Some(s) => s.getLocalPort
      case None =>
        val ss = new java.net.ServerSocket(0, 16,
          java.net.InetAddress.getByName("127.0.0.1"))
        wsSocket = Some(ss)
        val acceptor = new Thread(() => {
          try while (!ss.isClosed) {
            val conn = ss.accept()
            // each connection pins a dedicated thread, so idle/stuck
            // clients are a resource, not just a socket: cap concurrent
            // connections (refuse loudly over the cap — the reference's
            // semaphore discipline, app/main.py:31) and put a generous
            // read timeout on the socket so a wedged peer releases its
            // thread instead of leaking it until stop()
            if (wsConns.size >= MaxWsConnections) {
              try {
                conn.getOutputStream.write(
                  ("HTTP/1.1 503 Service Unavailable\r\nConnection: close\r\n\r\n")
                    .getBytes(StandardCharsets.UTF_8))
                conn.getOutputStream.flush()
              } catch { case _: Exception => () }
              try conn.close() catch { case _: Exception => () }
            } else {
              // token frames are small writes, flushed one by one: with
              // Nagle on, each waits for the client's delayed ACK
              conn.setTcpNoDelay(true)
              conn.setSoTimeout(WsIdleTimeoutMs)
              wsConns.add(conn)
              // each connection gets its OWN daemon thread: a WS handler
              // blocks between asks for the connection's whole lifetime,
              // so parking it on the shared HTTP pool would let a few
              // idle WS clients starve every /ask and /ask/stream request
              val t = new Thread(() => try wsHandle(conn) finally {
                wsConns.remove(conn)
                try conn.close() catch { case _: Exception => () }
              }, s"ws-ask-conn-${conn.getPort}")
              t.setDaemon(true)
              t.start()
            }
          } catch { case _: Exception => () } // closed socket ends the loop
        }, "ws-ask-acceptor")
        acceptor.setDaemon(true)
        acceptor.start()
        ss.getLocalPort
    }
  }

  private def wsHandle(conn: java.net.Socket): Unit = {
    val in = new java.io.BufferedInputStream(conn.getInputStream)
    val out = new java.io.BufferedOutputStream(conn.getOutputStream)
    // --- handshake: HTTP GET + Upgrade → 101 with the RFC 6455 accept
    val head = new StringBuilder
    def headDone = head.length >= 4 && head.substring(head.length - 4) == "\r\n\r\n"
    var c = in.read()
    while (c != -1 && !headDone) {
      head.append(c.toChar)
      // never read past the terminator — the next byte is frame data
      if (!headDone) c = in.read()
    }
    val lines = head.toString.split("\r\n")
    val key = lines.collectFirst {
      case l if l.toLowerCase.startsWith("sec-websocket-key:") => l.split(":", 2)(1).trim
    }
    val ok = lines.headOption.exists(_.startsWith("GET /ws/ask")) &&
      lines.exists(_.toLowerCase.replace(" ", "").startsWith("upgrade:websocket")) &&
      key.isDefined
    if (!ok) {
      out.write("HTTP/1.1 400 Bad Request\r\nConnection: close\r\n\r\n".getBytes(StandardCharsets.UTF_8))
      out.flush(); return
    }
    val accept = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1").digest(
        (key.get + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(StandardCharsets.UTF_8)))
    out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8))
    out.flush()
    // --- frame loop: one ask per client text message, until close
    def sendFrame(opcode: Int, payload: Array[Byte]): Unit = out.synchronized {
      out.write(0x80 | opcode)
      if (payload.length < 126) out.write(payload.length)
      else if (payload.length < 65536) {
        out.write(126); out.write(payload.length >> 8); out.write(payload.length & 0xff)
      } else {
        out.write(127)
        (7 to 0 by -1).foreach(i => out.write(((payload.length.toLong >> (8 * i)) & 0xff).toInt))
      }
      out.write(payload); out.flush()
    }
    def sendText(s: String): Unit = sendFrame(0x1, s.getBytes(StandardCharsets.UTF_8))
    def readExact(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n); var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) throw new java.io.EOFException("ws: peer closed mid-frame")
        off += r
      }
      buf
    }
    // --- fragmentation state: a text message may arrive as an
    // opcode-0x1 frame with FIN=0 followed by continuation (0x0)
    // frames; the message is processed only when FIN arrives (the JDK
    // client legally fragments large sendText payloads)
    val assembly = new java.io.ByteArrayOutputStream()
    var assembling = false
    def handleMessage(payload: Array[Byte]): Unit =
      try {
        val root = mapper.readTree(new String(payload, StandardCharsets.UTF_8))
        val query = root.path("query").asText("")
        require(query.trim.nonEmpty, "missing required field: query")
        val r = AskReq(root.path("chat_id").asText("default"), query,
          root.path("top_k").asInt(defaultTopK))
        val (answer, fromCache, _, streamedLive, failed) =
          askOnce(r, onToken = Some(t => sendText(s"""{"token":${quote(t)}}""")))
        if (failed && streamedLive)
          sendText(s"""{"error":${quote(answer)}}""")
        else if (!streamedLive)
          answer.split("(?<= )").filter(_.nonEmpty)
            .foreach(t => sendText(s"""{"token":${quote(t)}}"""))
        sendText(s"""{"done":true,"from_cache":$fromCache}""")
      } catch {
        case scala.util.control.NonFatal(e) =>
          sendText(s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
      }
    var open = true
    while (open) {
      val b0 = in.read()
      if (b0 < 0) open = false
      else {
        val fin = (b0 & 0x80) != 0
        val opcode = b0 & 0x0f
        val b1 = in.read()
        if (b1 < 0) open = false
        else {
          val masked = (b1 & 0x80) != 0
          // every multi-byte length goes through readExact (EOF-safe);
          // the 8-byte form is validated BEFORE len.toInt — a high-bit
          // length would fold negative and bypass a post-hoc check
          val len: Long = (b1 & 0x7f) match {
            case 126 =>
              val b = readExact(2); ((b(0) & 0xff) << 8) | (b(1) & 0xff)
            case 127 => readExact(8).foldLeft(0L)((a, x) => (a << 8) | (x & 0xff))
            case l => l.toLong
          }
          require(len >= 0 && len <= (1 << 20), s"ws: bad frame length $len")
          val mask = if (masked) readExact(4) else Array.emptyByteArray
          val payload = readExact(len.toInt)
          if (masked) payload.indices.foreach(i => payload(i) = (payload(i) ^ mask(i % 4)).toByte)
          opcode match {
            case 0x8 => // close: echo and end
              sendFrame(0x8, payload.take(2)); open = false
            case 0x9 => sendFrame(0xA, payload) // ping → pong
            case 0x1 =>
              if (fin) handleMessage(payload)
              else { assembly.reset(); assembly.write(payload); assembling = true }
            case 0x0 if assembling => // continuation of a fragmented text
              require(assembly.size() + payload.length <= (1 << 20),
                "ws: fragmented message too large")
              assembly.write(payload)
              if (fin) {
                assembling = false
                handleMessage(assembly.toByteArray); assembly.reset()
              }
            case _ => () // binary/pong/stray continuation: ignored
          }
        }
      }
    }
  }

  private def safely(ex: HttpExchange)(f: HttpExchange => Unit): Unit =
    try f(ex)
    catch {
      case e: IllegalArgumentException => respond(ex, 400,
        s"""{"error":${quote(e.getMessage)}}""")
      case scala.util.control.NonFatal(e) => respond(ex, 500,
        s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    }

  private def quote(s: String): String = mapper.writeValueAsString(s)

  private case class AskReq(chatId: String, query: String, topK: Int)

  private def parseReq(ex: HttpExchange): AskReq = {
    require(ex.getRequestMethod == "POST", "POST only")
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val root = try mapper.readTree(body)
      catch { case scala.util.control.NonFatal(_) =>
        throw new IllegalArgumentException("request body is not JSON") }
    val query = root.path("query").asText("")
    require(query.trim.nonEmpty, "missing required field: query")
    AskReq(root.path("chat_id").asText("default"), query,
      root.path("top_k").asInt(defaultTopK))
  }

  /** One ask round against the evolving cache + memory;
    * returns (answer, fromCache, historyTurnsUsed, streamedLive).
    *
    * Three phases: SNAPSHOT the serving state under the lock (cheap
    * reference copies), COMPUTE unlocked (cache probe, distributed
    * retrieval, generation — token emission to the socket happens here,
    * with no lock held), then MERGE the effect under the lock against
    * the CURRENT state (concurrent-arrival semantics; both locked
    * sections act only on ≤capacity-row localCheckpoint'd tables and
    * driver maps, so the lock is held for milliseconds, never for a
    * retrieval or a network write).
    *
    * `onToken`, when set AND a `generateStream` hook is configured AND
    * the ask is a cache miss, receives each generation delta AS IT
    * ARRIVES (the hook runs at ask()'s LLM call site, so the client
    * sees tokens before the ask round finishes — the reference's WS
    * relay timing); the accumulated text becomes the cached answer.
    * `streamedLive` tells the caller whether at least one delta
    * actually reached the client (a cache hit, no streaming
    * generator, or a failed/empty generation means the caller must
    * relay the completed answer itself); `failed` surfaces a failed
    * generation so streaming transports can report it instead of
    * closing a token-less stream as success. */
  // per-request fair-scheduler pool assignment: under the default FIFO
  // scheduling a heavy retrieval's stages convoy every later request's
  // jobs (SCALE.md measured the c=8 knee: p95 grows with queueing while
  // wall-clock stays flat). Round-robining requests across `concurrency`
  // pools under spark.scheduler.mode=FAIR gives each in-flight ask a
  // fair share of the cores instead — the cluster analog of the
  // reference's semaphore-5 (app/main.py:31). Pools are created on
  // demand with default weight; under a FIFO-mode session the property
  // is inert, so spec sessions are unaffected. The property is
  // thread-local: set on this serving thread, cleared in finally.
  private val poolSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private def askOnce(r: AskReq, onToken: Option[String => Unit] = None)
      : (String, Boolean, Int, Boolean, Boolean) = {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool",
      s"graft-ask-${poolSeq.getAndIncrement() % concurrency}")
    try askOnceInPool(r, onToken)
    finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
  }

  private def askOnceInPool(r: AskReq, onToken: Option[String => Unit])
      : (String, Boolean, Int, Boolean, Boolean) = {
    val (cacheSnap, turns) = lock.synchronized(
      (cache, memory.getOrElse(r.chatId, Vector.empty)))
    val history = if (turns.isEmpty) None
      else Some(turns.map(t => s"Human: ${t._1}\nAI: ${t._2}").mkString("\n"))
    var streamedLive = false
    // with only a streaming generator configured, the blocking path
    // drains it — both endpoints answer from the SAME model, and the
    // shared cache never mixes stub and model answers
    val blocking = generate.orElse(
      generateStream.map(gs => (prompt: String) => gs(prompt).mkString))
    val gen: Option[String => String] = (onToken, generateStream) match {
      case (Some(emit), Some(gs)) => Some { prompt =>
        val sb = new StringBuilder
        // streamedLive only once a delta actually reached the client:
        // a failed generation (empty stream — HttpGenerateClient's
        // degradation contract) must leave it false, so the caller
        // relays the error answer instead of closing a token-less
        // stream as if it succeeded
        gs(prompt).foreach { t => sb.append(t); streamedLive = true; emit(t) }
        sb.toString
      }
      case _ => blocking
    }
    // embedQuery slot = the reference's external embedding service
    // (query side); default is the deterministic hashed-BoW embedder
    val qv = embedQuery.map(f => f(r.query))
      .getOrElse(Embed.embedQuery(spark, r.query, dim))
    val (res, effect) = rcache match {
      case Some(rc) => AskPipeline.askStatelessResident(spark, index, rc, r.query,
        history = history, topK = r.topK, threshold = threshold, dim = dim,
        queryVec = Some(qv),
        graph = graph, generate = gen)
      case None => AskPipeline.askStateless(spark, index, cacheSnap, r.query,
        history = history, topK = r.topK, threshold = threshold, dim = dim,
        queryVec = Some(qv),
        graph = graph, generate = gen)
    }
    if (!res.failed) lock.synchronized {
      // merge against the CURRENT state, not the snapshot: a Touch on a
      // concurrently evicted entry no-ops, an Insert allocates its id here
      rcache match {
        case Some(rc) => rc.applyEffect(effect)
        case None =>
          cache = AskPipeline.applyCacheEffect(cache, effect, capacity)
            .localCheckpoint() // capacity-bounded rows; lineage capped
      }
      memory(r.chatId) = (memory.getOrElse(r.chatId, Vector.empty)
        :+ (r.query, res.answer)).takeRight(historyTurns)
    }
    (res.answer, res.fromCache, turns.length, streamedLive, res.failed)
  }

  // The resident tiers' staleness contract (r17 verdict item 5): a
  // long-lived serving process holds point-in-time snapshots (hot
  // arrays, resident text, the TF-IDF vocab the injected embedQuery
  // closed over — all derived from the same store this server's graph
  // tier mirrors) while the store carries on mutating underneath. The
  // knob polls GraphIndex.storeStamp per request — pure filesystem
  // metadata, zero Spark jobs: "log" warns ONCE (a tier, once stale,
  // stays stale until rebuilt — per-request spam says nothing new),
  // "refuse" answers 503 so an operator rebuilds the tier instead of
  // serving silently-drifted answers. Default "off": single-writer
  // deployments that rebuild tiers on their own cadence pay nothing.
  private val staleLogged = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def staleGate(): Option[String] =
    if (staleCheck == "off") None
    else graph match {
      case Some(g) if g.isStale(spark) =>
        if (staleCheck == "refuse")
          Some("serving snapshot is stale: the graph store mutated " +
            "since this tier was loaded — rebuild the tier (cool() + " +
            "re-hot()) before serving")
        else {
          if (staleLogged.compareAndSet(false, true))
            System.err.println("[ask-server] WARNING: serving snapshot " +
              "is stale — the graph store mutated since this tier was " +
              "loaded; answers reflect the point-in-time snapshot")
          None
        }
      case _ => None
    }

  private def handleAsk(ex: HttpExchange): Unit = {
    val r = parseReq(ex)
    staleGate() match {
      case Some(msg) => respond(ex, 503, s"""{"error":${quote(msg)}}""")
      case None =>
        val (answer, fromCache, nTurns, _, _) = askOnce(r)
        respond(ex, 200,
          s"""{"query":${quote(r.query)},"answer":${quote(answer)},""" +
            s""""from_cache":$fromCache,"n_history_turns":$nTurns}""")
    }
  }

  private def handleStream(ex: HttpExchange): Unit = {
    val r = parseReq(ex) // validation errors become a 400 BEFORE headers
    ex.getResponseHeaders.add("Content-Type", "application/x-ndjson")
    ex.sendResponseHeaders(200, 0) // chunked
    val out = ex.getResponseBody
    // headers are gone: any later failure must stay ON this stream as
    // an {"error":...} line + close — routing through safely()'s
    // respond() would call sendResponseHeaders twice, and the client
    // would hang on a truncated stream with no done/error line
    try {
      def emit(tok: String): Unit = {
        out.write((s"""{"token":${quote(tok)}}""" + "\n").getBytes(StandardCharsets.UTF_8))
        out.flush() // one chunk per token — the WS relay cadence
      }
      // with a generateStream hook, miss-path tokens relay LIVE from the
      // model stream; otherwise (or on a cache hit) relay the completed
      // answer token by token — same line protocol either way
      val (answer, fromCache, _, streamedLive, failed) = askOnce(r, onToken = Some(emit))
      // a failed generation that somehow emitted deltas (blank-only
      // stream) must still be visible as a failure on this transport
      if (failed && streamedLive)
        out.write((s"""{"error":${quote(answer)}}""" + "\n").getBytes(StandardCharsets.UTF_8))
      else if (!streamedLive)
        answer.split("(?<= )").filter(_.nonEmpty).foreach(emit)
      out.write((s"""{"done":true,"from_cache":$fromCache}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    } catch {
      case scala.util.control.NonFatal(e) =>
        // best-effort: the socket itself may be what failed
        try out.write((s"""{"error":${quote(String.valueOf(e.getMessage))}}""" + "\n")
          .getBytes(StandardCharsets.UTF_8))
        catch { case scala.util.control.NonFatal(_) => () }
    } finally out.close()
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}

/** Demo main: serve the sf0.001 corpus through the full pipeline
  * (chunk → embed → hot graph index → HTTP), self-smoke two asks
  * (miss then hit) against the live socket, print them, and exit —
  * CI-safe, loopback-only. `runMain graft.AskServer [--keep-alive]`
  * leaves the server up for manual poking. */
object AskServer {
  private val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** Create a JDK HttpServer whose accepted sockets have TCP_NODELAY set
    * (see the [[AskServer]] class comment for the stall it removes).
    * The JDK reads `sun.net.httpserver.nodelay` once per JVM, when the
    * first HttpServer is created, so every HttpServer in graft, test
    * stubs included, is created here; a value the JVM was started with
    * wins. */
  private[graft] def newHttpServer(addr: InetSocketAddress): HttpServer = {
    if (System.getProperty(NoDelayProperty) == null)
      System.setProperty(NoDelayProperty, "true")
    HttpServer.create(addr, 0)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions.col
    val docs = sources.TableLoader.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val chunks = operators.Ingest.chunk(
        docs.filter(operators.Ingest.nonBlank(col("text"))), "text", 64)
      .select("doc_id", "chunk_idx", "chunk_text")
    val index = Materialize(Embed.withEmbedding(chunks, "chunk_text", "embedding"))
    val gdir = java.nio.file.Files.createTempDirectory("askserver_graph").toString
    val h = operators.GraphIndex.build(spark, index, Seq("doc_id", "chunk_idx"),
      "embedding", gdir, nCentroids = 8, m = 8, nBuckets = 16, beamWidth = 8, hops = 3)
    val hot = operators.GraphIndex.hot(spark, h)
    val srv = new AskServer(spark, index, graph = Some(hot))
    val port = srv.start()
    println(s"ASK SERVER listening on http://127.0.0.1:$port/ask")
    val http = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String): String =
      http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    val q = """{"chat_id":"demo","query":"fast table scan merge join"}"""
    println("ASK1: " + post("/ask", q).take(200))
    println("ASK2: " + post("/ask", q).take(200))
    if (args.contains("--keep-alive")) {
      println("serving until killed"); Thread.currentThread().join()
    } else { srv.stop(); hot.cool(); spark.stop() }
  }
}
