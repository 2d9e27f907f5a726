package graft

import java.io.{BufferedInputStream, BufferedOutputStream, Closeable, IOException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import scala.util.control.NonFatal

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
  *  - `GET /ws/ask` (the reference's LITERAL WebSocket endpoint,
  *    app/main.py:650), upgraded on the same port as the HTTP
  *    endpoints, as the reference serves both from one app port: a
  *    minimal RFC 6455 server (handshake + text/close/ping frames)
  *    speaking the same per-token line protocol as `/ask/stream`, one
  *    ask per received message, connection held open for the next
  *    ask — sharing THIS server's cache and conversation memory. With
  *    a `generateStream` hook (e.g.
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
  * TRANSPORT: one loopback listener, one acceptor thread, and one
  * daemon thread per connection, which parses its own HTTP/1.1
  * requests (keep-alive by default, `Connection: close` honoured) and
  * serves each on the thread that read it — no hand-off to a pool, no
  * selector. Every reply is written in one write: status line,
  * headers and body together. Connections are capped at
  * [[AskServer.MaxConnections]] (503 over the cap) and an idle one is
  * closed after a timeout, so a local client bug cannot pin threads
  * and sockets until stop(). `/ask` replies carry a W3C
  * `Server-Timing` header: `ask` is the ask round, `srv` runs from the
  * parsed request head to the reply write.
  *
  * Concurrency is the reference's (FastAPI async + a semaphore,
  * app/main.py:31,186): `concurrency` permits of one fair semaphore,
  * taken around every ask round on every transport — /ask,
  * /ask/stream and /ws/ask queue on the same permits — and the single
  * lock guards ONLY the serving-state snapshot and the effect merge —
  * the distributed retrieval, the LLM call, and every token write to
  * the client socket run UNLOCKED, so a slow model or a stalled stream
  * consumer never blocks other asks.
  *
  * SIZING `concurrency` (do not copy the default 8 blindly): the
  * permits are ADMISSION CONTROL, exactly the reference's 5-way
  * semaphore. Measured on the PMC corpus (SCALE.md c=16 table), ask
  * throughput rises to a knee around 4-8 concurrent walks and FALLS
  * past it — concurrent driver-side beam walks contend on the one
  * DAG-scheduler event loop, so extra slots add coordination cost, not
  * work. Set slots ≈ the knee ServeBench measures on YOUR corpus/box
  * (it prints a "SERVE sizing" recommendation line) and let excess
  * requests wait for a permit: at c=16 offered load, 4 slots + 12
  * waiting beat 16 slots on every metric. Those knee figures (and
  * SCALE.md's early live-HTTP tables) were measured while every
  * kept-alive response still paid a 40 ms delayed-ACK stall: their
  * latencies carry 40 ms that is not compute and their per-client
  * throughput is understated, so re-measure before sizing from them.
  *
  * TCP_NODELAY on every accepted socket: a one-write reply needs no
  * coalescing, and the streaming transports flush one small write per
  * token, each of which Nagle's algorithm would hold until the
  * client's delayed ACK of the one before — 40 ms minimum on Linux,
  * far more than a resident-tier ask computes.
  *
  * Cache semantics under interleaving are CONCURRENT-ARRIVAL, exactly
  * [[AskPipeline.askBatch]]'s: each ask probes the snapshot current at
  * its start; effects ([[AskPipeline.CacheEffect]]) merge serially in
  * completion order (racing identical misses both generate and both
  * insert — the same race the reference's Redis clients run). A failed
  * generation (empty LLM answer) updates NOTHING — no cache insert, no
  * memory turn — and answers the reference's error string
  * (app/main.py:541-548). JDK sockets only — no new dependency, no
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
  import AskServer._

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

  // admission control: fair, so a waiting ask is served in arrival order
  private val permits = new java.util.concurrent.Semaphore(concurrency, true)
  private val listener = new ServerSocket(bindPort, 0, InetAddress.getByName("127.0.0.1"))
  // open connections, tracked so stop() can close them: a connection's
  // thread blocks in socket reads between requests (reads are not
  // interruptible), so closing the socket is the only way to end it
  private val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  private var acceptor: Option[Thread] = None

  /** Start accepting (idempotent); returns the port. */
  def start(): Int = synchronized {
    if (acceptor.isEmpty) acceptor = Some(daemon(s"ask-server-$port-acceptor")(acceptLoop()))
    port
  }
  def stop(): Unit = {
    closeQuietly(listener)
    conns.forEach(c => closeQuietly(c))
    conns.clear()
  }
  def port: Int = listener.getLocalPort

  private def acceptLoop(): Unit =
    try while (true) {
      val conn = listener.accept()
      if (conns.size >= MaxConnections) {
        try conn.getOutputStream.write(
          "HTTP/1.1 503 Service Unavailable\r\nContent-Length: 0\r\nConnection: close\r\n\r\n"
            .getBytes(ISO_8859_1))
        catch { case _: IOException => () }
        closeQuietly(conn)
      } else {
        conn.setTcpNoDelay(true)
        conn.setSoTimeout(HttpIdleTimeoutMs)
        conns.add(conn)
        if (listener.isClosed) closeQuietly(conn) // stop() ran during this accept
        daemon(s"ask-server-$port-conn-${conn.getPort}") {
          try serve(conn)
          catch { case NonFatal(_) => () } // peer gone, idle timeout, or stop()
          finally { conns.remove(conn); closeQuietly(conn) }
        }
      }
    } catch { case _: IOException => () } // stop() closed the listener

  // ---------------------------------------------------------------- //
  // HTTP/1.1, one connection per thread                              //
  // ---------------------------------------------------------------- //

  /** Serve requests on one connection until it closes. */
  private def serve(conn: Socket): Unit = {
    val in = new BufferedInputStream(conn.getInputStream)
    val out = conn.getOutputStream
    var open = true
    while (open) readHead(in) match {
      case None => open = false
      case Some(raw) =>
        val t0 = System.nanoTime()
        open = parseHead(raw) match {
          case Some(h) => route(h, conn, in, out, t0)
          case None => reply(out, 400, errorJson("malformed request head"), close = true); false
        }
    }
  }

  /** Bytes up to and including the blank line ending a request head;
    * None at a clean end of stream before the next request. Never
    * reads past the terminator: what follows is body or frame data. */
  private def readHead(in: InputStream): Option[Array[Byte]] = {
    val buf = new java.io.ByteArrayOutputStream(512)
    var last4 = 0
    var c = in.read()
    // blank lines before a request line are ignored (RFC 9112 §2.2)
    while (c == '\r' || c == '\n') c = in.read()
    if (c < 0) return None
    while (c >= 0) {
      buf.write(c)
      last4 = (last4 << 8) | c
      if (last4 == 0x0d0a0d0a) return Some(buf.toByteArray)
      if (buf.size() > MaxHeadBytes) throw new IOException("request head too large")
      c = in.read()
    }
    throw new java.io.EOFException("peer closed inside a request head")
  }

  private def parseHead(raw: Array[Byte]): Option[Head] = {
    val lines = new String(raw, ISO_8859_1).split("\r\n")
    val headers = scala.collection.mutable.Map.empty[String, String]
    var ok = true
    lines.iterator.drop(1).foreach { l =>
      val colon = l.indexOf(':')
      if (colon <= 0) ok = false
      else {
        val name = l.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val value = l.substring(colon + 1).trim
        headers(name) = headers.get(name).fold(value)(_ + ", " + value)
      }
    }
    lines.head.split(' ') match {
      case Array(method, target, version) if ok && version.startsWith("HTTP/1.") =>
        val q = target.indexOf('?')
        Some(Head(method, if (q >= 0) target.substring(0, q) else target, version, headers.toMap))
      case _ => None
    }
  }

  /** Answer one request; true iff the connection stays open for the next. */
  private def route(h: Head, conn: Socket, in: InputStream, out: OutputStream, t0: Long): Boolean = {
    val close = h.hasToken("connection", "close") ||
      (h.version == "HTTP/1.0" && !h.hasToken("connection", "keep-alive"))
    val chunked = h.header("transfer-encoding").isDefined
    val length = h.header("content-length") match {
      case None => 0L
      case Some(v) => v.toLongOption.filter(_ >= 0).getOrElse(-1L)
    }
    // a body left unread would be parsed as the next request head
    val unread = chunked || length != 0
    def refuse(code: Int, msg: String): Boolean = {
      reply(out, code, errorJson(msg), close = close || unread)
      if (unread) drainUnread(conn, in)
      !(close || unread)
    }
    h.path match {
      case "/ws/ask" =>
        val key = h.header("sec-websocket-key")
        if (h.method == "GET" && h.hasToken("upgrade", "websocket") && key.isDefined && !unread) {
          conn.setSoTimeout(WsIdleTimeoutMs)
          wsServe(key.get, in, out)
        } else reply(out, 400, errorJson("/ws/ask needs a WebSocket upgrade"), close = true)
        false
      case "/ask" | "/ask/stream" =>
        if (h.method != "POST") refuse(400, "POST only")
        else if (chunked) refuse(411, "a Content-Length body is required")
        else if (length < 0) refuse(400, "bad Content-Length")
        else if (length > MaxBodyBytes) refuse(413, s"body over $MaxBodyBytes bytes")
        else {
          if (h.hasToken("expect", "100-continue")) {
            out.write("HTTP/1.1 100 Continue\r\n\r\n".getBytes(ISO_8859_1)); out.flush()
          }
          val body = in.readNBytes(length.toInt)
          if (body.length < length) throw new java.io.EOFException("peer closed inside a body")
          try {
            if (h.path == "/ask") handleAsk(body, out, close, t0)
            else handleStream(body, out, close)
          } catch {
            case e: IllegalArgumentException =>
              reply(out, 400, errorJson(e.getMessage), close)
            case NonFatal(e) =>
              reply(out, 500, errorJson(String.valueOf(e.getMessage)), close)
          }
          !close
        }
      case other => refuse(404, s"no such endpoint: $other")
    }
  }

  /** Half-close, then discard what the peer still sends of a refused
    * request's body (bounded in bytes and time): closing a socket with
    * unread input resets the connection, which can destroy the reply
    * before the peer reads it. */
  private def drainUnread(conn: Socket, in: InputStream): Unit =
    try {
      conn.shutdownOutput()
      conn.setSoTimeout(DrainTimeoutMs)
      val buf = new Array[Byte](8192)
      var left = MaxBodyBytes.toLong
      var r = in.read(buf)
      while (r > 0 && left > 0) { left -= r; r = in.read(buf) }
    } catch { case _: IOException => () }

  /** One reply in one write: status line, headers, body. */
  private def reply(out: OutputStream, code: Int, body: String, close: Boolean,
                    timing: Option[String] = None): Unit = {
    val bytes = body.getBytes(UTF_8)
    val head = new java.lang.StringBuilder(192)
      .append("HTTP/1.1 ").append(code).append(' ').append(reason(code))
      .append("\r\nContent-Type: application/json\r\nContent-Length: ").append(bytes.length)
      .append("\r\n")
    timing.foreach(t => head.append("Server-Timing: ").append(t).append("\r\n"))
    if (close) head.append("Connection: close\r\n")
    val hb = head.append("\r\n").toString.getBytes(ISO_8859_1)
    val all = java.util.Arrays.copyOf(hb, hb.length + bytes.length)
    System.arraycopy(bytes, 0, all, hb.length, bytes.length)
    out.write(all)
    out.flush()
  }

  private def errorJson(msg: String): String = s"""{"error":${quote(msg)}}"""

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
  // WS *client*. Loopback-only, like the HTTP endpoints.             //
  // ---------------------------------------------------------------- //

  private def wsServe(key: String, in: InputStream, rawOut: OutputStream): Unit = {
    val out = new BufferedOutputStream(rawOut)
    val accept = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
    out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n")
      .getBytes(UTF_8))
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
    def sendText(s: String): Unit = sendFrame(0x1, s.getBytes(UTF_8))
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
        val root = mapper.readTree(new String(payload, UTF_8))
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


  private def quote(s: String): String = mapper.writeValueAsString(s)

  private case class AskReq(chatId: String, query: String, topK: Int)

  private def parseReq(body: Array[Byte]): AskReq = {
    val root = try mapper.readTree(new String(body, UTF_8))
      catch { case NonFatal(_) =>
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
    permits.acquire()
    try {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool",
        s"graft-ask-${poolSeq.getAndIncrement() % concurrency}")
      try askOnceInPool(r, onToken)
      finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    } finally permits.release()
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

  private def handleAsk(body: Array[Byte], out: OutputStream, close: Boolean, t0: Long): Unit = {
    val r = parseReq(body)
    staleGate() match {
      case Some(msg) => reply(out, 503, errorJson(msg), close)
      case None =>
        val a0 = System.nanoTime()
        val (answer, fromCache, nTurns, _, _) = askOnce(r)
        val a1 = System.nanoTime()
        val json = s"""{"query":${quote(r.query)},"answer":${quote(answer)},""" +
          s""""from_cache":$fromCache,"n_history_turns":$nTurns}"""
        reply(out, 200, json, close,
          timing = Some(s"ask;dur=${durMs(a1 - a0)}, srv;dur=${durMs(System.nanoTime() - t0)}"))
    }
  }

  private def handleStream(body: Array[Byte], rawOut: OutputStream, close: Boolean): Unit = {
    val r = parseReq(body) // validation errors become a 400 BEFORE headers
    // buffered: the head goes out in one write with the first chunk
    val out = new BufferedOutputStream(rawOut)
    out.write(("HTTP/1.1 200 OK\r\nContent-Type: application/x-ndjson\r\n" +
      "Transfer-Encoding: chunked\r\n" + (if (close) "Connection: close\r\n" else "") + "\r\n")
      .getBytes(ISO_8859_1))
    def line(json: String): Unit = {
      val bytes = (json + "\n").getBytes(UTF_8)
      out.write((Integer.toHexString(bytes.length) + "\r\n").getBytes(ISO_8859_1))
      out.write(bytes)
      out.write(Crlf)
    }
    // headers are gone: any later failure must stay ON this stream as
    // an {"error":...} line + the last chunk — a second status line
    // would corrupt the stream, and the client would hang on a
    // truncated stream with no done/error line
    try {
      def emit(tok: String): Unit = {
        line(s"""{"token":${quote(tok)}}""")
        out.flush() // one chunk per token — the WS relay cadence
      }
      // with a generateStream hook, miss-path tokens relay LIVE from the
      // model stream; otherwise (or on a cache hit) relay the completed
      // answer token by token — same line protocol either way
      val (answer, fromCache, _, streamedLive, failed) = askOnce(r, onToken = Some(emit))
      // a failed generation that somehow emitted deltas (blank-only
      // stream) must still be visible as a failure on this transport
      if (failed && streamedLive) line(errorJson(answer))
      else if (!streamedLive) answer.split("(?<= )").filter(_.nonEmpty).foreach(emit)
      line(s"""{"done":true,"from_cache":$fromCache}""")
    } catch {
      case NonFatal(e) =>
        // best-effort: the socket itself may be what failed
        try line(errorJson(String.valueOf(e.getMessage)))
        catch { case NonFatal(_) => () }
    }
    // the last chunk; a socket that failed above fails here and the
    // connection closes
    out.write("0\r\n\r\n".getBytes(ISO_8859_1))
    out.flush()
  }
}

/** Demo main: serve the sf0.001 corpus through the full pipeline
  * (chunk → embed → hot graph index → HTTP), self-smoke two asks
  * (miss then hit) against the live socket, print them, and exit —
  * CI-safe, loopback-only. `runMain graft.AskServer [--keep-alive]`
  * leaves the server up for manual poking. */
object AskServer {
  /** Cap on open connections, HTTP and WS alike — each pins a thread,
    * so an unbounded accept loop would let a local client bug
    * accumulate threads and sockets until stop(). Over the cap, a
    * connection is refused with a 503 before its request is read. */
  private[graft] val MaxConnections = 64
  /** Read timeout on an HTTP connection (the JDK server's default idle
    * interval): a kept-alive connection idle this long is closed. */
  private val HttpIdleTimeoutMs = 30 * 1000
  /** Read timeout on an upgraded WS connection — generous (the protocol
    * keeps connections open between asks) but finite, so a peer that
    * wedges without closing releases its thread. */
  private val WsIdleTimeoutMs = 10 * 60 * 1000
  private val MaxHeadBytes = 64 * 1024
  private val MaxBodyBytes = 1 << 20
  private val DrainTimeoutMs = 2000
  private val Crlf = "\r\n".getBytes(ISO_8859_1)

  /** A parsed request head; header names are lower-cased, repeats
    * joined with ", ". */
  private final case class Head(method: String, path: String, version: String,
                                headers: Map[String, String]) {
    def header(name: String): Option[String] = headers.get(name)
    def hasToken(name: String, token: String): Boolean =
      header(name).exists(_.split(',').exists(_.trim.equalsIgnoreCase(token)))
  }

  private def reason(code: Int): String = code match {
    case 200 => "OK"
    case 400 => "Bad Request"
    case 404 => "Not Found"
    case 411 => "Length Required"
    case 413 => "Content Too Large"
    case 500 => "Internal Server Error"
    case 503 => "Service Unavailable"
    case _ => "Status"
  }

  /** A Server-Timing duration: milliseconds, three decimals. */
  private def durMs(nanos: Long): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(nanos / 1e6))

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  private def closeQuietly(c: Closeable): Unit =
    try c.close() catch { case _: IOException => () }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)
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
