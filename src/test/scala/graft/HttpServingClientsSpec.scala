package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpExchange
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HttpGenerateClient, HttpRerankClient}

/** Integration specs for the rerank + generation HTTP transports
  * against in-process stub servers (loopback only, no egress):
  * Cohere/Jina-shape rerank (index-keyed, neutral-score degradation)
  * and OpenAI-shape chat completions (blocking + SSE streaming with
  * the reference's fail-to-sentinel semantics). */
class HttpServingClientsSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  // ---------------- rerank stub ----------------
  private def startRerankStub(): (Int, AtomicInteger, () => Unit) = {
    val server = StubHttpServer.create(new InetSocketAddress("127.0.0.1", 0))
    val requests = new AtomicInteger(0)
    server.createContext("/", (ex: HttpExchange) => {
      requests.incrementAndGet()
      if (ex.getRequestURI.getPath == "/fail") {
        ex.sendResponseHeaders(500, -1); ex.close()
      } else {
        val root = mapper.readTree(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        val docs = root.path("documents")
        val out = mapper.createObjectNode()
        val results = out.putArray("results")
        // reversed + score = len/100: position must NOT be trusted
        for (i <- (docs.size() - 1) to 0 by -1) {
          val n = results.addObject()
          n.put("index", i)
          n.put("relevance_score", docs.get(i).asText().length / 100.0)
        }
        val bytes = mapper.writeValueAsString(out).getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes); ex.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    (server.getAddress.getPort, requests, () => server.stop(0))
  }

  test("rerank transport: one POST per batch, index-keyed scores, |pairs| output") {
    val (port, requests, stop) = startRerankStub()
    try {
      val c = new HttpRerankClient(s"http://127.0.0.1:$port/ok", "stub-ce")
      val pairs = Seq(("q", "aa"), ("q", "bbbb"), ("q", "cccccc"))
      val got = c.scoreBatch(pairs)
      assert(requests.get() == 1, "constant-query batch is ONE POST")
      assert(got == Seq(0.02, 0.04, 0.06), s"misaligned: $got")
      // contract: always one score per pair, even for mixed queries
      val mixed = c.scoreBatch(Seq(("q1", "aa"), ("q2", "bbbb"), ("q1", "cc")))
      assert(mixed.length == 3 && mixed == Seq(0.02, 0.04, 0.02))
    } finally stop()
  }

  test("rerank transport: failure degrades to neutral 0.0, preserving the count contract") {
    val (port, _, stop) = startRerankStub()
    try {
      val c = new HttpRerankClient(s"http://127.0.0.1:$port/fail", "stub-ce")
      val got = c.scoreBatch(Seq(("q", "a"), ("q", "b")))
      assert(got == Seq(0.0, 0.0), "a 500 must score neutral, not throw or drop rows")
    } finally stop()
  }

  // ---------------- generation stub ----------------
  private def startGenStub(tokens: Seq[String]): (Int, () => Unit) = {
    val server = StubHttpServer.create(new InetSocketAddress("127.0.0.1", 0))
    server.createContext("/", (ex: HttpExchange) => {
      if (ex.getRequestURI.getPath == "/fail") {
        ex.sendResponseHeaders(500, -1); ex.close()
      } else {
        val req = mapper.readTree(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        if (req.path("stream").asBoolean(false)) {
          ex.getResponseHeaders.add("Content-Type", "text/event-stream")
          ex.sendResponseHeaders(200, 0)
          val out = ex.getResponseBody
          def sse(s: String): Unit = {
            out.write(s"data: $s\n\n".getBytes(StandardCharsets.UTF_8)); out.flush()
          }
          tokens.foreach { t =>
            sse(s"""{"choices":[{"delta":{"content":${mapper.writeValueAsString(t)}}}]}""")
          }
          sse("{not json")                                    // malformed: skipped
          sse("""{"choices":[{"delta":{}}]}""")               // empty delta: skipped
          sse("[DONE]")
          out.close()
        } else {
          val prompt = req.path("messages").get(0).path("content").asText("")
          val body = s"""{"choices":[{"message":{"content":${
            mapper.writeValueAsString("ANSWER:" + prompt.take(8))}}}]}"""
            .getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body); ex.close()
        }
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    (server.getAddress.getPort, () => server.stop(0))
  }

  test("generate: blocking completion returns the model content; failures return the '' sentinel") {
    val (port, stop) = startGenStub(Seq("a", "b"))
    try {
      val c = new HttpGenerateClient(s"http://127.0.0.1:$port/ok", "stub-llm")
      assert(c.generate("User Query") == "ANSWER:User Que")
      val fail = new HttpGenerateClient(s"http://127.0.0.1:$port/fail", "stub-llm")
      assert(fail.generate("x") == "", "LLM failure is the reference's None sentinel, not a crash")
      val dead = new HttpGenerateClient("http://127.0.0.1:1/nope", "m", timeoutMs = 1500)
      assert(dead.generate("x") == "")
    } finally stop()
  }

  test("generateStream: SSE deltas arrive in order, malformed events skipped, [DONE] ends it") {
    val toks = Seq("The ", "quick ", "brown ", "fox")
    val (port, stop) = startGenStub(toks)
    try {
      val c = new HttpGenerateClient(s"http://127.0.0.1:$port/ok", "stub-llm")
      assert(c.generateStream("p").toSeq == toks)
      val dead = new HttpGenerateClient("http://127.0.0.1:1/nope", "m", timeoutMs = 1500)
      assert(dead.generateStream("p").isEmpty, "connection failure is an EMPTY stream")
    } finally stop()
  }
}
