package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Embed, HttpEmbedClient}

/** Executor-side state for the end-to-end test: Spark serializes task
  * closures even in local mode, so a captured AtomicInteger would be a
  * COPY per task — a top-level object's field is resolved in the
  * (shared, local-mode) executor JVM instead. */
object HttpEmbedStubState {
  val factoryCalls = new AtomicInteger(0)
}

/** Integration spec for [[HttpEmbedClient]] against an in-process JDK
  * HttpServer implementing the OpenAI/Ollama-compatible embeddings
  * shape. Proves the reference's transport semantics (SURVEY F-3,
  * app/main.py:134-145): one POST per 64-batch, index-keyed row
  * alignment, connection/client reuse per partition, and zero-vector
  * degradation on failure — with no network egress (loopback only). */
class HttpEmbedClientSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()

  /** The stub's deterministic "model": vec(j) = text.length + j. */
  private def serverVec(text: String, dim: Int): Array[Double] =
    Array.tabulate(dim)(j => (text.length + j).toDouble)

  /** Start a stub server; returns (endpoint, requestCount, batchSizes,
    * shutdown). Modes, keyed off the request path:
    *  - /ok      → embeddings in REVERSED index order (alignment must
    *               come from `index`, not array position)
    *  - /baddim  → texts equal to "bad" get a dim-1 vector (row-level
    *               degradation), others are fine
    *  - /fail    → always 500
    *  - /flaky   → 500 for the first request, then /ok behavior
    */
  private def startStub(dim: Int): (Int, AtomicInteger, java.util.Vector[Int], () => Unit) = {
    val server = StubHttpServer.create(new InetSocketAddress("127.0.0.1", 0))
    val requests = new AtomicInteger(0)
    val batchSizes = new java.util.Vector[Int]()
    val flakyFailed = new AtomicInteger(0)
    def handle(ex: HttpExchange): Unit = {
      val n = requests.incrementAndGet()
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val input = mapper.readTree(body).path("input")
      batchSizes.add(input.size())
      val path = ex.getRequestURI.getPath
      if (path == "/fail" || (path == "/flaky" && flakyFailed.compareAndSet(0, n))) {
        ex.sendResponseHeaders(500, -1); ex.close(); return
      }
      val root = mapper.createObjectNode()
      val data = root.putArray("data")
      // reversed order on purpose: position ≠ index
      for (i <- (input.size() - 1) to 0 by -1) {
        val text = input.get(i).asText()
        val node = data.addObject()
        node.put("index", i)
        val emb = node.putArray("embedding")
        val d = if (path == "/baddim" && text == "bad") dim - 1 else dim
        serverVec(text, d).take(d).foreach(emb.add)
      }
      val out = mapper.writeValueAsString(root).getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, out.length.toLong)
      ex.getResponseBody.write(out)
      ex.close()
    }
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    (server.getAddress.getPort, requests, batchSizes, () => server.stop(0))
  }

  test("embedBatch: one POST per batch, rows aligned by index not position") {
    val dim = 4
    val (port, requests, batchSizes, stop) = startStub(dim)
    try {
      val client = new HttpEmbedClient(s"http://127.0.0.1:$port/ok", "stub-model")
      val texts = Seq("a", "bb", "ccc")
      val got = client.embedBatch(texts, dim)
      assert(requests.get() == 1, "a batch is ONE request, not one per row")
      assert(batchSizes.get(0) == 3)
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i).toSeq == serverVec(t, dim).toSeq,
          s"row $i ('$t') misaligned: ${got(i).toSeq}")
      }
    } finally stop()
  }

  test("failure semantics: 5xx, malformed rows, and dead endpoints all degrade to zeros") {
    val dim = 3
    val (port, _, _, stop) = startStub(dim)
    try {
      val fail = new HttpEmbedClient(s"http://127.0.0.1:$port/fail", "m")
      assert(fail.embedBatch(Seq("x", "y"), dim).forall(_.forall(_ == 0.0)),
        "a 500 must zero the batch (reference sentinel), not throw")
      val baddim = new HttpEmbedClient(s"http://127.0.0.1:$port/baddim", "m")
      val got = baddim.embedBatch(Seq("ok1", "bad", "ok2"), dim)
      assert(got(1).forall(_ == 0.0), "wrong-dimension row degrades alone")
      assert(got(0).toSeq == serverVec("ok1", dim).toSeq)
      assert(got(2).toSeq == serverVec("ok2", dim).toSeq)
      // connection refused (no listener): zero vectors, no exception
      val dead = new HttpEmbedClient("http://127.0.0.1:1/nope", "m", timeoutMs = 1500)
      assert(dead.embedBatch(Seq("x"), dim).forall(_.forall(_ == 0.0)))
    } finally stop()
  }

  test("retries: a transient 500 is re-sent; retries=0 keeps the sentinel behavior") {
    val dim = 3
    val (port, requests, _, stop) = startStub(dim)
    try {
      val client = new HttpEmbedClient(s"http://127.0.0.1:$port/flaky", "m", retries = 1)
      val got = client.embedBatch(Seq("abcd"), dim)
      assert(requests.get() == 2, "expected the failed POST + one retry")
      assert(got.head.toSeq == serverVec("abcd", dim).toSeq, "retry must recover the batch")
    } finally stop()
  }

  test("end-to-end withEmbeddingBatched: per-partition client, <=batchSize POSTs, normalized parity") {
    val dim = 4
    val (port, requests, batchSizes, stop) = startStub(dim)
    try {
      HttpEmbedStubState.factoryCalls.set(0)
      val endpoint = s"http://127.0.0.1:$port/ok"
      val texts = (1 to 10).map(i => "t" * i)
      val df = texts.toDF("text").repartition(2)
      val out = Embed.withEmbeddingBatched(df, "text", "embedding", dim,
        batchSize = 4,
        clientFactory = () => {
          HttpEmbedStubState.factoryCalls.incrementAndGet()
          new HttpEmbedClient(endpoint, "stub-model")
        })
      val got = out.select("text", "embedding")
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      // the pipeline L2-normalizes with the engine's ε=1e-9 fold
      texts.foreach { t =>
        val raw = serverVec(t, dim)
        val denom = math.sqrt(raw.map(x => x * x).sum) + 1e-9
        val expect = raw.map(_ / denom).toSeq
        assert(got(t).zip(expect).forall { case (a, b) => math.abs(a - b) < 1e-12 },
          s"'$t': ${got(t)} != $expect")
      }
      assert(HttpEmbedStubState.factoryCalls.get() == 2,
        "exactly one client (connection pool) per partition")
      import scala.jdk.CollectionConverters._
      assert(batchSizes.asScala.forall(_ <= 4), s"batch cap violated: $batchSizes")
      assert(requests.get() == batchSizes.size())
      assert(requests.get() <= 4, // 10 rows over 2 partitions, 4-batches
        s"expected at most ceil-per-partition batching, got ${requests.get()} POSTs")
    } finally stop()
  }
}
