package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{SessionState, StreamingOps}
import graft.streaming.SessionState.ChatMessage

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  test("incremental ingest: streamed files land in the index, exactly once") {
    val landing = TestDirs.create("graft_landing").toFile
    val index = TestDirs.create("graft_index").toString + "/idx"
    val ckpt = TestDirs.create("graft_ckpt").toString + "/ck"
    Files.writeString(new java.io.File(landing, "doc1.txt").toPath,
      Seq.fill(40)("alpha beta gamma delta").mkString(" "))
    Files.writeString(new java.io.File(landing, "doc2.txt").toPath, "tiny doc")

    val docs = StreamingOps.readDocumentStream(spark, landing.getAbsolutePath)
    val q = StreamingOps.incrementalIngest(docs, index, ckpt, chunkSize = 64).start()
    q.awaitTermination(60000)

    val out = spark.read.parquet(index)
    assert(out.select("doc_id").distinct().count() == 2)
    // 160 words at chunk 64 -> 3 chunks; tiny doc -> 1 chunk
    assert(out.count() == 4)
    assert(out.schema.fieldNames.contains("embedding"))

    // restart with same checkpoint: no new input -> no duplicate rows
    val q2 = StreamingOps.incrementalIngest(
      StreamingOps.readDocumentStream(spark, landing.getAbsolutePath), index, ckpt, 64).start()
    q2.awaitTermination(60000)
    assert(spark.read.parquet(index).count() == 4)
  }

  test("tumbling windows over a stream equal the batch computation") {
    val dir = "/root/testdata/sf0.001"
    val batch = graft.sources.TableLoader.loadEvents(spark, dir)
    val schema = batch.schema
    // stage the converted events as a streamable parquet dir
    val staged = TestDirs.create("graft_events").toString + "/ev"
    batch.write.parquet(staged)

    val stream = StreamingOps.readEventStream(spark, staged, schema)
    val agg = StreamingOps.tumblingCounts(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("tumbling_out")
      .select("window_start", "event_type", "n_events")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val expected = StreamingOps.tumblingCounts(batch)
      .select("window_start", "event_type", "n_events")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("session windows stream on RocksDB and equal the batch computation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = s2.sqlContext
    import s2.implicits._

    val batch = graft.sources.TableLoader.loadEvents(s2, "/root/testdata/sf0.001")
      .select("user_id", "ts")
    val rows = batch.as[(Long, java.sql.Timestamp)].collect().toSeq
    val maxTs = rows.map(_._2.getTime).max

    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
    val q = StreamingOps.sessionCounts(events)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("session_out").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    // append mode only emits sessions the watermark has passed; a far-future
    // sentinel event (user -1, excluded below) closes every real session
    input.addData((-1L, new java.sql.Timestamp(maxTs + 24L * 3600 * 1000)))
    q.processAllAvailable()
    q.stop()

    val streamed = s2.table("session_out")
      .filter(col("user_id") >= 0)
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    val expected = StreamingOps.sessionCounts(batch)
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("ask stream: queries stream in, assembled answers stream out") {
    val docs = Seq(
      ("d1", "spark shuffle join performance tuning for large tables"),
      ("d2", "pasta recipes and pizza dough for the home cook"))
      .toDF("doc_id", "text")
    val index = graft.operators.Embed.withEmbedding(
      graft.operators.Ingest.chunk(docs, "text", 16)
        .select("doc_id", "chunk_idx", "chunk_text"),
      "chunk_text", "embedding")

    val qDir = TestDirs.create("graft_q").toString + "/q"
    val ckpt = TestDirs.create("graft_qck").toString + "/ck"
    Seq((1L, "spark join tuning"), (2L, "pizza dough"))
      .toDF("query_id", "query").write.parquet(qDir)

    val qStream = spark.readStream
      .schema("query_id LONG, query STRING").parquet(qDir)
    var answers = Map.empty[Long, String]
    val sq = StreamingOps.askStream(qStream, index, ckpt, batch => {
      answers = answers ++ batch.select("query_id", "answer")
        .as[(Long, String)].collect().toMap
    }).start()
    sq.awaitTermination(60000)

    assert(answers.keySet == Set(1L, 2L))
    assert(answers(1L).contains("spark"))
    assert(answers(2L).contains("pizza"))
  }

  test("stream-static enrichment join: dimension attrs attach per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // static dimension: event_type -> category (broadcastable at scale)
    val dim = Seq(("click", "ui"), ("purchase", "commerce"), ("scroll", "ui"))
      .toDF("event_type", "category")
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val enriched = input.toDF().toDF("ts", "event_type", "value")
      .join(broadcast(dim), Seq("event_type"), "left")
      .groupBy("category").agg(count(lit(1)).as("n"))
    val q = enriched.writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 04:$min%02d:00")
    input.addData((ts(1), "click", 1.0), (ts(2), "purchase", 2.0))
    q.processAllAvailable()
    input.addData((ts(3), "scroll", 1.0), (ts(4), "unknown_evt", 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enrich_out")
      .as[(Option[String], Long)].collect()
      .map { case (c, n) => c.getOrElse("∅") -> n }.toMap
    assert(out("ui") == 2L)        // click + scroll, joined across batches
    assert(out("commerce") == 1L)
    assert(out("∅") == 1L)         // left join keeps unmatched event types
  }

  test("watermark drops data later than the threshold (append mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
    val agg = StreamingOps.tumblingCounts(events)
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wm_out").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 02:$min%02d:00")
    // batch 1: events at 02:05, 02:31 -> watermark advances to 02:21
    input.addData((ts(5), "a", 1.0), (ts(31), "a", 1.0))
    q.processAllAvailable()
    // batch 2: a LATE event at 02:07 (before watermark) + on-time 02:35
    input.addData((ts(7), "a", 1.0), (ts(35), "a", 1.0))
    q.processAllAvailable()
    // batch 3: push watermark far forward so all open windows emit
    input.addData((ts(59), "a", 1.0))
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("wm_out")
      .select(col("window_start").cast("string"), col("n_events"))
      .as[(String, Long)].collect().toMap
    // the 02:00 window emitted WITHOUT the late 02:07 event
    assert(counts("2024-01-01 02:00:00") == 1L)
    // the on-time 02:30 window counted both its events
    assert(counts("2024-01-01 02:30:00") == 2L)
  }

  test("chat memory runs as a real stream on the RocksDB state store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.SessionState.ChatMessage
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = s2.sqlContext
    import s2.implicits._
    val input = MemoryStream[ChatMessage]
    val out = graft.streaming.SessionState.chatMemory(input.toDS())
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("rocks_chat").start()
    input.addData(ChatMessage("c1", "hi", "hello"))
    q.processAllAvailable()
    input.addData(ChatMessage("c1", "more", "sure"))
    q.processAllAvailable()
    q.stop()
    val last = s2.table("rocks_chat")
      .filter(col("chat_id") === "c1").orderBy(desc("n_turns")).head()
    // state persisted across micro-batches under RocksDB
    assert(last.getAs[Int]("n_turns") == 2)
    assert(last.getAs[String]("history") ==
      "Human: hi\nAI: hello\nHuman: more\nAI: sure")
  }

  test("turn numbering continues after bounding (no turn-id collisions)") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.SessionState.{ChatMessage, ChatState}
    import org.apache.spark.api.java.Optional
    val s0 = TestGroupState.create[ChatState](
      Optional.empty[ChatState](), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[Long](), hasTimedOut = false)
    SessionState.updateChat(2)("c",
      Iterator(ChatMessage("c", "q1", "a1"), ChatMessage("c", "q2", "a2"),
        ChatMessage("c", "q3", "a3")), s0)
    assert(s0.get.turns.map(_.turn) == Seq(1, 2)) // bounded to last 2
    val s1 = TestGroupState.create[ChatState](
      Optional.of(s0.get), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[Long](), hasTimedOut = false)
    SessionState.updateChat(2)("c", Iterator(ChatMessage("c", "q4", "a4")), s1)
    // next turn numbers from the last retained turn (2) + 1, not size (2)
    assert(s1.get.turns.map(_.turn) == Seq(2, 3))
  }

  test("streaming LFU cache folds identically to the batch CacheLfu operators") {
    import graft.streaming.LfuCacheState
    import graft.streaming.LfuCacheState.CacheOp
    import graft.operators.{CacheLfu, Similarity}
    val τ = 0.9
    val cap = 2
    val ops = Seq(
      CacheOp("c", 1, Seq(1.0, 0.0), "r1"), // miss -> id 0
      CacheOp("c", 2, Seq(1.0, 0.0), "r2"), // hit id 0, freq 2
      CacheOp("c", 3, Seq(0.0, 1.0), "r3"), // miss -> id 1
      CacheOp("c", 4, Seq(0.6, 0.8), "r4"), // miss at capacity: evict id 1 (min freq), -> id 2
      CacheOp("c", 5, Seq(0.6, 0.8), "r5"), // hit id 2, freq 2
      CacheOp("c", 6, Seq(0.0, 1.0), "r6"), // miss at capacity: freq tie -> evict NEWEST (id 2), -> id 3
      CacheOp("c", 7, Seq(0.0, 1.0), "r7")) // hit id 3, freq 2

    // stream-shape fold (flatMapGroupsWithState over a batch Dataset)
    val streamed = LfuCacheState.lfuCache(ops.toDS(), τ, cap)
      .collect().sortBy(_.seq)
      .map(o => (o.hit, o.entry_id, o.response, o.freq)).toSeq

    // batch fold: the same op sequence through CacheLfu/Similarity
    var cache = Seq.empty[(Long, Seq[Float], String, Int)]
      .toDF("entry_id", "embedding", "response", "freq")
    var nextId = 0L
    val batched = ops.map { op =>
      val hit = Similarity.cacheLookup(cache, "embedding", op.embedding, τ)
        .select("entry_id", "response", "freq").collect().headOption
      hit match {
        case Some(r) =>
          cache = CacheLfu.touchById(cache, r.getLong(0))
          (true, r.getLong(0), r.getString(1), r.getInt(2) + 1L)
        case None =>
          val entry = Seq((nextId, op.embedding.map(_.toFloat), op.response, 1))
            .toDF("entry_id", "embedding", "response", "freq")
          cache = CacheLfu.put(cache, entry, cap)
          nextId += 1
          (false, nextId - 1, op.response, 1L)
      }
    }
    assert(streamed == batched)
    // the documented outcome sequence, including the newest-tie eviction
    assert(streamed.map(t => (t._1, t._2)) ==
      Seq((false, 0L), (true, 0L), (false, 1L), (false, 2L), (true, 2L), (false, 3L), (true, 3L)))
    // final batch cache contents match the stream's replayed state
    val finalCache = cache.select("entry_id", "freq")
      .as[(Long, Int)].collect().toSet
    assert(finalCache == Set((0L, 2), (3L, 2)))
  }

  test("streaming LFU cache keeps state across micro-batches (RocksDB)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.LfuCacheState
    import graft.streaming.LfuCacheState.CacheOp
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = s2.sqlContext
    import s2.implicits._
    val input = MemoryStream[CacheOp]
    val out = LfuCacheState.lfuCache(input.toDS(), threshold = 0.9, capacity = 10)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("lfu_stream").start()
    input.addData(CacheOp("c", 1, Seq(1.0, 0.0), "resp_a"))
    q.processAllAvailable()
    // second micro-batch hits the entry inserted by the first
    input.addData(CacheOp("c", 2, Seq(1.0, 0.0), "ignored"))
    q.processAllAvailable()
    q.stop()
    val rows = s2.table("lfu_stream")
      .select("seq", "hit", "entry_id", "response", "freq")
      .as[(Long, Boolean, Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, false, 0L, "resp_a", 1L), (2L, true, 0L, "resp_a", 2L)))
  }

  test("chat memory state: history accumulates per chat and is bounded") {
    val batch1 = Seq(
      ChatMessage("c1", "hi", "hello"),
      ChatMessage("c2", "what is ghrelin", "a hormone")).toDS()
    val out1 = SessionState.chatMemory(batch1).collect().map(h => h.chat_id -> h).toMap
    assert(out1("c1").history == "Human: hi\nAI: hello")
    assert(out1("c2").n_turns == 1)

    // bounded state: maxTurns 2 keeps only the latest 2 turns
    val many = (1 to 5).map(i => ChatMessage("c1", s"q$i", s"a$i")).toDS()
    val bounded = SessionState.chatMemory(many, maxTurns = 2).collect().head
    assert(bounded.n_turns == 2)
    assert(bounded.history == "Human: q4\nAI: a4\nHuman: q5\nAI: a5")
  }

  test("live token egress: relay emits exactly the contiguous run, in seq order") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    import graft.streaming.TokenEgress
    import graft.streaming.TokenEgress.{EgressState, TokenIn}
    val s0 = TestGroupState.create[EgressState](
      Optional.empty[EgressState](), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[Long](), hasTimedOut = false)
    // batch 1 arrives scrambled with a hole at seq 1
    val out1 = TokenEgress.relay(16)(7L,
      Iterator(TokenIn(7, 2, "c"), TokenIn(7, 0, "a"), TokenIn(7, 3, "d")), s0).toSeq
    assert(out1.map(t => (t.seq, t.token)) == Seq((0L, "a")))
    assert(s0.get.next_seq == 1L && s0.get.buffered.keySet == Set(2L, 3L))
    // batch 2 fills the hole (plus a duplicate of an emitted seq, dropped)
    val s1 = TestGroupState.create[EgressState](
      Optional.of(s0.get), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[Long](), hasTimedOut = false)
    val out2 = TokenEgress.relay(16)(7L,
      Iterator(TokenIn(7, 1, "b"), TokenIn(7, 0, "dupe")), s1).toSeq
    assert(out2.map(t => (t.seq, t.token)) == Seq((1L, "b"), (2L, "c"), (3L, "d")))
    assert(s1.get.next_seq == 4L && s1.get.buffered.isEmpty)
    // pathological gap: buffer cap trips loudly instead of growing state
    val s2 = TestGroupState.create[EgressState](
      Optional.empty[EgressState](), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[Long](), hasTimedOut = false)
    intercept[IllegalArgumentException] {
      TokenEgress.relay(2)(8L,
        Iterator(TokenIn(8, 5, "x"), TokenIn(8, 6, "y"), TokenIn(8, 7, "z")), s2)
    }
    // a fully IN-ORDER answer longer than maxBuffer in one group must NOT
    // trip the cap — the bound applies to gap-blocked residue, not to the
    // contiguous run being drained (batch Datasets deliver whole answers
    // in one group)
    val s3 = TestGroupState.create[EgressState](
      Optional.empty[EgressState](), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[Long](), hasTimedOut = false)
    val long = (0 until 10).map(i => TokenIn(9, i.toLong, s"t$i"))
    val out3 = TokenEgress.relay(2)(9L, long.iterator, s3).toSeq
    assert(out3.map(_.seq) == (0L until 10L))
    assert(s3.get.next_seq == 10L && s3.get.buffered.isEmpty)
  }

  test("live token egress streams in order across micro-batches (RocksDB)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.TokenEgress
    import graft.streaming.TokenEgress.TokenIn
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = s2.sqlContext
    import s2.implicits._
    val input = MemoryStream[TokenIn]
    val q = TokenEgress.tokenEgress(input.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("egress_out").start()
    // two interleaved answers; answer 1 has a hole at seq 1 until batch 2
    input.addData(TokenIn(1, 0, "hello"), TokenIn(1, 2, "!"), TokenIn(2, 0, "hi"))
    q.processAllAvailable()
    val afterB1 = s2.table("egress_out")
      .select("answer_id", "seq").as[(Long, Long)].collect().toSet
    assert(afterB1 == Set((1L, 0L), (2L, 0L))) // seq 2 held back by the hole
    input.addData(TokenIn(1, 1, "world"), TokenIn(2, 1, "there"))
    q.processAllAvailable()
    q.stop()
    val all = s2.table("egress_out")
      .select("answer_id", "seq", "token").as[(Long, Long, String)].collect()
    val a1 = all.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    assert(a1 == Seq("hello", "world", "!"))
    assert(all.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq == Seq("hi", "there"))
  }

  test("token egress: scrambled arrival order assembles seq-ordered answers") {
    import org.apache.spark.sql.functions._
    // tokens deliberately NOT in seq order, spread over many partitions
    // so collect_list sees them in arbitrary shuffle order
    val toks = Seq(
      (1L, 2L, "c"), (1L, 0L, "a"), (1L, 1L, "b"),
      (2L, 1L, "world"), (2L, 0L, "hello"))
      .toDF("answer_id", "seq", "token")
      .repartition(8)
    val out = graft.streaming.StreamingOps
      .assembleTokens(toks, "answer_id", "seq", "token")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("a b c", 3L))
    assert(out(2L) == ("hello world", 2L))
  }

  test("streaming LFU cache refuses a dimension mismatch instead of scoring the common prefix") {
    import graft.streaming.LfuCacheState
    import graft.streaming.LfuCacheState.CacheOp
    // the second op's first two components equal the cached entry, so a
    // prefix fold scores 1.0 and calls it a hit
    val ops = Seq(CacheOp("c", 1, Seq(1.0, 0.0), "r1"), CacheOp("c", 2, Seq(1.0, 0.0, 5.0), "r2"))
    val err = intercept[Exception](LfuCacheState.lfuCache(ops.toDS(), 0.9, 4).collect())
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(e => String.valueOf(e.getMessage).contains("dimension mismatch")), err)
    // equal widths: the old interleaved fold, bit for bit
    def oldCosine(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val (sa, sb) = (math.sqrt(na), math.sqrt(nb))
      if (sa == 0.0 || sb == 0.0) 0.0 else dot / (sa * sb)
    }
    val rnd = new scala.util.Random(7)
    val vs = Seq.fill(20)(Seq.fill(9)(if (rnd.nextBoolean()) rnd.nextGaussian() else 0.0)) :+
      Seq.fill(9)(0.0)
    for (a <- vs; b <- vs) assert(java.lang.Double.doubleToRawLongBits(LfuCacheState.cosine(a, b)) ==
      java.lang.Double.doubleToRawLongBits(oldCosine(a, b)))
  }
}
