package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.streaming.StreamingDedup

class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  /** 20 docs in 2 blocks: 0-9 distinct (disjoint 24-word vocab slices, so
    * their 32-bit simhashes are independent), 10-14 near-dups (one-word
    * edits of 0-4), 15-19 exact copies of 5-9. */
  private def corpus: Seq[(Long, String, String)] = {
    def doc(i: Int): String = (0 until 24).map(j => s"w${i}_$j").mkString(" ")
    val base = (0 until 10).map(i => (i.toLong, s"b${i % 2}", doc(i)))
    val nearDups = (0 until 5).map(i =>
      (10L + i, s"b${i % 2}", doc(i).replaceFirst("\\w+$", "edited")))
    val exactDups = (0 until 5).map(i => (15L + i, s"b${(i + 5) % 2}", doc(i + 5)))
    base ++ nearDups ++ exactDups
  }

  test("streaming simhash dedup flags exactly the docs batch simhashPairs pairs up") {
    val docs = corpus.toDF("doc_id", "block", "text")
    val out = StreamingDedup.simhashDedup(
      docs.withColumn("seq", col("doc_id")),
      "doc_id", "text", "block", "seq", bits = 32, maxHamming = 3)
      .collect().sortBy(_.doc_id)

    val batchPairs = Dedup.simhashPairs(docs, "doc_id", "text", "block",
      bits = 32, maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect()

    // dup iff some earlier same-block doc is within maxHamming (id_b side)
    val dupIds = batchPairs.map(_._2).toSet
    assert(out.filter(_.is_dup).map(_.doc_id).toSet == dupIds)

    // dup_of is a minimum-hamming batch partner (tie → smallest id)
    out.filter(_.is_dup).foreach { o =>
      val partners = batchPairs.filter(_._2 == o.doc_id)
      val minHam = partners.map(_._3).min
      assert(o.hamming == minHam)
      assert(o.dup_of == partners.filter(_._3 == minHam).map(_._1).min)
    }

    // unique docs emit the sentinel
    out.filterNot(_.is_dup).foreach(o => assert(o.dup_of == -1L && o.hamming == -1L))

    // sanity on the planted structure: the 5 exact copies are dups
    assert((15L to 19L).forall(dupIds.contains))
  }

  test("banded batch form ≡ matchAll simhashDedup, with a deliberately hot block") {
    // EVERY doc in one block: the exact shape that would buffer the whole
    // corpus in a single group call under the raw-block key
    val docs = corpus.map { case (id, _, text) => (id, "hot", text) }
      .toDF("doc_id", "block", "text")
      .withColumn("seq", col("doc_id"))
    val plain = StreamingDedup.simhashDedup(docs, "doc_id", "text", "block", "seq",
        bits = 32, maxHamming = 3, matchAll = true)
      .collect().map(o => (o.doc_id, o.is_dup, o.dup_of, o.hamming)).sorted.toSeq
    val banded = StreamingDedup.simhashDedupBanded(docs, "doc_id", "text", "block", "seq",
        bits = 32, maxHamming = 3)
      .collect().map(o => (o.doc_id, o.is_dup, o.dup_of, o.hamming)).sorted.toSeq
    assert(banded == plain, "banded outcomes diverged from the raw-block matchAll form")

    // and the hot block actually fans out: the banded state keys split the
    // single block into many groups, each a strict subset of the corpus
    val nDocs = docs.count()
    val bandGroups = docs.select(col("block"), col("seq"), col("doc_id"),
        Dedup.simhash(col("text"), 32).as("simhash"))
      .select(explode(array((0 until 4).map(i =>
        concat_ws(":", col("block"), lit(i),
          expr(s"(simhash >> ${i * 8}) & 255"))): _*)).as("k"))
      .groupBy("k").count()
    assert(bandGroups.count() > 4, "expected the hot block to fan out across band groups")
    assert(bandGroups.agg(max("count")).head().getLong(0) < nDocs,
      "no band group may buffer the whole hot block")
  }

  test("simhash dedup runs as a real stream, incremental across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val out = StreamingDedup.simhashDedup(
      input.toDF().toDF("doc_id", "block", "text").withColumn("seq", col("doc_id")),
      "doc_id", "text", "block", "seq", bits = 32, maxHamming = 3)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("sdedup_out").start()

    val rows = corpus
    // originals in batch 1; near/exact dups arrive in a LATER micro-batch
    input.addData(rows.filter(_._1 < 10): _*)
    q.processAllAvailable()
    input.addData(rows.filter(_._1 >= 10): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sdedup_out")
      .select("doc_id", "is_dup", "dup_of")
      .as[(Long, Boolean, Long)].collect()
      .map { case (id, d, of) => id -> ((d, of)) }.toMap
    assert(streamed.size == 20)
    // exact copies matched against state written by the PREVIOUS batch
    (0 until 5).foreach(i => assert(streamed(15L + i) == (true, (5 + i).toLong)))
    (0L to 9L).foreach(id => assert(!streamed(id)._1))
  }

  test("maxPerBlock caps state: overflow degrades to recent-only matching") {
    val docs = corpus.filter(_._2 == "b0").toDF("doc_id", "block", "text")
    val out = StreamingDedup.simhashDedup(
      docs.withColumn("seq", col("doc_id")),
      "doc_id", "text", "block", "seq", bits = 32, maxHamming = 3,
      maxPerBlock = 1)
      .collect().sortBy(_.doc_id)
    // with only the newest hash retained, a dup is recognized only if its
    // original was the immediately preceding unique arrival
    val flagged = out.filter(_.is_dup).map(_.doc_id).toSet
    val full = StreamingDedup.simhashDedup(
      docs.withColumn("seq", col("doc_id")),
      "doc_id", "text", "block", "seq", bits = 32, maxHamming = 3)
      .collect().filter(_.is_dup).map(_.doc_id).toSet
    assert(flagged.subsetOf(full))
  }

  test("streaming curation gate: quality filter + dedup compose on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
      // stateless quality gate runs as-is on the stream
      .filter(TextAnalysis.tokenCount(col("text")) >= 4)
    val deduped = StreamingDedup.exactDedupStream(docs, "text", "ts")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("cur_out").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 05:$min%02d:00")
    input.addData(
      (ts(0), 1L, "a good long document with enough tokens"),
      (ts(1), 2L, "too short"),                                // quality-gated
      (ts(2), 3L, "a good long document with enough tokens"))  // dup of 1
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("cur_out").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("exact streaming dedup: watermark-bounded fingerprint state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val deduped = StreamingDedup.exactDedupStream(docs, "text", "ts", "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("xdedup_out").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 03:$min%02d:00")
    // batch 1: two distinct docs + an in-batch duplicate
    input.addData((ts(0), 1L, "alpha beta"), (ts(1), 2L, "gamma delta"),
      (ts(2), 3L, "alpha\nbeta "))
    q.processAllAvailable()
    // batch 2: duplicate INSIDE the watermark window → dropped
    input.addData((ts(5), 4L, "alpha beta"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("xdedup_out").select("doc_id").as[Long].collect().toSet
    // doc 3 differs only by newline/trailing space → cleanText → dup of 1
    assert(kept == Set(1L, 2L))
  }

  test("incremental-dedup loop: each micro-batch probes the grown index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = TestDirs.create("graft_incloop").toFile.getAbsolutePath
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.incrementalDedupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$root/index", s"$root/out", s"$root/ckpt")
    // batch 0: all new, plus an IN-BATCH duplicate
    input.addData((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"))
    q.processAllAvailable()
    // batch 1: repeat of batch-0 content must now be dup_corpus —
    // the index grew between micro-batches; plus one genuinely new doc
    input.addData((4L, "alpha doc"), (5L, "gamma doc"))
    q.processAllAvailable()
    // batch 2: repeat of batch-1's new doc → dup_corpus
    input.addData((6L, "gamma doc"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$root/out")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "new", 2L -> "new", 3L -> "dup_batch",
      4L -> "dup_corpus", 5L -> "new",
      6L -> "dup_corpus"), s"got $got")
    // the index holds exactly the distinct fingerprints, once each
    val idx = spark.read.parquet(s"$root/index")
      .select("fingerprint").as[String].collect()
    assert(idx.length == 3 && idx.toSet.size == 3, s"index: ${idx.toSeq}")
  }

  test("near-dup incremental loop: micro-batches probe the grown band index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = TestDirs.create("graft_nearloop").toFile.getAbsolutePath
    def doc(i: Int) = (0 until 24).map(j => s"w${i}_$j").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.incrementalNearDupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$root/bands", s"$root/out", s"$root/ckpt",
      shingleN = 3, numHashes = 8, bands = 8)
    // batch 0: two distinct docs + an in-batch NEAR duplicate of the first
    input.addData((1L, doc(1)), (2L, doc(2)),
      (3L, doc(1).replaceFirst("\\w+$", "edited")))
    q.processAllAvailable()
    // batch 1: a near-edit of batch-0 content → dup_corpus via the
    // grown band index; plus a genuinely new doc
    input.addData((4L, doc(1).replaceFirst("^\\w+", "prefixed")), (5L, doc(5)))
    q.processAllAvailable()
    // batch 2: repeat of batch-1's new doc → dup_corpus
    input.addData((6L, doc(5)))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$root/out")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "new", 2L -> "new", 3L -> "dup_batch",
      4L -> "dup_corpus", 5L -> "new",
      6L -> "dup_corpus"), s"got $got")
    // the band index holds bands ONLY for the three `new` docs
    val idx = spark.read.parquet(s"$root/bands").select("id").as[Long].collect()
    assert(idx.toSet == Set(1L, 2L, 5L), s"band ids: ${idx.toSet}")

    // replay idempotency, same contract as the exact loop
    val before = spark.read.parquet(s"$root/out")
      .select("doc_id", "status", "batch_id")
      .as[(Long, String, Long)].collect().sorted.toSeq
    val b2 = Seq((6L, doc(5))).toDF("doc_id", "text")
    StreamingDedup.processNearDupIncrement(b2, 2L, "doc_id", "text",
      s"$root/bands", s"$root/out", 3, 8, 8)
    val after = spark.read.parquet(s"$root/out")
      .select("doc_id", "status", "batch_id")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(after == before, "replaying batch 2 changed the verdict sink")
  }

  test("near-dup loop: crash BETWEEN the verdict and band writes, restart → sinks ≡ clean run") {
    def doc(i: Int) = (0 until 24).map(j => s"w${i}_$j").mkString(" ")
    val b0 = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    val b1 = Seq((3L, doc(1).replaceFirst("\\w+$", "edited")), (4L, doc(4)))
      .toDF("doc_id", "text")
    def sinks(root: String) = (
      spark.read.parquet(s"$root/out").select("doc_id", "status", "batch_id")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$root/bands").select("band_id", "bucket", "id", "batch_id")
        .collect().map(_.toString).sorted.toSeq)

    // reference: both batches complete without interruption
    val clean = TestDirs.create("graft_ndclean").toFile.getAbsolutePath
    StreamingDedup.processNearDupIncrement(b0, 0L, "doc_id", "text",
      s"$clean/bands", s"$clean/out", 3, 8, 8)
    StreamingDedup.processNearDupIncrement(b1, 1L, "doc_id", "text",
      s"$clean/bands", s"$clean/out", 3, 8, 8)

    // crashed run: batch 0 completes; batch 1's first attempt dies AFTER
    // the verdict write and BEFORE the band write — reproduce that torn
    // on-disk state literally (out/batch_id=1 present, bands/batch_id=1
    // absent), exactly what the op's first write leaves behind
    val crash = TestDirs.create("graft_ndcrash").toFile.getAbsolutePath
    StreamingDedup.processNearDupIncrement(b0, 0L, "doc_id", "text",
      s"$crash/bands", s"$crash/out", 3, 8, 8)
    val priorIdx = spark.read.parquet(s"$crash/bands")
      .filter(col("batch_id") < 1L).select("band_id", "bucket", "id")
    Dedup.minhashIncrement(b1, "doc_id", "text", priorIdx, 3, 8, 8)
      .write.mode("overwrite").parquet(s"$crash/out/batch_id=1")
    assert(!new java.io.File(s"$crash/bands/batch_id=1").exists,
      "precondition: the crash left no band partition for batch 1")

    // restart: the checkpoint re-delivers batch 1 from scratch
    StreamingDedup.processNearDupIncrement(b1, 1L, "doc_id", "text",
      s"$crash/bands", s"$crash/out", 3, 8, 8)
    assert(sinks(crash) == sinks(clean),
      "restart after a mid-batch crash must converge to the clean run")
    // and the near-dup verdict itself is right: doc 3 is an edit of doc 1
    val statuses = spark.read.parquet(s"$crash/out")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(statuses == Map(1L -> "new", 2L -> "new",
      3L -> "dup_corpus", 4L -> "new"), s"got $statuses")

    // second crash point: batch 0 dies between the band write and the
    // _params.json write (index exists, sidecar missing) — replay must
    // also converge and leave the sidecar in place
    val crash2 = TestDirs.create("graft_ndcrash2").toFile.getAbsolutePath
    StreamingDedup.processNearDupIncrement(b0, 0L, "doc_id", "text",
      s"$crash2/bands", s"$crash2/out", 3, 8, 8)
    assert(new java.io.File(s"$crash2/bands/_params.json").delete())
    StreamingDedup.processNearDupIncrement(b0, 0L, "doc_id", "text",
      s"$crash2/bands", s"$crash2/out", 3, 8, 8)
    assert(new java.io.File(s"$crash2/bands/_params.json").exists)
    val s0 = spark.read.parquet(s"$crash2/out").select("doc_id", "status")
      .as[(Long, String)].collect().toMap
    assert(s0 == Map(1L -> "new", 2L -> "new"))
  }

  test("near-dup loop: parameter drift against a persisted index fails loudly") {
    def doc(i: Int) = (0 until 24).map(j => s"w${i}_$j").mkString(" ")
    val root = TestDirs.create("graft_nddrift").toFile.getAbsolutePath
    val b0 = Seq((1L, doc(1))).toDF("doc_id", "text")
    StreamingDedup.processNearDupIncrement(b0, 0L, "doc_id", "text",
      s"$root/bands", s"$root/out", 3, 8, 8)
    // same dirs, different banding → the _params sidecar must refuse
    val b1 = Seq((2L, doc(2))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.processNearDupIncrement(b1, 1L, "doc_id", "text",
        s"$root/bands", s"$root/out", 3, 8, bands = 4)
    }
    assert(e.getMessage.contains("built with"), e.getMessage)
  }

  test("incremental-dedup loop: checkpoint replay of a batch is idempotent") {
    val root = TestDirs.create("graft_increplay").toFile.getAbsolutePath
    val (index, out) = (s"$root/index", s"$root/out")
    def snapshot() = (
      spark.read.parquet(out).select("doc_id", "status", "batch_id")
        .as[(Long, String, Long)].collect().sorted.toSeq,
      spark.read.parquet(index).select("fingerprint").as[String]
        .collect().sorted.toSeq)

    val b0 = Seq((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"))
      .toDF("doc_id", "text")
    StreamingDedup.processIncrement(b0, 0L, "doc_id", "text", index, out)
    val b1 = Seq((4L, "alpha doc"), (5L, "gamma doc")).toDF("doc_id", "text")
    StreamingDedup.processIncrement(b1, 1L, "doc_id", "text", index, out)
    val before = snapshot()

    // crash-and-replay of the LAST batch: the rerun must see the same
    // prior index state (its own batch-1 fingerprints excluded from the
    // probe) and overwrite the same paths — no duplicate rows, no doc
    // flipping from `new` to `dup_corpus`
    StreamingDedup.processIncrement(b1, 1L, "doc_id", "text", index, out)
    assert(snapshot() == before, "replaying batch 1 changed a sink")

    val statuses = spark.read.parquet(out).select("doc_id", "status")
      .as[(Long, String)].collect().toMap
    assert(statuses == Map(1L -> "new", 2L -> "new", 3L -> "dup_batch",
      4L -> "dup_corpus", 5L -> "new"))
    // one verdict row per input doc — a non-idempotent append would
    // leave two (and possibly contradictory) rows for batch-1 docs
    assert(spark.read.parquet(out).count() == 5)
  }

  // ---- semantic incremental loop (third tier of the ladder) ----

  /** Two orthogonal centroids; vectors live on the unit circle. */
  private def semCents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    .toDF("cid", "cvec")
  private def onCircle(deg: Double) =
    Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))

  test("semantic incremental loop: micro-batches probe the grown vector index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = TestDirs.create("graft_semloop").toFile.getAbsolutePath
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamingDedup.incrementalSemanticStream(
      input.toDF().toDF("vec_id", "vec"), "vec_id", "vec",
      semCents, "cid", "cvec",
      s"$root/index", s"$root/out", s"$root/ckpt", tau = 0.98)
    // batch 0: two distinct vectors + an in-batch tau-close copy of the first
    input.addData((1L, onCircle(0)), (2L, onCircle(90)), (3L, onCircle(2)))
    q.processAllAvailable()
    // batch 1: a tau-close copy of batch-0 content → dup_corpus via the
    // grown index; plus a vector far from everything seen → new
    input.addData((4L, onCircle(1)), (5L, onCircle(45)))
    q.processAllAvailable()
    // batch 2: near-copy of batch-1's new vector → dup_corpus
    input.addData((6L, onCircle(44)))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$root/out")
      .select("vec_id", "status").as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "new", 2L -> "new", 3L -> "dup_batch",
      4L -> "dup_corpus", 5L -> "new",
      6L -> "dup_corpus"), s"got $got")
    // the vector index holds rows ONLY for the three `new` vectors
    val idx = spark.read.parquet(s"$root/index").select("vec_id").as[Long].collect()
    assert(idx.toSet == Set(1L, 2L, 5L), s"index ids: ${idx.toSet}")

    // replay idempotency, same contract as the other two loops
    val before = spark.read.parquet(s"$root/out")
      .select("vec_id", "status", "batch_id")
      .as[(Long, String, Long)].collect().sorted.toSeq
    val b2 = Seq((6L, onCircle(44))).toDF("vec_id", "vec")
    StreamingDedup.processSemanticIncrement(b2, 2L, "vec_id", "vec",
      semCents, "cid", "cvec", s"$root/index", s"$root/out", tau = 0.98)
    val after = spark.read.parquet(s"$root/out")
      .select("vec_id", "status", "batch_id")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(after == before, "replaying batch 2 changed the verdict sink")
  }

  test("semantic loop: crash between the verdict and index writes, restart → sinks ≡ clean run") {
    val b0 = Seq((1L, onCircle(0)), (2L, onCircle(90))).toDF("vec_id", "vec")
    val b1 = Seq((3L, onCircle(1)), (4L, onCircle(45))).toDF("vec_id", "vec")
    def run(root: String, b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingDedup.processSemanticIncrement(b, id, "vec_id", "vec",
        semCents, "cid", "cvec", s"$root/index", s"$root/out", tau = 0.98)
    def sinks(root: String) = (
      spark.read.parquet(s"$root/out").select("vec_id", "status", "batch_id")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$root/index").select("vec_id", "cell_id", "batch_id")
        .collect().map(_.toString).sorted.toSeq)

    val clean = TestDirs.create("graft_semclean").toFile.getAbsolutePath
    run(clean, b0, 0L); run(clean, b1, 1L)

    // crashed run: batch 1's first attempt dies AFTER the verdict write
    // and BEFORE the index write — reproduce that torn state literally
    val crash = TestDirs.create("graft_semcrash").toFile.getAbsolutePath
    run(crash, b0, 0L)
    val prior = spark.read.parquet(s"$crash/index")
      .filter(col("batch_id") < 1L).select("vec_id", "vec", "cell_id")
    graft.operators.SemanticDedup.semanticIncrement(b1, "vec_id", "vec",
        prior, semCents, "cid", "cvec", tau = 0.98)
      .write.mode("overwrite").parquet(s"$crash/out/batch_id=1")
    assert(!new java.io.File(s"$crash/index/batch_id=1").exists,
      "precondition: the crash left no index partition for batch 1")

    run(crash, b1, 1L)
    assert(sinks(crash) == sinks(clean),
      "restart after a mid-batch crash must converge to the clean run")
    val statuses = spark.read.parquet(s"$crash/out")
      .select("vec_id", "status").as[(Long, String)].collect().toMap
    assert(statuses == Map(1L -> "new", 2L -> "new",
      3L -> "dup_corpus", 4L -> "new"), s"got $statuses")

    // second crash point: batch 0 dies between the index write and the
    // _codebook write — replay must converge and leave the sidecar
    val crash2 = TestDirs.create("graft_semcrash2").toFile.getAbsolutePath
    run(crash2, b0, 0L)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$crash2/index/_codebook"))
    run(crash2, b0, 0L)
    assert(new java.io.File(s"$crash2/index/_codebook").exists)
    val s0 = spark.read.parquet(s"$crash2/out").select("vec_id", "status")
      .as[(Long, String)].collect().toMap
    assert(s0 == Map(1L -> "new", 2L -> "new"))
  }

  test("semantic loop: codebook drift fails loudly even with identical centroid ids") {
    val root = TestDirs.create("graft_semdrift").toFile.getAbsolutePath
    val b0 = Seq((1L, onCircle(0))).toDF("vec_id", "vec")
    StreamingDedup.processSemanticIncrement(b0, 0L, "vec_id", "vec",
      semCents, "cid", "cvec", s"$root/index", s"$root/out", tau = 0.98)
    // same centroid IDS, different vectors — the inline alien-cell-id
    // guard cannot see this; only the _codebook sidecar can
    val drifted = Seq((0L, Seq(0.6, 0.8)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    val b1 = Seq((2L, onCircle(90))).toDF("vec_id", "vec")
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.processSemanticIncrement(b1, 1L, "vec_id", "vec",
        drifted, "cid", "cvec", s"$root/index", s"$root/out", tau = 0.98)
    }
    assert(e.getMessage.contains("different codebook"), e.getMessage)
  }

  test("semantic loop: production recipe passes through; recipe drift refuses loudly") {
    // the hier/banded knobs widen the drift surface beyond the codebook:
    // the same vector can land in a DIFFERENT valid cell under a
    // different recipe, so the _recipe sidecar must refuse a mismatched
    // probe exactly like codebook drift
    val ySign = Seq(Seq(0.0, 1.0)); val xSign = Seq(Seq(1.0, 0.0))
    val root = TestDirs.create("graft_semrecipe").toFile.getAbsolutePath
    def run(b: org.apache.spark.sql.DataFrame, id: Long,
            nSupers: Int, bands: Seq[Seq[Seq[Double]]]): Unit =
      StreamingDedup.processSemanticIncrement(b, id, "vec_id", "vec",
        semCents, "cid", "cvec", s"$root/index", s"$root/out", tau = 0.98,
        nSupers = nSupers, superProbes = 4, bands = bands)
    val b0 = Seq((1L, onCircle(0)), (2L, onCircle(90))).toDF("vec_id", "vec")
    run(b0, 0L, 2, Seq(ySign, xSign))
    assert(new java.io.File(s"$root/index/_recipe").exists,
      "the recipe sidecar must persist with the index")
    // same recipe: a near-copy of a stored vector is caught across batches
    val b1 = Seq((3L, onCircle(1))).toDF("vec_id", "vec")
    run(b1, 1L, 2, Seq(ySign, xSign))
    val got = spark.read.parquet(s"$root/out")
      .select("vec_id", "status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "new", 2L -> "new", 3L -> "dup_corpus"), s"got $got")
    // drifted recipe (flat, no bands) against the hier+banded index: refuse
    val b2 = Seq((4L, onCircle(45))).toDF("vec_id", "vec")
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.processSemanticIncrement(b2, 2L, "vec_id", "vec",
        semCents, "cid", "cvec", s"$root/index", s"$root/out", tau = 0.98)
    }
    assert(e.getMessage.contains("different RECIPE"), e.getMessage)
    // a store with NO _recipe sidecar reads as the flat-default legacy
    // recipe, so a hier probe against it refuses too
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/index/_recipe"))
    val e2 = intercept[IllegalArgumentException] {
      run(b2, 2L, 2, Seq(ySign, xSign))
    }
    assert(e2.getMessage.contains("different RECIPE"), e2.getMessage)
  }

  test("semantic loop: cellProbes is probe-side-only — recovers a cross-cell dup, never recipe drift") {
    // the 44°/46° boundary pair: the corpus row stores in the x-cell,
    // the probe batch's near-dup assigns to the y-cell — invisible to
    // the cell-confined probe at p=1, dup_corpus at p=2. cellProbes
    // changes NO stored assignment (primary cells are identical), so
    // mixed-p batches against one store must all be ACCEPTED by the
    // recipe guard — it is a probe-time knob like tau, not a recipe.
    val root = TestDirs.create("graft_semprobes").toFile.getAbsolutePath
    def run(b: org.apache.spark.sql.DataFrame, id: Long, p: Int): Unit =
      StreamingDedup.processSemanticIncrement(b, id, "vec_id", "vec",
        semCents, "cid", "cvec", s"$root/index", s"$root/out", tau = 0.999,
        cellProbes = p)
    run(Seq((1L, onCircle(44))).toDF("vec_id", "vec"), 0L, 1)
    // p=1 probe of the boundary twin: cross-cell, reported new
    run(Seq((2L, onCircle(46))).toDF("vec_id", "vec"), 1L, 1)
    // p=2 probe of another twin against the SAME store: caught — and
    // the recipe guard accepted the widened probe against a p=1 store
    run(Seq((3L, onCircle(45.5))).toDF("vec_id", "vec"), 2L, 2)
    val got = spark.read.parquet(s"$root/out")
      .select("vec_id", "status").as[(Long, String)].collect().toMap
    assert(got(1L) == "new")
    assert(got(2L) == "new", "p=1 cannot see across the cell boundary")
    assert(got(3L) == "dup_corpus", s"p=2 must recover the boundary dup: $got")
    // inert-knob canonicalization (the r14 ADVICE low): a flat store's
    // recipe must equal a flat probe's even when the probe carries a
    // superProbes value — with nSupers=0 it has no effect on any cell
    StreamingDedup.processSemanticIncrement(
      Seq((4L, onCircle(170))).toDF("vec_id", "vec"), 3L, "vec_id", "vec",
      semCents, "cid", "cvec", s"$root/index", s"$root/out", tau = 0.999,
      superProbes = 2)
    val s4 = spark.read.parquet(s"$root/out").filter(col("vec_id") === 4L)
      .select("status").as[String].head()
    assert(s4 == "new", "an inert superProbes must not refuse a flat store")
  }

  // ---- graph incremental loop (live HNSW-analog index maintenance) ----

  test("excise loop: spans duplicated against earlier batches are removed; stream ≡ batch on id-ordered input") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = TestDirs.create("graft_exloop").toFile.getAbsolutePath
    val b0 = Seq((1L, "a b c q r s"), (2L, "m n o p q"))
    val b1 = Seq((3L, "x y z a b c"), (4L, "fresh words only here"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.incrementalExciseStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$root/grams", s"$root/out", s"$root/ckpt", n = 3)
    input.addData(b0: _*); q.processAllAvailable()
    // batch 1: doc 3 repeats batch 0's [a b c] span -> words 3..5 excised
    input.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$root/out")
      .select("doc_id", "clean_text", "n_tokens", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    // id-ordered batches reproduce the one-shot batch operator exactly
    val batched = graft.operators.Dedup.exciseDuplicateSpans(
        (b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text", n = 3)
      .select("doc_id", "clean_text", "n_tokens", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == batched,
      s"stream and batch excision diverged:\n$streamed\nvs\n$batched")
    assert(streamed.find(_._1 == 3L).get._2 == "x y z", s"got $streamed")
    // replay idempotency: re-running batch 1 leaves both sinks identical
    val outBefore = spark.read.parquet(s"$root/out")
      .select("doc_id", "clean_text", "batch_id")
      .as[(Long, String, Long)].collect().sorted.toSeq
    val gramsBefore = spark.read.parquet(s"$root/grams")
      .select("_h", "batch_id").as[(String, Long)].collect().sorted.toSeq
    StreamingDedup.processExciseIncrement(b1.toDF("doc_id", "text"), 1L,
      "doc_id", "text", s"$root/grams", s"$root/out", 3, 16)
    assert(spark.read.parquet(s"$root/out")
      .select("doc_id", "clean_text", "batch_id")
      .as[(Long, String, Long)].collect().sorted.toSeq == outBefore)
    assert(spark.read.parquet(s"$root/grams")
      .select("_h", "batch_id").as[(String, Long)].collect().sorted.toSeq == gramsBefore)
    // parameter drift against the persisted gram index refuses loudly
    val ex = intercept[IllegalArgumentException] {
      StreamingDedup.processExciseIncrement(b1.toDF("doc_id", "text"), 2L,
        "doc_id", "text", s"$root/grams", s"$root/out", 5, 16)
    }
    assert(ex.getMessage.contains("accumulated"), ex.getMessage)
  }

  test("graph loop: streamed batches stay searchable; later batches link to earlier ones") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    val root = TestDirs.create("graft_gloop").toFile.getAbsolutePath
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamingDedup.incrementalGraphStream(
      input.toDF().toDF("vec_id", "vec"), "vec_id", "vec",
      semCents, "cid", "cvec",
      s"$root/nodes", s"$root/edges", s"$root/ckpt", m = 2, nBuckets = 4)
    input.addData((1L, onCircle(0)), (2L, onCircle(90)), (3L, onCircle(10)))
    q.processAllAvailable()
    input.addData((4L, onCircle(5)), (5L, onCircle(80)))
    q.processAllAvailable()
    q.stop()
    // node index holds every streamed vector, batch-keyed
    val nodes = spark.read.parquet(s"$root/nodes")
      .select("vec_id", "batch_id").as[(Long, Long)].collect().toMap
    assert(nodes == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L))
    // batch-1 node 4 linked across batches: its top-m in cell 0 is {1, 3}
    val e4 = spark.read.parquet(s"$root/edges")
      .filter(col("src") === 4L).select("dst").as[Long].collect().toSet
    assert(e4.contains(1L) || e4.contains(3L), s"node 4 edges: $e4")
    // the store is searchable end-to-end with per-hop bucket pruning
    val got = Ann.graphSearch(spark, Ann.storeLookup(spark, s"$root/edges", 4),
        semCents, "cid", "cvec", Ann.oneQuery(spark, onCircle(6)), "query_id", "vector",
        beamWidth = 2, hops = 2)
      .orderBy(desc("sim"), col("vec_id")).limit(3)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.contains(4L), s"search missed the streamed near-neighbor: $got")
  }

  test("graph loop: crash between edge and node writes, restart → sinks ≡ clean run") {
    import graft.operators.Ann
    val b0 = Seq((1L, onCircle(0)), (2L, onCircle(90))).toDF("vec_id", "vec")
    val b1 = Seq((3L, onCircle(5)), (4L, onCircle(85))).toDF("vec_id", "vec")
    def run(root: String, b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingDedup.processGraphIncrement(b, id, "vec_id", "vec",
        semCents, "cid", "cvec", s"$root/nodes", s"$root/edges", m = 2, nBuckets = 4)
    def sinks(root: String) = (
      spark.read.parquet(s"$root/nodes").select("vec_id", "cell_id", "batch_id")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$root/edges").select("src", "dst", "batch_id")
        .collect().map(_.toString).sorted.toSeq)

    val clean = TestDirs.create("graft_gclean").toFile.getAbsolutePath
    run(clean, b0, 0L); run(clean, b1, 1L)

    // crashed run: batch 1 dies AFTER its edge write, BEFORE its node
    // write — reproduce that torn state literally, then restart
    val crash = TestDirs.create("graft_gcrash").toFile.getAbsolutePath
    run(crash, b0, 0L)
    val prior = spark.read.parquet(s"$crash/nodes")
      .filter(col("batch_id") < 1L).select("vec_id", "vec", "cell_id")
    val asgB = Ann.assignCells(b1, "vec_id", "vec", semCents, "cid", "cvec")
      .select(col("vec_id"), col("vec"), col("cell_id"))
    Ann.graphInsert(prior, asgB, "vec_id", "vec", m = 2)
      .withColumn("src_bucket", pmod(col("src"), lit(4)))
      .write.mode("overwrite").partitionBy("src_bucket")
      .parquet(s"$crash/edges/batch_id=1")
    assert(!new java.io.File(s"$crash/nodes/batch_id=1").exists,
      "precondition: the crash left no node partition for batch 1")
    run(crash, b1, 1L)
    assert(sinks(crash) == sinks(clean),
      "restart after a mid-batch crash must converge to the clean run")
  }

  test("graph loop: codebook drift is refused by the sidecar") {
    val root = TestDirs.create("graft_gdrift").toFile.getAbsolutePath
    val b0 = Seq((1L, onCircle(0))).toDF("vec_id", "vec")
    StreamingDedup.processGraphIncrement(b0, 0L, "vec_id", "vec",
      semCents, "cid", "cvec", s"$root/nodes", s"$root/edges", m = 2, nBuckets = 4)
    val drifted = Seq((0L, Seq(0.6, 0.8)), (1L, Seq(0.0, 1.0))).toDF("cid", "cvec")
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.processGraphIncrement(
        Seq((2L, onCircle(90))).toDF("vec_id", "vec"), 1L, "vec_id", "vec",
        drifted, "cid", "cvec", s"$root/nodes", s"$root/edges", m = 2, nBuckets = 4)
    }
    assert(e.getMessage.contains("different codebook"), e.getMessage)
  }
}
