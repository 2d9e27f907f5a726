package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Retrieval, Similarity}

class RetrievalSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  test("assembleContext concatenates texts in rank order regardless of input order") {
    val hits = Seq(
      ("docA", 3, "third"),
      ("docA", 1, "first"),
      ("docB", 2, "second"))
      .toDF("doc_id", "rank", "text")
      .repartition(4) // scramble physical order
    val out = Retrieval.assembleContext(hits, "doc_id", "rank", "text")
      .select("doc_id", "best_rank", "context_text")
      .as[(String, Int, String)].collect().sortBy(_._1)
    assert(out(0) == (("docA", 1, "first\nthird")))
    assert(out(1) == (("docB", 2, "second")))
  }

  test("topK returns k best by cosine with stable tie-break") {
    val index = Seq(
      (1L, Seq(1f, 0f)),
      (2L, Seq(0f, 1f)),
      (3L, Seq(1f, 1f)),
      (4L, Seq(1f, 0f))) // tie with 1
      .toDF("vec_id", "embedding")
    val top = Similarity.topK(index, "embedding", Seq(1.0, 0.0), 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 4L, 3L)) // ties by vec_id, then diag, orthogonal excluded
  }

  test("property: top-k is a prefix of top-(k+1) (SURVEY §5.3)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val qv = e.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val tops = (1 to 6).map { k =>
      Similarity.topK(e, "embedding", qv, k).select("vec_id").as[Long].collect().toSeq
    }
    tops.sliding(2).foreach { case Seq(a, b) => assert(b.startsWith(a)) }
  }

  test("ask end-to-end: prompt embeds query text and document blocks") {
    val docs = Seq(
      ("d1", "spark shuffle join performance tuning guide"),
      ("d2", "cooking recipes for pasta and pizza dough"),
      ("d3", "spark join strategies broadcast and sort merge"))
      .toDF("doc_id", "text")
    val out = Retrieval.ask(spark, docs, "spark join", topK = 2, chunkSize = 16)
    val row = out.collect()
    assert(row.length == 1)
    val prompt = row(0).getAs[String]("prompt")
    assert(prompt.contains("User Query:\nspark join"))
    assert(prompt.contains("--- Document ID: "))
    assert(prompt.contains("Answer:"))
  }

  test("buildPrompt with history column prepends conversation") {
    val df = Seq(("q", "ctx", "Human: hi\nAI: hello")).toDF("query", "context", "hist")
    val p = Retrieval.buildPrompt(df, "query", "context", Some("hist"))
      .select("prompt").as[String].head()
    assert(p.contains("Conversation so far:\nHuman: hi\nAI: hello"))
    assert(p.indexOf("Conversation so far") < p.indexOf("User Query"))
  }

  test("bm25: tf saturation, rare-term idf, length norm behave as Okapi") {
    val docs = Seq(
      (1L, "spark spark spark spark filler filler filler filler"), // tf-heavy on 'spark'
      (2L, "spark join"),                                          // short: length norm boosts
      (3L, "join of the tables in the warehouse by the planner"),  // one rare-ish term
      (4L, "nothing relevant here at all"))                        // no query terms
      .toDF("doc_id", "text")
    val out = Retrieval.bm25(docs, "doc_id", "text", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!out.contains(4L), "docs matching no term are absent")
    // doc 2 matches BOTH terms and is short → top score
    assert(out(2L) > out(1L) && out(2L) > out(3L), s"got $out")
    // tf saturation: 4× 'spark' in a longer doc beats a single 'join'
    // mention in a longer doc, but not by 4×
    assert(out(1L) > 0 && out(1L) < out(2L))
    // determinism under repartitioning (sorted-fold per-doc sum)
    val again = Retrieval.bm25(docs.repartition(7), "doc_id", "text", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == out)
  }

  test("bm25 index probe equals the ad-hoc scan bitwise; serving reads prune") {
    val docs = Seq(
      (1L, "spark spark spark spark filler filler filler filler"),
      (2L, "spark join"),
      (3L, "join of the tables in the warehouse by the planner"),
      (4L, "nothing relevant here at all"))
      .toDF("doc_id", "text")
    val idx = TestDirs.create("graft_bm25idx").toString
    Retrieval.writeBm25Index(docs, "doc_id", "text", idx, nBuckets = 8)
    val adhoc = Retrieval.bm25(docs, "doc_id", "text", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val probe = Retrieval.bm25FromIndex(spark, idx, "doc_id", "spark join")
    assert(probe.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap == adhoc,
      "index probe diverged from the ad-hoc scores")
    // the probe's postings read must partition-prune to the query
    // terms' buckets and push the term filter — never scan the store
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_bucket"),
      s"expected _bucket partition pruning in:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("_t"),
      s"expected the term filter pushed to the scan:\n$plan")
  }

  test("bm25 delete: marked docs vanish now, survivor scores keep stale df until compaction") {
    val docs = Seq(
      (1L, "spark spark spark spark filler filler filler filler"),
      (2L, "spark join"),
      (3L, "join of the tables in the warehouse by the planner"),
      (4L, "nothing relevant here at all"),
      (5L, "??? !!! ..."), // token-less: no postings, sidecar-only
      (6L, "spark spark join join planner"))
      .toDF("doc_id", "text")
    val idx = TestDirs.create("graft_bm25del").toString
    Retrieval.writeBm25Index(docs, "doc_id", "text", idx, nBuckets = 8)
    val before = Retrieval.bm25FromIndex(spark, idx, "doc_id", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Retrieval.deleteBm25Docs(spark, idx, Seq(2L, 5L).toDF("doc_id"))
    val after = Retrieval.bm25FromIndex(spark, idx, "doc_id", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!after.contains(2L), "deleted doc must leave the hit set immediately")
    assert(after == before - 2L,
      "survivor scores must be BITWISE the pre-delete scores (stale df, Lucene semantics)")
    // re-delete is idempotent; unknown ids refuse loudly
    Retrieval.deleteBm25Docs(spark, idx, Seq(2L).toDF("doc_id"))
    assert(Retrieval.bm25FromIndex(spark, idx, "doc_id", "spark join")
      .collect().map(_.getLong(0)).toSet == after.keySet)
    val ex = intercept[IllegalArgumentException] {
      Retrieval.deleteBm25Docs(spark, idx, Seq(99L).toDF("doc_id"))
    }
    assert(ex.getMessage.contains("not present"), ex.getMessage)
  }

  test("bm25 compaction folds tombstones: scores == fresh build over survivors, drift guard passes") {
    val docs = Seq(
      (1L, "spark spark spark spark filler filler filler filler"),
      (2L, "spark join"),
      (3L, "join of the tables in the warehouse by the planner"),
      (4L, "nothing relevant here at all"),
      (5L, "??? !!! ..."),
      (6L, "spark spark join join planner"))
      .toDF("doc_id", "text")
    val idx = TestDirs.create("graft_bm25cmp").toString
    Retrieval.writeBm25Index(docs, "doc_id", "text", idx, nBuckets = 8)
    // delete a posting-bearing doc AND a token-less doc: both must
    // fold out of every statistic (N, id_hash) at compaction
    Retrieval.deleteBm25Docs(spark, idx, Seq(2L, 5L).toDF("doc_id"))
    val out = idx + "_compacted"
    Retrieval.compactBm25Index(spark, idx, out)
    val survivors = docs.filter(!col("doc_id").isin(2L, 5L))
    // fingerprint meta matches the surviving corpus exactly
    Retrieval.requireBm25IndexMatches(spark, out, survivors, "doc_id")
    val fresh = TestDirs.create("graft_bm25fre").toString
    Retrieval.writeBm25Index(survivors, "doc_id", "text", fresh, nBuckets = 8)
    val compacted = Retrieval.bm25FromIndex(spark, out, "doc_id", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rebuilt = Retrieval.bm25FromIndex(spark, fresh, "doc_id", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(compacted == rebuilt,
      "compacted store must score BITWISE like a fresh build over the survivors")
    // df actually changed vs the stale pre-compaction scores ('spark'
    // lost a doc), so this is a live recompute, not a copy
    val stale = Retrieval.bm25FromIndex(spark, idx, "doc_id", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(stale.keySet == compacted.keySet &&
        stale.exists { case (k, v) => compacted(k) != v },
      "compaction must move survivor scores (df/N recomputed)")
    // a rebuild clears stale tombstones: doc 2 is retrievable again
    Retrieval.writeBm25Index(docs, "doc_id", "text", idx, nBuckets = 8)
    assert(Retrieval.bm25FromIndex(spark, idx, "doc_id", "spark join")
      .collect().map(_.getLong(0)).toSet.contains(2L),
      "writeBm25Index must reset the delete lifecycle")
  }

  test("bm25: punctuation-robust matching (Ghrelin? matches ghrelin,)") {
    val docs = Seq(
      (1L, "Ghrelin, a peptide hormone; ghrelin regulates appetite."),
      (2L, "entirely unrelated content about query planners"))
      .toDF("doc_id", "text")
    val out = Retrieval.bm25(docs, "doc_id", "text", "What is Ghrelin?")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.contains(1L), "trailing '?' must not block the term match")
    assert(!out.contains(2L))
  }

  test("askHybrid end-to-end: lexical leg pulls exact-term docs into context") {
    val docs = Seq(
      (1L, "the planner chooses a broadcast hash join for small tables"),
      (2L, "vectors are normalized before the cosine scoring step runs"),
      (3L, "ERRCODE_7731 is raised when the shuffle file is missing"))
      .toDF("doc_id", "text")
    // an identifier-style query: exact-term match should surface doc 3
    val row = Retrieval.askHybrid(spark, docs, "ERRCODE_7731 shuffle", topK = 2,
      chunkSize = 8).collect()
    assert(row.length == 1)
    val prompt = row(0).getAs[String]("prompt")
    assert(prompt.contains("ERRCODE_7731 is raised"),
      s"hybrid context must contain the exact-term doc:\n$prompt")
    assert(prompt.contains("Answer:"))
  }

  test("askHybrid with a persisted lexical index emits the identical prompt") {
    import graft.operators.Ingest
    val docs = Seq(
      (1L, "the planner chooses a broadcast hash join for small tables"),
      (2L, "vectors are normalized before the cosine scoring step runs"),
      (3L, "ERRCODE_7731 is raised when the shuffle file is missing"))
      .toDF("doc_id", "text")
    // the store is keyed on the same chunk keys askHybrid derives
    val chunks = Ingest.chunk(docs.filter(Ingest.nonBlank(col("text"))), "text", 8)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
      .withColumn("_ck", concat(col("doc_id"), lit("#"), col("chunk_idx")))
    val idx = TestDirs.create("graft_hyidx").toString
    Retrieval.writeBm25Index(chunks, "_ck", "chunk_text", idx, nBuckets = 8)
    val adhoc = Retrieval.askHybrid(spark, docs, "ERRCODE_7731 shuffle", topK = 2,
      chunkSize = 8).select("prompt").head().getString(0)
    val viaIdx = Retrieval.askHybrid(spark, docs, "ERRCODE_7731 shuffle", topK = 2,
      chunkSize = 8, bm25IndexDir = Some(idx)).select("prompt").head().getString(0)
    assert(viaIdx == adhoc, "index-served lexical leg changed the hybrid prompt")
    // liveness, not coincidence: the probe itself must match rows — an
    // EMPTY index read (the failure mode of a bucket-modulus mismatch,
    // now impossible since the modulus lives in the store's meta) would
    // let the prompt equality above pass on the cosine leg alone
    assert(Retrieval.bm25FromIndex(spark, idx, "_ck", "ERRCODE_7731 shuffle").count() > 0,
      "index probe matched no postings — the lexical leg was never exercised")
  }

  test("segmented bm25: two appends == monolithic scores; compact restores the zero-join layout") {
    val docs = Seq(
      (1L, "spark shuffle partitions tune the join"),
      (2L, "spark spark spark spark filler filler filler filler"),
      (3L, "spark join"),
      (4L, "join of the tables in the warehouse by the planner"),
      (5L, "nothing relevant here at all"))
      .toDF("doc_id", "text")
    val segA = docs.filter(col("doc_id") <= 2)
    val segB = docs.filter(col("doc_id") > 2)
    val dir = TestDirs.create("graft_bm25seg").toString
    Retrieval.appendBm25Segment(segA, "doc_id", "text", dir, "s0001", nBuckets = 8)
    Retrieval.appendBm25Segment(segB, "doc_id", "text", dir, "s0002", nBuckets = 8)
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val seg = scores(Retrieval.bm25FromSegments(spark, dir, "doc_id", "spark join"))
    val adhoc = scores(Retrieval.bm25(docs, "doc_id", "text", "spark join"))
    assert(seg == adhoc, "merge-on-read df/N must reproduce the union corpus scores bitwise")
    // the per-segment probe reads stay bucket-pruned + term-pushed
    val plan = Retrieval.bm25FromSegments(spark, dir, "doc_id", "spark join")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_bucket"), plan)
    // compaction folds to the monolithic layout: same scores, and the
    // guard meta equals a from-scratch monolithic build's (drift guard
    // passes against the union corpus)
    val out = TestDirs.create("graft_bm25cmp").toString
    Retrieval.compactBm25Segments(spark, dir, out)
    assert(scores(Retrieval.bm25FromIndex(spark, out, "doc_id", "spark join")) == adhoc)
    Retrieval.requireBm25IndexMatches(spark, out, docs.select("doc_id"), "doc_id")
    // guards: segment name reuse, id_col drift, duplicated docs
    intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(segA, "doc_id", "text", dir, "s0001", nBuckets = 8)
    }
    intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(
        segA.withColumnRenamed("doc_id", "other_id"), "other_id", "text", dir, "s0003")
    }
    val err = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(segA, "doc_id", "text", dir, "s0004", nBuckets = 8)
    }
    assert(err.getMessage.contains("duplicates"), err.getMessage)
    assert(!new java.io.File(s"$dir/segments/s0004").exists(),
      "refused duplicate segment must not be durably written")
  }

  test("compact-on-append: the store folds itself past the cap, scores unchanged") {
    // 7 one-doc appends with autoCompactAt = 3: the 4th append crosses
    // the cap and folds to one segment, and so on — the store can never
    // accrete an unbounded per-segment probe floor. Scores must stay
    // bitwise the ad-hoc corpus scores throughout (the merge touches
    // layout, never statistics).
    val docs = Seq(
      (1L, "spark shuffle partitions tune the join"),
      (2L, "spark spark spark spark filler filler filler filler"),
      (3L, "spark join"),
      (4L, "join of the tables in the warehouse by the planner"),
      (5L, "nothing relevant here at all"),
      (6L, "the spark planner joins the join"),
      (7L, "warehouse filler text"))
      .toDF("doc_id", "text")
    val dir = TestDirs.create("graft_bm25auto").toString
    def nSegs: Int = {
      val p = new java.io.File(s"$dir/segments")
      p.listFiles().count(_.isDirectory)
    }
    (1L to 7L).foreach { id =>
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === id),
        "doc_id", "text", dir, f"s$id%04d", nBuckets = 8, autoCompactAt = 3)
      assert(nSegs <= 4, s"append $id left $nSegs segments — the hook never fired")
    }
    assert(nSegs < 7, "no compaction ever happened")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(Retrieval.bm25FromSegments(spark, dir, "doc_id", "spark join")) ==
      scores(Retrieval.bm25(docs, "doc_id", "text", "spark join")),
      "in-place compaction changed scores")
    // the folded store still appends and still guards duplicates: an
    // explicit maintenance call collapses it to exactly one segment
    Retrieval.compactBm25SegmentsInPlace(spark, dir)
    assert(nSegs == 1)
    assert(scores(Retrieval.bm25FromSegments(spark, dir, "doc_id", "spark join")) ==
      scores(Retrieval.bm25(docs, "doc_id", "text", "spark join")))
    intercept[IllegalArgumentException] {
      // re-appending doc 1 duplicates it; the NEXT in-place compaction refuses
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 1L),
        "doc_id", "text", dir, "sdup", nBuckets = 8, autoCompactAt = 1)
    }
  }

  test("segmented bm25 disjointness guard runs on doc ids, not posting counts") {
    // doc 6 tokenizes to ZERO alnum tokens — it has n_docs presence but
    // no postings rows. A posting-derived guard would (a) refuse this
    // perfectly legal store and (b) let a real duplicate hide behind the
    // cancelled count; the id-sidecar guard does neither.
    val docs = Seq(
      (1L, "spark shuffle partitions tune the join"),
      (2L, "spark join"),
      (6L, "·—·—· ≈≈≈"))
      .toDF("doc_id", "text")
    val dir = TestDirs.create("graft_bm25tok").toString
    Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 1L), "doc_id", "text", dir, "s1")
    Retrieval.appendBm25Segment(docs.filter(col("doc_id") > 1L), "doc_id", "text", dir, "s2")
    val out = TestDirs.create("graft_bm25tokc").toString
    Retrieval.compactBm25Segments(spark, dir, out) // legal store: must not refuse
    Retrieval.requireBm25IndexMatches(spark, out, docs.select("doc_id"), "doc_id")
    // masked duplicate: doc 2 appears AGAIN alongside a token-less doc.
    // The append-time id check refuses it BEFORE anything is written —
    // the store must still be exactly the one-segment store afterwards
    // (the old behavior left the duplicate segment durably on disk,
    // double-counting df/N in every probe until compaction finally
    // refused).
    val dir2 = TestDirs.create("graft_bm25mask").toString
    Retrieval.appendBm25Segment(docs, "doc_id", "text", dir2, "s1")
    val err = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 2L), "doc_id", "text", dir2, "s2")
    }
    assert(err.getMessage.contains("duplicates"), err.getMessage)
    assert(!new java.io.File(s"$dir2/segments/s2").exists(),
      "refused segment must not be durably written")
    // probes still serve the clean store
    assert(Retrieval.bm25FromSegments(spark, dir2, "doc_id", "spark join").count() == 2)
    // a batch that repeats ids WITHIN itself is refused the same way
    val errSelf = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(docs.union(docs.filter(col("doc_id") === 1L)),
        "doc_id", "text", dir2, "s3")
    }
    assert(errSelf.getMessage.contains("repeats doc ids"), errSelf.getMessage)
    // compaction backstop for stores written before the append guard:
    // clone s1 to a second segment behind the guard's back — the
    // sidecar check at compaction still catches it
    locally {
      import java.nio.file.{Files, Path, Paths}
      val src = Paths.get(s"$dir2/segments/s1"); val dst = Paths.get(s"$dir2/segments/s9")
      Files.walk(src).forEach { p: Path =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    }
    val errCmp = intercept[IllegalArgumentException] {
      Retrieval.compactBm25Segments(spark, dir2,
        TestDirs.create("graft_bm25maskc").toString)
    }
    assert(errCmp.getMessage.contains("disjoint"), errCmp.getMessage)
  }

  test("append lease: a held lease refuses a second appender; refusals and successes both release it") {
    val docs = Seq(
      (1L, "spark shuffle partitions tune the join"),
      (2L, "spark join broadcast threshold"))
      .toDF("doc_id", "text")
    val dir = TestDirs.create("graft_bm25lease").toString
    // first append creates the store and must leave NO lease behind
    Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 1L),
      "doc_id", "text", dir, "s1")
    assert(!new java.io.File(s"$dir/_append_lease").exists(),
      "a successful append must release the lease")
    // another appender in flight (simulated by the held marker):
    // deterministic refusal BEFORE any guard read or durable write
    assert(new java.io.File(s"$dir/_append_lease").createNewFile())
    val err = intercept[IllegalStateException] {
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 2L),
        "doc_id", "text", dir, "s2")
    }
    assert(err.getMessage.contains("_append_lease"), err.getMessage)
    assert(!new java.io.File(s"$dir/segments/s2").exists(),
      "an append refused at the lease must write nothing")
    // the lease is the append's VERY FIRST store access (r17): on a
    // FRESH store a held lease refuses before even the meta bootstrap
    // write — two racing first-appenders can no longer both write meta
    // (the loser clobbering the holder's n_buckets/id_col)
    val freshDir = TestDirs.create("graft_bm25lease0").toString
    assert(new java.io.File(s"$freshDir/_append_lease").createNewFile())
    intercept[IllegalStateException] {
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 1L),
        "doc_id", "text", freshDir, "s1")
    }
    assert(!new java.io.File(s"$freshDir/meta.json").exists(),
      "a lease refusal on a fresh store must not bootstrap meta")
    // the documented crash recovery re-opens the store
    Retrieval.releaseBm25AppendLease(spark, dir)
    Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 2L),
      "doc_id", "text", dir, "s2")
    assert(Retrieval.bm25FromSegments(spark, dir, "doc_id", "spark join").count() == 2)
    // a GUARD refusal (duplicate id) must release the lease too — a
    // retrying writer is not locked out of its own store
    intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 1L),
        "doc_id", "text", dir, "s3")
    }
    assert(!new java.io.File(s"$dir/_append_lease").exists(),
      "a refused append must release the lease")
  }

  test("append guard ids-bloom: fast path refuses dups, fallback survives a deleted sidecar") {
    val docs = Seq(
      (1L, "spark shuffle partitions tune the join"),
      (2L, "spark join"),
      (3L, "broadcast the small side"))
      .toDF("doc_id", "text")
    val dir = TestDirs.create("graft_bm25bloom").toString
    def app(sel: org.apache.spark.sql.Column, seg: String) =
      Retrieval.appendBm25Segment(docs.filter(sel), "doc_id", "text", dir, seg,
        idBloom = true)
    app(col("doc_id") === 1L, "s1")
    // the sidecar exists after the first append (bootstrap) and gates
    // the next one
    assert(new java.io.File(s"$dir/_idbloom/_params").exists())
    // duplicate refused THROUGH the bloom fast path (id 1 must hit)
    val e1 = intercept[IllegalArgumentException] { app(col("doc_id") <= 2L, "s2") }
    assert(e1.getMessage.contains("duplicates"), e1.getMessage)
    // fresh ids accepted; bloom folds them in
    app(col("doc_id") === 2L, "s2")
    val e2 = intercept[IllegalArgumentException] { app(col("doc_id") === 2L, "s3") }
    assert(e2.getMessage.contains("duplicates"), e2.getMessage)
    // a lost/corrupt sidecar only loses the fast path: delete it — the
    // guard falls back to the full exact join and still refuses, and
    // the accepted append that follows re-bootstraps the filter
    def rmBloom(): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(s"$dir/_idbloom"))
    }
    rmBloom()
    val e3 = intercept[IllegalArgumentException] { app(col("doc_id") === 1L, "s4") }
    assert(e3.getMessage.contains("duplicates"), e3.getMessage)
    rmBloom()
    app(col("doc_id") === 3L, "s4")
    assert(new java.io.File(s"$dir/_idbloom/_params").exists(),
      "accepted append must re-bootstrap the bloom")
    // and the rebuilt filter knows the PRE-bootstrap ids too
    val e4 = intercept[IllegalArgumentException] { app(col("doc_id") === 1L, "s5") }
    assert(e4.getMessage.contains("duplicates"), e4.getMessage)
    // scores unaffected by any of the guard machinery
    val out = Retrieval.bm25FromSegments(spark, dir, "doc_id", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val adhoc = Retrieval.bm25(docs, "doc_id", "text", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == adhoc)
  }

  test("ids-bloom is a store-level property: a default append maintains the sidecar") {
    // the superset invariant across MIXED-flag appends: once _idbloom
    // exists, an idBloom=false append must still fold its ids in —
    // otherwise a later idBloom=true append of those ids bloom-misses,
    // skips the exact join entirely, and durably writes a duplicate
    // segment (silent df/N double-count until compaction refuses)
    val docs = Seq(
      (1L, "spark shuffle partitions tune the join"),
      (2L, "spark join"),
      (3L, "broadcast the small side"))
      .toDF("doc_id", "text")
    val dir = TestDirs.create("graft_bm25bloomstore").toString
    Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 1L),
      "doc_id", "text", dir, "s1", idBloom = true)
    // DEFAULT-flag append: must keep maintaining the store's bloom
    Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 2L),
      "doc_id", "text", dir, "s2")
    // a bloom append that repeats the default append's id must refuse —
    // before the fix this bloom-missed and wrote the duplicate segment
    val e = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 2L),
        "doc_id", "text", dir, "s3", idBloom = true)
    }
    assert(e.getMessage.contains("duplicates"), e.getMessage)
    assert(!new java.io.File(s"$dir/segments/s3").exists(),
      "refused append must not leave a segment behind")
    // the documented retire path for a saturated filter: dropping the
    // sidecar is safe (guard degrades to the full exact join — still
    // refuses dups), default appends stop maintaining it, and a later
    // bloom append re-bootstraps a fresh filter that knows EVERY
    // stored id, including ones appended while retired
    Retrieval.dropIdBloom(spark, dir)
    assert(!new java.io.File(s"$dir/_idbloom").exists())
    val e2 = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 1L),
        "doc_id", "text", dir, "s3")
    }
    assert(e2.getMessage.contains("duplicates"), e2.getMessage)
    Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 3L),
      "doc_id", "text", dir, "s3")
    assert(!new java.io.File(s"$dir/_idbloom").exists(),
      "a retired store must stay retired under default appends")
    Retrieval.appendBm25Segment(
      Seq((9L, "fresh row")).toDF("doc_id", "text"),
      "doc_id", "text", dir, "s4", idBloom = true)
    val e3 = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 3L),
        "doc_id", "text", dir, "s5", idBloom = true)
    }
    assert(e3.getMessage.contains("duplicates"),
      s"re-bootstrapped bloom must know ids stored while retired: ${e3.getMessage}")
  }

  test("corrupt _idbloom: retired on default appends, rebuilt in place by idBloom=true") {
    // the r15 read taxonomy: only a PARSE/SHAPE failure (a torn or
    // garbage sidecar) is evidence the file is broken — it retires on a
    // default append (else a later append could read a stale filter)
    // but an idBloom=true append REBUILDS it from the live sidecars;
    // either way the guard this append runs is the full exact join, so
    // duplicates still refuse
    val docs = Seq(
      (1L, "spark shuffle partitions tune the join"),
      (2L, "spark join"),
      (3L, "broadcast the small side"))
      .toDF("doc_id", "text")
    val dir = TestDirs.create("graft_bm25bloomcorrupt").toString
    Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 1L),
      "doc_id", "text", dir, "s1", idBloom = true)
    def corruptParams(): Unit = {
      val pdir = new java.io.File(s"$dir/_idbloom/_params")
      pdir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.write(f.toPath, "not a parquet file".getBytes)
      }
    }
    corruptParams()
    // duplicate still refused through the degraded (exact-join) guard,
    // and the corrupt sidecar is retired by this default-flag append
    val e1 = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 1L),
        "doc_id", "text", dir, "s2")
    }
    assert(e1.getMessage.contains("duplicates"), e1.getMessage)
    assert(!new java.io.File(s"$dir/_idbloom").exists(),
      "a corrupt sidecar must be retired by a default append")
    // re-bootstrap, corrupt again, then an idBloom=true append REBUILDS
    // in place (no retire) and the rebuilt filter knows every stored id
    Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 2L),
      "doc_id", "text", dir, "s2", idBloom = true)
    corruptParams()
    Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 3L),
      "doc_id", "text", dir, "s3", idBloom = true)
    assert(new java.io.File(s"$dir/_idbloom/_params").exists(),
      "an idBloom=true append must rebuild a corrupt sidecar")
    val e2 = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === 1L),
        "doc_id", "text", dir, "s4", idBloom = true)
    }
    assert(e2.getMessage.contains("duplicates"),
      s"the rebuilt filter must know pre-corruption ids: ${e2.getMessage}")
  }

  test("interrupted in-place compaction: marker blocks probes, recovery completes the swap") {
    val docs = Seq(
      (1L, "spark shuffle partitions tune the join"),
      (2L, "spark join"),
      (3L, "broadcast the small side"))
      .toDF("doc_id", "text")
    val dir = TestDirs.create("graft_bm25rec").toString
    for (id <- 1L to 3L)
      Retrieval.appendBm25Segment(docs.filter(col("doc_id") === id),
        "doc_id", "text", dir, f"s$id%04d", nBuckets = 8, autoCompactAt = 0)
    def scoreMap() = Retrieval.bm25FromSegments(spark, dir, "doc_id", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val healthy = scoreMap()
    // simulate a crash INSIDE the swap window: run the compaction up to
    // the marker write by hand — stage a merged copy, write the marker,
    // delete one input, and "crash" before the publish rename
    Retrieval.compactBm25SegmentsInPlace(spark, dir)
    val merged = new java.io.File(s"$dir/segments").listFiles().head.getName
    assert(merged.startsWith("cmp_"))
    // rewind: move the published segment back into the staging layout
    // and recreate the marker exactly as the crash would have left it
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$dir/_compact_tmp/$merged"
    new java.io.File(s"$dir/_compact_tmp").mkdirs()
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/segments/$merged"),
      new org.apache.hadoop.fs.Path(tmp)))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_compact_pending"), true)
    out.write(s"$merged\n$tmp\ns0001\ns0002\ns0003".getBytes("UTF-8"))
    out.close()
    // probes and appends refuse the marked store loudly
    val errProbe = intercept[IllegalArgumentException] {
      Retrieval.bm25FromSegments(spark, dir, "doc_id", "spark join")
    }
    assert(errProbe.getMessage.contains("_compact_pending"), errProbe.getMessage)
    // recovery completes the swap mechanically; scores are unchanged
    assert(Retrieval.recoverBm25Compaction(spark, dir))
    assert(!new java.io.File(s"$dir/_compact_pending").exists())
    assert(!new java.io.File(s"$dir/_compact_tmp").exists())
    val recovered = scoreMap()
    assert(recovered == healthy, "recovered store must score bitwise-identically")
    // idempotent: nothing pending -> false, store untouched
    assert(!Retrieval.recoverBm25Compaction(spark, dir))
  }

  test("askHybrid refuses a bm25 store built over a different corpus (drift guard)") {
    import graft.operators.Ingest
    val docs = Seq(
      (1L, "the planner chooses a broadcast hash join for small tables"),
      (2L, "vectors are normalized before the cosine scoring step runs"),
      (3L, "ERRCODE_7731 is raised when the shuffle file is missing"))
      .toDF("doc_id", "text")
    // a stale store: built over a SUBSET of the corpus (doc 3 missing —
    // exactly the doc the lexical leg exists to surface). Without the
    // guard this would not error: rrfFuse scores the missing leg 0 and
    // the skew is silent.
    val stale = Ingest.chunk(docs.filter(col("doc_id") < 3), "text", 8)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
      .withColumn("_ck", concat(col("doc_id"), lit("#"), col("chunk_idx")))
    val idx = TestDirs.create("graft_hydrift").toString
    Retrieval.writeBm25Index(stale, "_ck", "chunk_text", idx, nBuckets = 8)
    val err = intercept[IllegalArgumentException] {
      Retrieval.askHybrid(spark, docs, "ERRCODE_7731 shuffle", topK = 2,
        chunkSize = 8, bm25IndexDir = Some(idx))
    }
    assert(err.getMessage.contains("different corpus"), err.getMessage)
    // same-key different-content drift (re-chunked at another size ⇒
    // different _ck set) is refused too
    val rechunked = Ingest.chunk(docs, "text", 4)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
      .withColumn("_ck", concat(col("doc_id"), lit("#"), col("chunk_idx")))
    Retrieval.writeBm25Index(rechunked, "_ck", "chunk_text", idx, nBuckets = 8)
    intercept[IllegalArgumentException] {
      Retrieval.askHybrid(spark, docs, "ERRCODE_7731 shuffle", topK = 2,
        chunkSize = 8, bm25IndexDir = Some(idx))
    }
  }

  test("rerank: batched client ≡ column expression, any batch size / partitioning") {
    import org.apache.spark.sql.functions._
    val docs = (0 until 57).map(i => (i.toLong, s"candidate text number $i with words"))
      .toDF("doc_id", "text").repartition(5)
    val q = "what is relevant?"
    val viaClient = Retrieval.rerank(docs, q, "text", batchSize = 8)
      .select("doc_id", "rerank_score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaExpr = docs.select(col("doc_id"),
        Retrieval.rerankScore(lit(q), col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaClient == viaExpr, "mapPartitions scorer must be bitwise-equal to the expression")
    assert(viaClient.values.forall(s => s >= 0.0 && s < 1.0))
    // a batch size larger than any partition still scores every row
    val big = Retrieval.rerank(docs, q, "text", batchSize = 1000).count()
    assert(big == 57)
  }

  test("rerank: a client returning the wrong score count fails loudly, not by dropping rows") {
    val docs = (0 until 10).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
    class ShortClient extends Retrieval.RerankClient {
      def scoreBatch(pairs: Seq[(String, String)]): Seq[Double] =
        pairs.map(_ => 0.5).dropRight(1) // violates one-score-per-pair
    }
    val e = intercept[Exception] {
      Retrieval.rerank(docs, "q", "text", () => new ShortClient).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("one score per pair")),
      s"expected the client-contract message, got: ${messages(e)}")
  }

  test("askHybrid with reranker: one prompt row, context re-ordered by rerank score") {
    val docs = Seq(
      (1L, "the planner chooses a broadcast hash join for small tables"),
      (2L, "vectors are normalized before the cosine scoring step runs"),
      (3L, "ERRCODE_7731 is raised when the shuffle file is missing"))
      .toDF("doc_id", "text")
    val row = Retrieval.askHybrid(spark, docs, "ERRCODE_7731 shuffle", topK = 2,
      chunkSize = 8, reranker = Some(() => new Retrieval.HashRerankClient)).collect()
    assert(row.length == 1)
    val prompt = row(0).getAs[String]("prompt")
    assert(prompt.nonEmpty && prompt.contains("Answer:"))
    // deterministic stand-in scorer → stable across runs
    val again = Retrieval.askHybrid(spark, docs, "ERRCODE_7731 shuffle", topK = 2,
      chunkSize = 8, reranker = Some(() => new Retrieval.HashRerankClient)).collect()
    assert(again(0).getAs[String]("prompt") == prompt)
  }

  test("rrfFuse: both-leg docs outrank single-leg; missing legs are null") {
    val a = Seq((10L, 5.0), (11L, 4.0), (12L, 3.0)).toDF("id", "score")
    val b = Seq((11L, 0.9), (13L, 0.8)).toDF("id", "score")
    val out = Retrieval.rrfFuse(a, b, "id")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]), r.getDouble(3)))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L))
    assert(out(11L)._1.contains(2L) && out(11L)._2.contains(1L))
    assert(out(10L)._2.isEmpty && out(13L)._1.isEmpty)
    // 11 appears in both legs → highest fused score
    assert(out.maxBy(_._2._3)._1 == 11L)
    assert(math.abs(out(11L)._3 - (1.0 / 62 + 1.0 / 61)) < 1e-12)
  }
}
