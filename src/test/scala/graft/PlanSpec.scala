package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ingest, Similarity}

/** Physical-plan assertions — the "would this survive 100×" audit as
  * regression tests. These pin the plan shapes the engine's scale story
  * depends on: filter/column pushdown into the parquet scan, broadcast
  * joins for small dims, TakeOrderedAndProject for top-k (per-partition
  * heaps, no global sort), and shuffle-free map-only chunking. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q1 filter is pushed into the parquet scan") {
    val p = plan(SparkEntry.queries("q1_pricing")(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"expected l_shipdate in PushedFilters:\n$p")
  }

  test("projection is pruned to referenced columns at the scan") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("n"))
    val p = plan(df)
    assert(p.contains("ReadSchema") && !p.contains("source"),
      s"scan should not read unused columns:\n$p")
  }

  test("widen() is split-aware: pre-split input passes through with no Exchange") {
    val par = spark.sparkContext.defaultParallelism
    val dir = TestDirs.create("graft_widen").toString + "/t"
    spark.range(10000).selectExpr("id", "cast(id as string) as s")
      .repartition(par).write.parquet(dir)
    val preSplit = spark.read.parquet(dir)
    val wide = queries.QueryHelpers.widen(spark, preSplit)
    assert(!plan(wide).contains("Exchange"),
      s"a scan already yielding >= parallelism splits must NOT reshuffle:\n${plan(wide)}")
    // the single-file case still spreads across the cores
    val oneFile = spark.read.parquet(s"$sf/documents.parquet")
    assert(oneFile.rdd.getNumPartitions < par, "precondition: single-split input")
    val spread = queries.QueryHelpers.widen(spark, oneFile)
    assert(spread.rdd.getNumPartitions == par,
      "an under-split input must be spread to defaultParallelism")
  }

  test("small dimension tables broadcast in the join pipeline") {
    val p = plan(SparkEntry.queries("q_join_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("semi/anti joins stay joins (no materialized distinct subquery)") {
    assert(plan(SparkEntry.queries("q_semi_join")(spark, sf)).contains("LeftSemi"))
    assert(plan(SparkEntry.queries("q_anti_join")(spark, sf)).contains("LeftAnti"))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val qv = Seq.fill(Schemas.EmbeddingDim)(0.1)
    val p = plan(Similarity.topK(e, "embedding", qv, 10))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("vocab stats aggregate without an Expand (no countDistinct row doubling)") {
    val p = plan(SparkEntry.queries("q_vocab_stats")(spark, sf))
    assert(!p.contains("Expand"),
      s"q_vocab_stats must use the two-level agg, not countDistinct+count Expand:\n$p")
    // map-side combine before the (source, tok) exchange: a partial
    // HashAggregate must appear below the shuffle
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
  }

  test("chunking is map-only: no exchange below the generate") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val p = plan(Ingest.chunk(docs, "text", 32))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected posexplode generate:\n$p")
  }

  test("fixed-plane BRP candidates are map-only; its top-k is TakeOrderedAndProject") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val planes = e.filter(col("vec_id").between(4, 7)).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val cand = graft.operators.Ann.brpFixedCandidates(e, "embedding", planes, 0.05, qv)
    val pCand = plan(cand)
    assert(!pCand.contains("Exchange"),
      s"BRP candidate generation must not shuffle (planes are literals):\n$pCand")
    val pTop = plan(cand.orderBy("dist", "vec_id").limit(10))
    assert(pTop.contains("TakeOrderedAndProject"),
      s"BRP top-k should be per-partition heaps, not a global sort:\n$pTop")
  }

  test("hash sampling is a map-only predicate: no exchange, no window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "source")
    val p = plan(graft.operators.Sampling.stratifiedHashSample(
      docs, "doc_id", "source", Map("src0" -> 1.0, "src1" -> 0.5)))
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(!p.contains("Window"), s"sampling must not need a window:\n$p")
  }

  test("codegen dot product participates in whole-stage codegen") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = e.select(graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
    val p = plan(df)
    // the *(n) prefix marks operators fused into a whole-stage-codegen stage
    assert(p.contains("*(1) Project") && p.contains("graft_dot"),
      s"expected graft_dot inside a codegen stage:\n$p")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    graft.sources.IndexStore.writeBucketed(li, "b_lineitem", "l_orderkey", 4)
    graft.sources.IndexStore.writeBucketed(o, "b_orders", "o_orderkey", 4)
    // force a non-broadcast join so the assertion actually proves that
    // bucketing (not a broadcast) eliminated the exchanges
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      assert(joined.count() == li.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("context assembly limits before ranking (no full-table single-partition window)") {
    val p = plan(SparkEntry.queries("q_context_assembly")(spark, sf))
    // limit-then-rank: the top-20 selection must be a TakeOrderedAndProject
    // (per-partition heaps) feeding the window, never a global sort of the
    // whole table into one partition
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject below the ranking window:\n$p")
  }

  test("SQ8 search is TakeOrderedAndProject over a map-only scan; rerank pushes the id filter") {
    val p = plan(SparkEntry.queries("q_ann_sq")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"SQ8 top-k must be a per-partition heap, not a global sort:\n$p")
    assert(!p.contains("Exchange"),
      s"quantize + rank must not shuffle:\n$p")
    // the rerank stage's candidate id set must reach the parquet scan
    // as a pushed filter (In/IsNotNull on vec_id), so the float tier is
    // read only for |candidates| rows at scale
    val pr = plan(SparkEntry.queries("q_ann_sq_rerank")(spark, sf))
    assert(pr.contains("PushedFilters") && pr.contains("vec_id"),
      s"rerank must push the candidate-id filter into the scan:\n$pr")
  }

  test("truncated-dim rerank: prefilter has no Exchange, re-rank pushes ids") {
    val p = plan(SparkEntry.queries("q_ann_truncate")(spark, sf))
    assert(p.contains("TakeOrderedAndProject") && p.contains("PushedFilters"),
      s"truncate rerank must heap-merge the prefilter and push the id filter:\n$p")
  }

  test("bigram scoring broadcasts the model tables, never sort-merges on the pair") {
    val p = plan(graft.operators.TextAnalysis.bigramLogprob(
      spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"),
      "doc_id", "text", vocabSize = 32, bigramTop = 64))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast model joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"bigram model joins must broadcast, not sort-merge:\n$p")
  }

  test("IVF cell assignment is map-only: no exchange anywhere in the plan") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val p = plan(graft.operators.Ann.assignCells(e, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec"))
    assert(!p.contains("Exchange"), s"cell assignment must not shuffle:\n$p")
    assert(!p.contains("Window"), s"cell assignment must not use a window:\n$p")
  }

  test("IVF partitioned store: probe filter becomes partition pruning") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val idx = TestDirs.create("graft_ivf_plan").toString + "/idx"
    val assigned = graft.operators.Ann.assignCells(e, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec")
    graft.operators.Ann.writeIvfIndex(assigned.select("vec_id", "embedding", "cell_id"), idx)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val cand = graft.operators.Ann.ivfCandidatesPartitioned(spark, idx,
      cents, "centroid_id", "centroid_vec", qv, "embedding", nprobe = 2)
    val p = plan(cand)
    assert(p.contains("PartitionFilters") && p.contains("cell_id"),
      s"expected cell_id in PartitionFilters (pruned scan):\n$p")
    // pruning is real: only the probed cells' rows are read
    val cells = spark.read.parquet(idx).filter(col("cell_id").isin(
      cand.select("cell_id").distinct().collect().map(_.get(0)).toSeq: _*))
    assert(cand.count() == cells.count())
    assert(cand.count() < spark.read.parquet(idx).count())
  }

  test("graph-ANN bucketed edge store: a hop's lookup prunes partitions") {
    import graft.operators.Ann
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 4)
    val idx = TestDirs.create("graft_knng_plan").toString + "/idx"
    Ann.writeGraphIndex(edges, idx, nBuckets = 16)
    // the exact read shape Ann.storeLookup issues for one hop
    val frontier = Seq(0L, 3L, 5L)
    val buckets = frontier.map(id => Long.box(id % 16)).distinct
    val hop = spark.read.parquet(idx)
      .filter(col("src_bucket").isin(buckets: _*))
      .filter(col("src").isin(frontier.map(Long.box): _*))
    val p = plan(hop)
    assert(p.contains("PartitionFilters") && p.contains("src_bucket"),
      s"expected src_bucket in PartitionFilters (pruned hop scan):\n$p")
    assert(p.contains("PushedFilters") && p.contains("src"),
      s"expected the src filter pushed to the scan:\n$p")
    assert(hop.count() > 0)
    assert(hop.count() < spark.read.parquet(idx).count())
  }

  test("GraphIndex serving: sidecar re-attach prunes to the visited uid buckets") {
    import graft.operators.GraphIndex
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val dir = TestDirs.create("graft_gidx_plan").toString
    val h = GraphIndex.build(spark, e, Seq("vec_id"), "embedding", dir,
      nCentroids = 8, m = 4, nBuckets = 16, beamWidth = 4, hops = 2)
    val qv = e.filter(col("vec_id") === 9)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val res = h.search(spark, qv)
    val p = plan(res)
    // the per-query chunk fetch must be a partition-pruned read (without
    // it, every ask re-scans the corpus-sized sidecar) + a broadcast
    // join against the KB-sized visited set (nothing shuffles)
    assert(p.contains("PartitionFilters") && p.contains("uid_bucket"),
      s"expected uid_bucket in PartitionFilters (pruned sidecar fetch):\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected the visited set broadcast against the sidecar:\n$p")
    assert(!p.contains("SortMergeJoin"), s"re-attach must not shuffle the sidecar:\n$p")
    assert(res.count() > 0)
  }

  test("tombstone gate: the mark-store read prunes to the visited buckets") {
    import graft.operators.Ann
    import spark.implicits._
    val idx = TestDirs.create("graft_tomb_plan").toString + "/t"
    Ann.writeGraphTombstones((0L until 64L).toDF("vec_id"), "vec_id", idx, 16)
    // the exact shape filterTombstoned issues for a KB-sized visited set
    val visited = Seq((3L, 0.9), (19L, 0.8)).toDF("vec_id", "sim")
    val gated = Ann.filterTombstoned(spark, visited, "vec_id", idx, 16)
    val p = plan(gated)
    // years of accumulated deletes must cost a query only its own
    // buckets: the mark scan partition-prunes, the anti-join never sees
    // the full mark set
    assert(p.contains("PartitionFilters") && p.contains("tomb_bucket"),
      s"expected tomb_bucket in PartitionFilters (pruned mark scan):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the KB-sized visited set must not shuffle against the marks:\n$p")
    assert(gated.count() == 0) // both visited ids are marked
  }

  test("IVF-PQ partitioned search: probed-cell read prunes partitions") {
    import graft.operators.{Ann, Pq}
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("vec").as("centroid_vec"))
    val cb = Pq.train(e, "vec_id", "vec", m = 8, k = 8, iters = 1)
    val enc = Pq.encode(e, "vec_id", "vec", cb).toDF()
      .select(col("id").as("vec_id"), col("codes"))
    val idx = TestDirs.create("graft_ivfpq_plan").toString + "/idx"
    Ann.writeIvfIndex(
      Ann.assignCells(e, "vec_id", "vec", cents, "centroid_id", "centroid_vec")
        .select("vec_id", "vec", "cell_id").join(enc, "vec_id"), idx)
    val qv = e.filter(col("vec_id") === 0).select("vec").head().getSeq[Double](0).toArray
    val top = Pq.ivfPqSearchPartitioned(spark, idx, "vec_id", "vec", cb,
      cents, "centroid_id", "centroid_vec", qv, topK = 5, nprobe = 2, candidates = 20)
    val p = plan(top)
    assert(p.contains("PartitionFilters") && p.contains("cell_id"),
      s"expected cell_id in PartitionFilters (pruned IVF-PQ scan):\n$p")
    assert(top.count() == 5)
  }

  test("incremental dedup reads ONLY the fingerprint column of the index") {
    // persist a fingerprint index carrying extra columns (as a real
    // accumulated index would), then verify the corpus probe's scan is
    // pruned to the fingerprint — 100 TB of indexed text never loads
    // a short name: the scan's Location is abbreviated to 100 characters
    val idxDir = TestDirs.create("fpidx").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.operators.Dedup.exact(docs, "doc_id", "text")
      .join(docs, docs("doc_id") === col("keep_id"))
      .select(col("fingerprint"), col("text"), col("source"))
      .write.mode("overwrite").parquet(idxDir)
    val existing = spark.read.parquet(idxDir)
    val p = plan(graft.operators.Dedup.exactIncrement(
      docs.limit(10), "doc_id", "text", existing))
    val idxScan = p.linesIterator
      .find(l => l.contains("Scan parquet") && l.contains("/fpidx"))
    assert(idxScan.isDefined, s"no index scan found:\n$p")
    assert(idxScan.get.contains("ReadSchema: struct<fingerprint:string>"),
      s"index scan reads more than the fingerprint:\n${idxScan.get}")
  }

  test("unigram scoring broadcasts the vocab, never sort-merges on token") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.operators.TextAnalysis.unigramLogprob(
      docs, "doc_id", "text", vocabSize = 32))
    assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token-keyed sort-merge join would shuffle the corpus token table:\n$p")
  }

  test("knnJoin broadcasts the query side, not the index side") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val p = plan(Similarity.knnJoin(q, "query_id", "qvec", e, "vec_id", "embedding", 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$p")
  }

  test("temperature mix broadcasts the |strata|-row target table") {
    val p = plan(SparkEntry.queries("q_temperature_mix")(spark, sf))
    // the corpus joins the tiny quota table by broadcast; a sort-merge
    // here would shuffle the corpus once more for a handful of rows
    assert(p.contains("BroadcastHashJoin"), s"target join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side SMJ for a tiny table:\n$p")
  }

  test("semantic decontamination broadcasts the bench side") {
    val p = plan(SparkEntry.queries("q_semantic_decontaminate")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bench side should broadcast into a map-only fan-out:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a shuffled cartesian would move the corpus:\n$p")
  }

  test("four-stage curation chain never goes cartesian; pairwise stages stay key-confined") {
    // quality gate → exact dedup → MinHash banding → SemDeDup: the two
    // quadratic-risk stages (band self-join, same-cell cosine) must be
    // equi-joins on their confinement keys — a cartesian anywhere here
    // is the shape that dies at 100× (cell assignment is a map-only
    // codegen argmax, so no join should appear for the codebook either)
    val p = plan(SparkEntry.queries("q_curation_semantic")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in the curation chain:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the curation chain:\n$p")
  }
}
