package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryHelpers._

/** Exact and approximate vector search: cosine top-k, IVF, PQ, SQ8,
  * truncated-dim, LSH and BRP, plus the vector transforms they build on. */
object AnnQueries {

  val all: Seq[Q] = Seq(

    // F-1/O-11/O-18: exact top-10 cosine retrieval for one query vector.
    Q("q_cosine_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = collectVec(e, 0)
      e.select(col("vec_id"), cosine(col("embedding"), lit(qv.toArray)).as("_raw"))
        .select(col("vec_id"), stableRound(col("_raw")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |s AS (
         |  SELECT e.vec_id, ${dCosine("e.embedding", "q.qv")} AS sim
         |  FROM embeddings e, q
         |)
         |SELECT vec_id, round(sim + 1.2345e-9, 6) AS sim
         |FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),

    // O-11 batch shape: 5 query vectors × all index rows, top-3 each.
    Q("q_knn_batch", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.knnJoin(queries, "query_id", "qvec", e.select("vec_id", "embedding"), "vec_id", "embedding", 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("vec_id"),
          stableRound(col("sim")).as("sim"))
        .orderBy("query_id", "rank")
    }, oracle =
      s"""WITH s AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |         ${dCosine("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 5) q
         |), r AS (
         |  SELECT query_id, vec_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
         |  FROM s
         |)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, round(sim + 1.2345e-9, 6) AS sim
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // F-2: L2 normalization with the reference's 1e-9 epsilon.
    Q("q_l2_normalize", (s, dir) => {
      withL2Normalized(t(s, dir, "embeddings"), "embedding", "nvec")
        .select(
          col("vec_id"),
          stableRound(l2Norm(col("embedding"))).as("norm"),
          stableRound(element_at(col("nvec"), 1)).as("first_elem"))
        .orderBy("vec_id")
    }, oracle =
      s"""SELECT vec_id,
         |       round(${dNorm("embedding")} + 1.2345e-9, 6) AS norm,
         |       round(CAST(embedding[1] AS DOUBLE) / (${dNorm("embedding")} + 1e-9) + 1.2345e-9, 6) AS first_elem
         |FROM embeddings ORDER BY vec_id""".stripMargin),

    // JL dimensionality reduction: 64→16 deterministic Rademacher
    // projection (md5-sign matrix — engine-portable, no RNG). First 4
    // output components pin the matrix and the dot fold.
    Q("q_dim_reduce", (s, dir) => {
      val planes = graft.functions.VectorFunctions.rademacherPlanes(
        Schemas.EmbeddingDim, 16)
      graft.functions.VectorFunctions.withRandomProjection(
          t(s, dir, "embeddings").select("vec_id", "embedding"), "embedding", "proj", planes)
        .select(col("vec_id"),
          stableRound(element_at(col("proj"), 1)).as("p0"),
          stableRound(element_at(col("proj"), 2)).as("p1"),
          stableRound(element_at(col("proj"), 3)).as("p2"),
          stableRound(element_at(col("proj"), 4)).as("p3"))
        .orderBy("vec_id")
    }, oracle =
      // Rademacher projection: rebuild the md5-sign matrix (entry (i,j) =
      // dMd5Sign('i_j')), fold each component in ascending-j order like
      // the Scala DotProduct, scale by 1/sqrt(16).
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |           FROM embeddings),
         |m AS (
         |  SELECT i.range AS i, j.range AS j,
         |         ${dMd5Sign(s"(CAST(i.range AS VARCHAR) || '_' || CAST(j.range AS VARCHAR))")} AS s
         |  FROM range(0, 4) i, range(0, ${Schemas.EmbeddingDim}) j
         |),
         |p AS (SELECT i, list(s ORDER BY j) AS svec FROM m GROUP BY i),
         |proj AS (
         |  SELECT e.vec_id, p.i,
         |         list_sum(list_transform(range(1, ${Schemas.EmbeddingDim + 1}),
         |           j -> p.svec[j] * e.vec[j])) / sqrt(16.0) AS v
         |  FROM e, p
         |)
         |SELECT vec_id,
         |       round(max(CASE WHEN i = 0 THEN v END) + 1.2345e-9, 6) AS p0,
         |       round(max(CASE WHEN i = 1 THEN v END) + 1.2345e-9, 6) AS p1,
         |       round(max(CASE WHEN i = 2 THEN v END) + 1.2345e-9, 6) AS p2,
         |       round(max(CASE WHEN i = 3 THEN v END) + 1.2345e-9, 6) AS p3
         |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // PQ (product quantization) search under the driver gate — the
    // SEARCH phase only, against a FIXED codebook (round-5 verdict
    // item 4). The codebook is the deterministic head-k seed
    // (headCodebooks ≡ train(iters=0), PqSpec-pinned), which is both how
    // production runs (codebooks trained offline on a sample, persisted,
    // loaded as a constant) and what makes the whole
    // encode → ADC → exact-re-rank chain SQL-replayable: the oracle
    // rebuilds the same codebook from the head rows and replays the
    // argmin encode, the ordered ADC fold, the top-100 candidate cut and
    // the cosine re-rank value-for-value. Lloyd TRAINING stays covered
    // by PqSpec's recall bounds (its avg() float-summation order is the
    // inherent reason it can't sit under a value oracle).
    Q("q_pq_search", (s, dir) => {
      val index = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val cb = Pq.headCodebooks(index, "vec_id", "vec", m = 8, k = 16)
      val enc = Pq.encode(index, "vec_id", "vec", cb)
      val qv = index.filter(col("vec_id") === 0)
        .select("vec").head().getSeq[Double](0).toArray
      Pq.searchTopK(index, "vec_id", "vec", enc, cb, qv, topK = 10, candidates = 100)
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
    }, oracle =
      // Fixed-codebook PQ search: ADC top-100 candidates, exact cosine
      // re-rank top-10 (was rows-only while the codebook came from
      // Lloyd training — the head-seed codebook made it replayable).
      dPqCtes(
        s"""cand AS (SELECT vec_id FROM adc ORDER BY score DESC, vec_id LIMIT 100)
           |SELECT e.vec_id, round(${dCosine("e.vec", "q.vec")} + 1.2345e-9, 6) AS sim
           |FROM e JOIN cand USING (vec_id), q
           |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // IVF-PQ end-to-end over the cell-PARTITIONED store — the composed
    // 100 TB ANN stack under the driver gate: coarse cells (vec_id < 8
    // centroids) partition the written index; the probed-cell read is
    // static partition pruning (PlanSpec pins PartitionFilters); ADC
    // scores the byte codes inside the surviving cells; the survivors
    // re-rank exactly. Same fixed-codebook split as q_pq_search, so the
    // full stack now sits under the value oracle too (verdict item 5).
    Q("q_ivfpq", (s, dir) => {
      val index = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val cents = index.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("vec").as("centroid_vec"))
      val cb = Pq.headCodebooks(index, "vec_id", "vec", m = 8, k = 16)
      val enc = Pq.encode(index, "vec_id", "vec", cb).toDF()
        .select(col("id").as("vec_id"), col("codes"))
      val assigned = Ann.assignCells(index, "vec_id", "vec",
          cents, "centroid_id", "centroid_vec")
        .select("vec_id", "vec", "cell_id")
        .join(enc, "vec_id")
      val idx = scratch("ivfpq", dir)
      Ann.writeIvfIndex(assigned, idx)
      val qv = index.filter(col("vec_id") === 0)
        .select("vec").head().getSeq[Double](0).toArray
      Pq.ivfPqSearchPartitioned(s, idx, "vec_id", "vec", cb,
          cents, "centroid_id", "centroid_vec",
          qv, topK = 10, nprobe = 2, candidates = 50)
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
    }, oracle =
      // IVF-PQ: coarse cells = head-8 centroids (annIvfOracle's
      // assignment), nprobe=2, ADC within the probed cells only
      // (per-row scores are independent, so filtering the full-corpus
      // adc CTE to in-cell rows is the same computation), top-50
      // candidates, exact re-rank top-10.
      dPqCtes(
        s"""c AS (SELECT vec_id AS ccid, vec AS cv FROM e WHERE vec_id < 8),
           |asg AS (
           |  SELECT vec_id, ccid,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid) AS rn
           |  FROM (SELECT e.vec_id, c.ccid, ${dCosine("e.vec", "c.cv")} AS csim
           |        FROM e, c)
           |),
           |cells AS (SELECT vec_id, ccid AS cell_id FROM asg WHERE rn = 1),
           |probe AS (
           |  SELECT ccid FROM c, q ORDER BY ${dCosine("c.cv", "q.vec")} DESC, ccid LIMIT 2
           |),
           |incell AS (
           |  SELECT vec_id FROM cells WHERE cell_id IN (SELECT ccid FROM probe)
           |),
           |cand AS (
           |  SELECT adc.vec_id FROM adc JOIN incell USING (vec_id)
           |  ORDER BY score DESC, vec_id LIMIT 50
           |)
           |SELECT e.vec_id, round(${dCosine("e.vec", "q.vec")} + 1.2345e-9, 6) AS sim
           |FROM e JOIN cand USING (vec_id), q
           |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // MLlib BRP-LSH (Ann.fitBrpLsh / brpApproxNeighbors) is spec-gated
    // only (AnnSpec: seed determinism + recall >= 0.7 vs brute force) —
    // its hash planes come from MLlib's seeded RNG, which no SQL oracle
    // can re-derive, so a queries entry could never be more than a
    // rows-only smoke. The HASH-GATED form of the same bucketed-
    // projection semantics is q_ann_brp_fixed below: the four hash
    // planes are data rows (vec_id 4..7) instead of the RNG, so the
    // oracle replays bucketing (floor of an ascending-fold dot /
    // bucketLength, OR across tables) and the three-dot Euclidean
    // distance exactly. bucketLength 0.05 keeps the candidate set at
    // ~1/3 of the table at both test SFs — genuine pruning with a
    // well-populated top-10.
    Q("q_ann_brp_fixed", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val planes = e.filter(col("vec_id").between(4, 7)).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0)).toSeq
      val qv = collectVec(e, 0)
      Ann.brpFixedCandidates(e.select("vec_id", "embedding"), "embedding",
          planes, bucketLength = 0.05, qv)
        .select(col("vec_id"), stableRound(col("dist")).as("dist"))
        .orderBy("dist", "vec_id") // rounded order = oracle's alias order
        .limit(10)
    }, oracle =
      // Euclidean BRP-LSH with data-row planes: bucket = floor(dot/0.05)
      // per plane, candidate iff ANY plane matches the query's bucket,
      // exact three-dot distance re-rank. Folds mirror the Spark side
      // (ascending index order), so floor() sees bit-identical doubles.
      // (bool_or over a plane join, not EXISTS — DuckDB lambdas can't
      // reach correlated outer columns.)
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings WHERE vec_id BETWEEN 4 AND 7),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |hits AS (
         |  SELECT e.vec_id,
         |         bool_or(CAST(floor(${dDot("e.embedding", "p.pv")} / 0.05) AS BIGINT)
         |               = CAST(floor(${dDot("q.qv", "p.pv")} / 0.05) AS BIGINT)) AS hit
         |  FROM embeddings e, p, q GROUP BY e.vec_id
         |),
         |cand AS (
         |  SELECT e.vec_id, e.embedding
         |  FROM embeddings e JOIN hits USING (vec_id) WHERE hits.hit
         |),
         |scored AS (
         |  SELECT vec_id,
         |         sqrt(greatest(${dDot("cand.embedding", "cand.embedding")}
         |              - 2.0 * ${dDot("cand.embedding", "q.qv")}
         |              + ${dDot("q.qv", "q.qv")}, 0.0)) AS dist
         |  FROM cand, q
         |)
         |SELECT vec_id, round(dist + 1.2345e-9, 6) AS dist
         |FROM scored ORDER BY dist, vec_id LIMIT 10""".stripMargin),

    // Embedding-cosine near-dup: top-1 neighbor per vector within label.
    // Argmax via max_by on (sim, −id_b): a partial-aggregatable hash agg
    // — each map task reduces its pairs to one candidate per id_a before
    // the shuffle, instead of pushing ALL scored pairs through an
    // Exchange + sort for a row_number window. Ties (equal sim) break to
    // the lowest id_b, matching the oracle's row_number ordering.
    Q("q_embedding_neighbors", (s, dir) => {
      val e = wide(s, dir, "embeddings").withColumn("_nrm", l2Norm(col("embedding")))
      val a = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("_va"),
        col("_nrm").as("_na"))
      val b = e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("_vb"),
        col("_nrm").as("_nb"))
      a.join(b, Seq("label"))
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("sim", cosineGiven(col("_va"), col("_vb"), col("_na"), col("_nb")))
        .groupBy("id_a")
        .agg(max_by(struct(col("id_b"), col("sim")),
          struct(col("sim"), -col("id_b"))).as("_best"))
        .select(col("id_a"), col("_best.id_b").as("neighbor_id"),
          stableRound(col("_best.sim")).as("sim"))
        .orderBy("id_a")
    }, oracle =
      s"""WITH s AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${dCosine("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id
         |), r AS (
         |  SELECT id_a, id_b, sim,
         |         row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rn
         |  FROM s
         |)
         |SELECT id_a, id_b AS neighbor_id, round(sim + 1.2345e-9, 6) AS sim
         |FROM r WHERE rn = 1 ORDER BY id_a""".stripMargin),

    // IVF ANN: 8 head centroids, probe 2 cells, top-5.
    Q("q_ann_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      // same predicate as the oracle (vec_id < 8), not head-N, so the two
      // sides cannot diverge if ids ever have gaps
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
      Ann.ivfCandidates(assigned, "embedding", cents, "centroid_id", "centroid_vec",
          collectVec(e, 0), nprobe = 2)
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id")) // rounded order = oracle's alias order
        .limit(5)
    }, oracle = annIvfOracle),

    // IVF over the cell-PARTITIONED store: same result as q_ann_ivf, but
    // the candidate scan goes through partitionBy(cell_id) + partition
    // pruning — the end-to-end exercise of the 100 TB IVF layout.
    Q("q_ann_ivf_part", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val idx = scratch("ivf", dir)
      val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
      Ann.writeIvfIndex(assigned.select("vec_id", "embedding", "cell_id"), idx)
      Ann.ivfCandidatesPartitioned(s, idx, cents, "centroid_id", "centroid_vec",
          collectVec(e, 0), "embedding", nprobe = 2)
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(5)
    }, oracle =
      // identical result contract: the partitioned store changes the
      // physical layout, never the candidate set
      annIvfOracle),

    // SQ8 scalar quantization (Faiss SQ8 / OpenSearch byte-vector
    // analog): per-vector int8 codes + scale, ranked asymmetrically
    // (full-precision query vs raw codes — the scale cancels in
    // cosine). The 4×-less-scan-bandwidth storage tier; quantization
    // arithmetic (floor(x/scale + 0.5), scale = maxabs/127) is
    // replayed verbatim by the oracle, so the codes themselves are
    // hash-pinned, not just the ranking.
    Q("q_ann_sq", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      Sq.searchTopK(Sq.quantize(e, "embedding"), "vec_id", collectVec(e, 0), 10)
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      // SQ8: replay the quantization itself (maxabs → scale →
      // floor(x/scale + 0.5) codes; floor(+0.5) because round-half
      // rules differ across engines) and rank codes against the
      // full-precision query — the scale cancels in cosine, exactly
      // as the Spark side never multiplies it back in.
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |sc AS (
         |  SELECT vec_id, embedding,
         |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
         |  FROM embeddings
         |),
         |sq AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CASE WHEN s = 0 THEN 0.0
         |           ELSE floor(CAST(x AS DOUBLE) / s + 0.5) END) AS code
         |  FROM sc
         |),
         |scored AS (SELECT sq.vec_id, ${dCosine("sq.code", "q.qv")} AS sim FROM sq, q)
         |SELECT vec_id, round(sim + 1.2345e-9, 6) AS sim
         |FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),

    // Two-tier SQ search: int8 prefilter top-40 → exact float re-rank
    // of just those ids (pushed-down id filter) → top-10. The
    // production layout where the wide scan touches only 1-byte codes
    // and the float column is read for |candidates| rows.
    Q("q_ann_sq_rerank", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      Sq.searchRerank(Sq.quantize(e, "embedding"), e, "vec_id", "embedding",
          collectVec(e, 0), k = 10, candidates = 40)
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      // Two-tier SQ: int8 top-40 prefilter, exact float re-rank of the
      // candidate ids, top-10 — the unrounded double sims order both
      // stages on both engines.
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |sc AS (
         |  SELECT vec_id, embedding,
         |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
         |  FROM embeddings
         |),
         |sq AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CASE WHEN s = 0 THEN 0.0
         |           ELSE floor(CAST(x AS DOUBLE) / s + 0.5) END) AS code
         |  FROM sc
         |),
         |cand AS (
         |  SELECT sq.vec_id FROM sq, q
         |  ORDER BY ${dCosine("sq.code", "q.qv")} DESC, sq.vec_id LIMIT 40
         |),
         |scored AS (
         |  SELECT e.vec_id, ${dCosine("e.embedding", "q.qv")} AS sim
         |  FROM embeddings e JOIN cand USING (vec_id), q
         |)
         |SELECT vec_id, round(sim + 1.2345e-9, 6) AS sim
         |FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),

    // Matryoshka truncated-dim two-tier: prefilter ranks on the first
    // 16 of 64 dims (4× less scan traffic), exact full-dim re-rank of
    // the top-40 ids. Same contract discipline as q_ann_sq_rerank.
    Q("q_ann_truncate", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      Ann.truncatedRerank(e, "vec_id", "embedding",
          collectVec(e, 0), k = 10, candidates = 40, prefixDim = 16)
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      // Matryoshka truncated-dim two-tier: prefilter cosine over the
      // first-16 list slice, exact full-dim re-rank of the top-40.
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id FROM embeddings e, q
         |  ORDER BY ${dCosine("(e.embedding[1:16])", "(q.qv[1:16])", 16)} DESC, e.vec_id LIMIT 40
         |),
         |scored AS (
         |  SELECT e.vec_id, ${dCosine("e.embedding", "q.qv")} AS sim
         |  FROM embeddings e JOIN cand USING (vec_id), q
         |)
         |SELECT vec_id, round(sim + 1.2345e-9, 6) AS sim
         |FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),

    // LSH ANN via the OPTIMIZER REWRITE (graft.plans.AnnBucketPrune):
    // the query below is written as the EXACT form — score everything,
    // sort desc, limit — with no bucket filter anywhere; the opt-in rule
    // recognizes the top-k-by-cosine shape over the plane-tagged bucket
    // column and injects `lsh_bucket IN (query_bucket)` itself. Same
    // result as q_ann_lsh's hand-written bucket filter; the oracle
    // encodes the bucket-filtered (ANN) semantics.
    Q("q_ann_rewrite", (s, dir) => {
      s.conf.set(graft.plans.AnnBucketPrune.EnabledConf, "true")
      GraftExtensions.ensureAnnRewrite(s) // no-op under a withExtensions session
      val e = t(s, dir, "embeddings")
      val planes = e.filter(col("vec_id") < 4).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0)).toSeq
      val qv = collectVec(e, 0)
      Ann.withLshBucket(e.select("vec_id", "embedding"), "embedding", planes)
        // rounded sim BEFORE the sort: rounded order == the oracle's
        // alias order (same discipline as q_ann_lsh / q_ann_ivf)
        .withColumn("sim", stableRound(cosine(col("embedding"), lit(qv.toArray))))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(5)
        // keep lsh_bucket in the output: documents which bucket served
        // the query, and keeps the column visible to the late (foreign-
        // session) extraOptimizations placement of the rule
        .select("vec_id", "lsh_bucket", "sim")
    }, oracle =
      // Same ANN-bucket semantics as q_ann_lsh (the engine side reaches
      // them via the AnnBucketPrune optimizer rewrite instead of an
      // explicit filter); output additionally names the serving bucket.
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings WHERE vec_id < 4),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |b AS (
         |  SELECT e.vec_id, e.embedding,
         |         CAST(sum(CASE WHEN ${dDot("e.embedding", "p.pv")} > 0
         |                       THEN CAST(pow(2, p.pid) AS BIGINT) ELSE 0 END) AS BIGINT) AS lsh_bucket
         |  FROM embeddings e, p GROUP BY e.vec_id, e.embedding
         |),
         |scored AS (
         |  SELECT b.vec_id, b.lsh_bucket, ${dCosine("b.embedding", "q.qv")} AS sim
         |  FROM b, q WHERE b.lsh_bucket = (SELECT lsh_bucket FROM b WHERE vec_id = 0)
         |)
         |SELECT vec_id, lsh_bucket, round(sim + 1.2345e-9, 6) AS sim
         |FROM scored ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin),

    // Sign-random-projection LSH ANN: 4 planes → bucket, top-5 in-bucket.
    Q("q_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val planes = e.filter(col("vec_id") < 4).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0)).toSeq
      Ann.lshCandidates(e.select("vec_id", "embedding"), "embedding",
          planes, collectVec(e, 0))
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id")) // rounded order = oracle's alias order
        .limit(5)
    }, oracle =
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings WHERE vec_id < 4),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |b AS (
         |  SELECT e.vec_id, e.embedding,
         |         CAST(sum(CASE WHEN ${dDot("e.embedding", "p.pv")} > 0
         |                       THEN CAST(pow(2, p.pid) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e, p GROUP BY e.vec_id, e.embedding
         |),
         |scored AS (
         |  SELECT b.vec_id, ${dCosine("b.embedding", "q.qv")} AS sim
         |  FROM b, q WHERE b.bucket = (SELECT bucket FROM b WHERE vec_id = 0)
         |)
         |SELECT vec_id, round(sim + 1.2345e-9, 6) AS sim
         |FROM scored ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin),
  )
}
