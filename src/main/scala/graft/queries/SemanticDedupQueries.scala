package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryHelpers._

/** SemDeDup: cell-confined cosine dedup at flat, size-derived,
  * banded and multi-probe codebooks, its incremental form and its clusters. */
object SemanticDedupQueries {

  val all: Seq[Q] = Seq(

    // North star: SemDeDup — coarse-cell assignment confines the
    // pairwise cosine stage. The synthetic embeddings are near-random
    // (max organic pairwise cosine ≈ 0.47), so the dup signal is
    // PLANTED: exact copies of vec_id < 100 re-keyed +10000. Each copy
    // lands in its original's cell (identical vector → identical
    // argmax) and must be dropped with dup_of = the original.
    Q("q_semantic_dedup", (s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 100)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      SemanticDedup.dedup(base.unionByName(planted), "vec_id", "embedding",
          cents, "centroid_id", "cvec", tau = 0.9)
        .orderBy("vec_id")
    }, oracle = semanticDedupOracle(8)),

    // The same dedup at the SIZE-DERIVED codebook (|C| = ⌊√N⌋ on BOTH
    // engines — a pinned |C| makes cells grow linearly and the pair
    // join quadratic, the exact trap the r13 sf1 curve measured at
    // 16.1×) with BOTH 100 TB shape fixes the graph build already
    // carries — the full production recipe, hash-gated: (1) TWO-LEVEL
    // assignment (Ann.assignCellsHier through |S| = ⌊√|C|⌋ head
    // supers — flat assignment is N·√N dots at the √N codebook, hier
    // is ~2·N^1.25); (2) the in-cell pair join OR-confined to two
    // 2-plane sign-LSH bands (the Σ|cell|² = N^1.5 in-cell term drops
    // to the largest cell×bucket block, ~R/2^b of unconfined). Exact
    // planted copies agree on every band by construction, so the dup
    // signal survives confinement; near-dup recall for the band recipe
    // is measured on the real PMC corpus (SCALE.md), the buildServing
    // discipline. The oracle replays the size-derived |C|/|S| (nested
    // sqrt scalar subqueries), the two-level argmax (q_ann_graph_hier's
    // CTEs) and the OR'd bucket condition (q_ann_graph_banded's), so
    // every cell id, bucket bit, and dup_of is hash-checked.
    Q("q_semantic_dedup_scaled", (s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 100)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      val nCents = math.max(1L, math.floor(math.sqrt(base.count().toDouble)).toLong)
      val nSupers = math.max(1L, math.floor(math.sqrt(nCents.toDouble)).toLong)
      val cents = base.filter(col("vec_id") < nCents)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      def planesIn(lo: Long, hi: Long) = base
        .filter(col("vec_id") >= lo && col("vec_id") < hi).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0)).toSeq
      SemanticDedup.dedup(base.unionByName(planted), "vec_id", "embedding",
          cents, "centroid_id", "cvec", tau = 0.9,
          nSupers = nSupers.toInt, bands = Seq(planesIn(0, 2), planesIn(2, 4)))
        .orderBy("vec_id")
    }, oracle =
      // the SCALED codebook at the full production recipe: two-level
      // assignment (|S|=8 head supers) + two-band OR'd confinement of
      // the pair join — every cell id, bucket bit, and dup_of replayed
      semanticDedupHierBandedOracle),

    // Multi-probe SemDeDup — the recovery of the recipe's own blind
    // spot: a cell-confined pair stage can never score a tau-pair that
    // straddles a coarse-cell boundary (measured on the real PMC
    // corpus: 111/200 planted near-dups lost to the boundary ALONE —
    // SCALE.md "Confined-pair recall"; the hier/band knobs are
    // recall-clean, the cell wall is the whole loss). cellProbes = 2
    // assigns the probe side of the pair join to its top-2 cells
    // (Ann.assignCellsMulti — FAISS's nprobe applied at the cell
    // level) and normalizes both join directions, so a boundary pair
    // meets in the runner-up cell at ≤ 2× the single-cell candidate
    // term. The planted dups here are MIXED vectors (0.8·a + 0.2·b
    // element-wise, identical IEEE arithmetic on both engines) — still
    // tau-close to a (cos ≈ 0.97 ≥ 0.9) but nudged enough that some
    // plants argmax into a DIFFERENT cell than their original: exactly
    // the pair class the flat build provably misses and the probes
    // recover. The oracle replays the top-2 assignment as one windowed
    // rank (rn <= 2) and the either-direction candidate rule as a
    // normalized (hi, lo) projection.
    Q("q_semantic_dedup_probes", (s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val a = base.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding").as("_av"))
      val b = base.filter(col("vec_id") >= 100 && col("vec_id") < 200)
        .select((col("vec_id") - 100).as("vec_id"), col("embedding").as("_bv"))
      val planted = a.join(b, "vec_id")
        .select((col("vec_id") + 10000).as("vec_id"),
          zip_with(col("_av"), col("_bv"),
            (x, y) => x * lit(0.8) + y * lit(0.2)).as("embedding"))
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      SemanticDedup.dedup(base.unionByName(planted), "vec_id", "embedding",
          cents, "centroid_id", "cvec", tau = 0.9, cellProbes = 2)
        .orderBy("vec_id")
    }, oracle = semanticDedupProbesOracle),

    // The probes composed with the PRODUCTION routing — multi-probe on
    // top of the size-derived codebook and two-level assignment of
    // q_semantic_dedup_scaled (|C| = ⌊√N⌋, |S| = ⌊√|C|⌋), PLUS the
    // probeMargin cost lever (0.05): a runner-up cell is probed only
    // when its sim is within the margin of the primary's — the
    // boundary-vector confinement that keeps the pair term off hub
    // cells (PMC margin sweep, SCALE.md). The top-2 cells come from
    // the probed super's MEMBER set, so the oracle replays the super
    // argmax (rn = 1 over supers), the member rank at rn <= 2, AND the
    // margin cut (csim >= per-row max csim − 0.05, identical double
    // arithmetic) — every probe list, both join directions, and every
    // dup_of hash-checked. Same mixed-vector plant as
    // q_semantic_dedup_probes.
    Q("q_semantic_dedup_probes_hier", (s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val a = base.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding").as("_av"))
      val b = base.filter(col("vec_id") >= 100 && col("vec_id") < 200)
        .select((col("vec_id") - 100).as("vec_id"), col("embedding").as("_bv"))
      val planted = a.join(b, "vec_id")
        .select((col("vec_id") + 10000).as("vec_id"),
          zip_with(col("_av"), col("_bv"),
            (x, y) => x * lit(0.8) + y * lit(0.2)).as("embedding"))
      val nCents = math.max(1L, math.floor(math.sqrt(base.count().toDouble)).toLong)
      val nSupers = math.max(1L, math.floor(math.sqrt(nCents.toDouble)).toLong)
      val cents = base.filter(col("vec_id") < nCents)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      SemanticDedup.dedup(base.unionByName(planted), "vec_id", "embedding",
          cents, "centroid_id", "cvec", tau = 0.9,
          nSupers = nSupers.toInt, cellProbes = 2, probeMargin = 0.05)
        .orderBy("vec_id")
    }, oracle = semanticDedupProbesHierOracle),

    // The probeMargin DERIVED from the corpus's own argmax-gap
    // distribution instead of guessed (SemanticDedup.deriveProbeMargin
    // — one codegen map-only NearestCells top-2 pass + one exact
    // percentile): boundaryFrac = 0.25 probes "the boundary quartile".
    // The margin is stable-rounded to 6dp on BOTH engines (the repo's
    // float convention) and the oracle replays the WHOLE derivation —
    // gap = topsim − rn-2 csim per vector, quantile_cont(gaps, 0.25)
    // (≡ Spark's exact percentile, the q_length_quantiles precedent),
    // then the same rn <= 2 + margin-cut probe lists and
    // either-direction rule as q_semantic_dedup_probes. Same
    // mixed-vector plant.
    Q("q_semantic_dedup_margin_derived", (s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val a = base.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding").as("_av"))
      val b = base.filter(col("vec_id") >= 100 && col("vec_id") < 200)
        .select((col("vec_id") - 100).as("vec_id"), col("embedding").as("_bv"))
      val planted = a.join(b, "vec_id")
        .select((col("vec_id") + 10000).as("vec_id"),
          zip_with(col("_av"), col("_bv"),
            (x, y) => x * lit(0.8) + y * lit(0.2)).as("embedding"))
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      val all = base.unionByName(planted)
      val raw = SemanticDedup.deriveProbeMargin(all, "vec_id", "embedding",
        cents, "centroid_id", "cvec", boundaryFrac = 0.25)
      val margin = BigDecimal(raw + 1.2345e-9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      SemanticDedup.dedup(all, "vec_id", "embedding",
          cents, "centroid_id", "cvec", tau = 0.9,
          cellProbes = 2, probeMargin = margin)
        .orderBy("vec_id")
    }, oracle = semanticDedupMarginDerivedOracle),

    // Incremental semantic dedup: batch (ids >= 250, plus planted copies
    // of corpus vectors at +20000 → dup_corpus, and of batch vectors at
    // +30000 → dup_batch) probed against the corpus's cell-assigned
    // vector index (ids < 250) — corpus text never re-read, probes
    // cell-confined. Same head-8 codebook as q_semantic_dedup.
    Q("q_semantic_increment", (s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      val corpus = base.filter(col("vec_id") < 250)
      val index = Ann.assignCells(corpus, "vec_id", "embedding",
        cents, "centroid_id", "cvec")
      val batch = base.filter(col("vec_id") >= 250)
        .unionByName(base.filter(col("vec_id") < 50)
          .select((col("vec_id") + 20000).as("vec_id"), col("embedding")))
        .unionByName(base.filter(col("vec_id") >= 250 && col("vec_id") < 300)
          .select((col("vec_id") + 30000).as("vec_id"), col("embedding")))
      SemanticDedup.semanticIncrement(batch, "vec_id", "embedding",
          index, cents, "centroid_id", "cvec", tau = 0.9)
        .orderBy("vec_id")
    }, oracle =
      // Incremental semantic dedup: same nearest-centroid assignment CTE
      // shape as q_semantic_dedup (row_number over csim DESC, cid = the
      // codegen argmax's lowest-id tie-break), applied to corpus and
      // batch separately; corpus-hit takes min corpus id, batch-hit min
      // lower batch id, both cell-confined.
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250),
         |batch AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 250
         |  UNION ALL
         |  SELECT vec_id + 20000 AS vec_id, embedding FROM embeddings WHERE vec_id < 50
         |  UNION ALL
         |  SELECT vec_id + 30000 AS vec_id, embedding FROM embeddings WHERE vec_id >= 250 AND vec_id < 300
         |),
         |casg AS (
         |  SELECT vec_id, embedding, cid AS cell_id FROM (
         |    SELECT v.vec_id, v.embedding, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${dCosine("v.embedding", "c.cv")} DESC, c.cid) AS rn
         |    FROM corpus v, c) WHERE rn = 1
         |),
         |basg AS (
         |  SELECT vec_id, embedding, cid AS cell_id FROM (
         |    SELECT v.vec_id, v.embedding, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${dCosine("v.embedding", "c.cv")} DESC, c.cid) AS rn
         |    FROM batch v, c) WHERE rn = 1
         |),
         |corpus_hit AS (
         |  SELECT b.vec_id, min(x.vec_id) AS corpus_of
         |  FROM basg b JOIN casg x ON b.cell_id = x.cell_id
         |  WHERE ${dCosine("b.embedding", "x.embedding")} >= 0.9
         |  GROUP BY 1
         |),
         |batch_hit AS (
         |  SELECT y.vec_id, min(x.vec_id) AS batch_of
         |  FROM basg y JOIN basg x ON y.cell_id = x.cell_id AND x.vec_id < y.vec_id
         |  WHERE ${dCosine("x.embedding", "y.embedding")} >= 0.9
         |  GROUP BY 1
         |)
         |SELECT b.vec_id, b.cell_id,
         |       CASE WHEN ch.corpus_of IS NOT NULL THEN 'dup_corpus'
         |            WHEN bh.batch_of IS NOT NULL THEN 'dup_batch'
         |            ELSE 'new' END AS status,
         |       coalesce(ch.corpus_of, bh.batch_of) AS dup_of
         |FROM basg b LEFT JOIN corpus_hit ch ON b.vec_id = ch.vec_id
         |LEFT JOIN batch_hit bh ON b.vec_id = bh.vec_id
         |ORDER BY b.vec_id""".stripMargin),

    // The increment at the PRODUCTION shape — the daily-ingest twin of
    // q_semantic_dedup_scaled: size-derived codebook (|C| = ⌊√N⌋ over
    // the embeddings table, both engines), two-level assignment
    // (|S| = ⌊√|C|⌋ head supers) on BOTH the persisted index and the
    // new batch (parameter-drift discipline: index and probe must
    // share the assignment recipe, or cells disagree silently), and
    // both probe joins OR-confined to the same two sign-LSH bands —
    // index bucket bits recomputed from stored vectors at probe time.
    // Same planted-dup layout as q_semantic_increment; the oracle
    // replays hier argmax + bucket folds for corpus and batch alike.
    Q("q_semantic_increment_scaled", (s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val nCents = math.max(1L, math.floor(math.sqrt(base.count().toDouble)).toLong)
      val nSupers = math.max(1L, math.floor(math.sqrt(nCents.toDouble)).toLong)
      val cents = base.filter(col("vec_id") < nCents)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      def planesIn(lo: Long, hi: Long) = base
        .filter(col("vec_id") >= lo && col("vec_id") < hi).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0)).toSeq
      val corpus = base.filter(col("vec_id") < 250)
      val index = Ann.assignCellsHier(corpus, "vec_id", "embedding",
        cents, "centroid_id", "cvec", nSupers = nSupers.toInt)
      val batch = base.filter(col("vec_id") >= 250)
        .unionByName(base.filter(col("vec_id") < 50)
          .select((col("vec_id") + 20000).as("vec_id"), col("embedding")))
        .unionByName(base.filter(col("vec_id") >= 250 && col("vec_id") < 300)
          .select((col("vec_id") + 30000).as("vec_id"), col("embedding")))
      SemanticDedup.semanticIncrement(batch, "vec_id", "embedding",
          index, cents, "centroid_id", "cvec", tau = 0.9,
          nSupers = nSupers.toInt, bands = Seq(planesIn(0, 2), planesIn(2, 4)))
        .orderBy("vec_id")
    }, oracle =
      // The increment at the production recipe: corpus index AND batch
      // both routed through the two-level argmax, both probe joins
      // OR-confined to the two bands — the daily-ingest twin of
      // q_semantic_dedup_scaled, hash-gated with the same CTE blocks.
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250),
         |batch AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 250
         |  UNION ALL
         |  SELECT vec_id + 20000 AS vec_id, embedding FROM embeddings WHERE vec_id < 50
         |  UNION ALL
         |  SELECT vec_id + 30000 AS vec_id, embedding FROM embeddings WHERE vec_id >= 250 AND vec_id < 300
         |),
         |$semanticHierHeadCtes,
         |${semanticHierAssignCtes("corpus", "casg")},
         |${semanticHierAssignCtes("batch", "basg")},
         |corpus_hit AS (
         |  SELECT b.vec_id, min(x.vec_id) AS corpus_of
         |  FROM basg b JOIN casg x ON b.cell_id = x.cell_id
         |   AND (b.lb0 = x.lb0 OR b.lb1 = x.lb1)
         |  WHERE ${dCosine("b.embedding", "x.embedding")} >= 0.9
         |  GROUP BY 1
         |),
         |batch_hit AS (
         |  SELECT y.vec_id, min(x.vec_id) AS batch_of
         |  FROM basg y JOIN basg x ON y.cell_id = x.cell_id AND x.vec_id < y.vec_id
         |   AND (y.lb0 = x.lb0 OR y.lb1 = x.lb1)
         |  WHERE ${dCosine("x.embedding", "y.embedding")} >= 0.9
         |  GROUP BY 1
         |)
         |SELECT b.vec_id, b.cell_id,
         |       CASE WHEN ch.corpus_of IS NOT NULL THEN 'dup_corpus'
         |            WHEN bh.batch_of IS NOT NULL THEN 'dup_batch'
         |            ELSE 'new' END AS status,
         |       coalesce(ch.corpus_of, bh.batch_of) AS dup_of
         |FROM basg b LEFT JOIN corpus_hit ch ON b.vec_id = ch.vec_id
         |LEFT JOIN batch_hit bh ON b.vec_id = bh.vec_id
         |ORDER BY b.vec_id""".stripMargin),

    // Exact per-clique semantic canonicalization — the composition the
    // SemanticDedup.dedup scaladoc prescribes over its per-tau-path
    // approximation: same-cell tau-pairs → connected components →
    // min-id canonical per clique. Planted copies of vectors 0-39
    // (+20000) and second copies of 0-19 (+40000) make cliques of size
    // 2 AND 3, so transitive closure is exercised, not just pairing.
    Q("q_semantic_clusters", (s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      val vecs = base
        .unionByName(base.filter(col("vec_id") < 40)
          .select((col("vec_id") + 20000).as("vec_id"), col("embedding")))
        .unionByName(base.filter(col("vec_id") < 20)
          .select((col("vec_id") + 40000).as("vec_id"), col("embedding")))
      val prs = SemanticDedup.pairs(vecs, "vec_id", "embedding",
        cents, "centroid_id", "cvec", tau = 0.9)
      val cl = Dedup.clusters(prs)
      vecs.select("vec_id")
        .join(cl, vecs("vec_id") === cl("id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
        .withColumn("is_canonical", col("cluster_id") === col("vec_id"))
        .orderBy("vec_id")
    }, oracle =
      // Semantic clusters: assignment CTE + same-cell tau-pairs, then the
      // same recursive-CTE transitive closure as q_dedup_clusters.
      s"""WITH RECURSIVE c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |v AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 20000 AS vec_id, embedding FROM embeddings WHERE vec_id < 40
         |  UNION ALL
         |  SELECT vec_id + 40000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20
         |),
         |asg AS (
         |  SELECT vec_id, embedding, cid AS cell_id FROM (
         |    SELECT v.vec_id, v.embedding, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${dCosine("v.embedding", "c.cv")} DESC, c.cid) AS rn
         |    FROM v, c) x WHERE rn = 1
         |),
         |pr AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |  WHERE ${dCosine("a.embedding", "b.embedding")} >= 0.9
         |),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pr
         |      UNION SELECT id_b, id_a FROM pr),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
         |),
         |cl AS (SELECT src AS vec_id, min(dst) AS mr FROM reach GROUP BY src)
         |SELECT v.vec_id,
         |       least(v.vec_id, coalesce(cl.mr, v.vec_id)) AS cluster_id,
         |       (least(v.vec_id, coalesce(cl.mr, v.vec_id)) = v.vec_id) AS is_canonical
         |FROM v LEFT JOIN cl ON v.vec_id = cl.vec_id
         |ORDER BY v.vec_id""".stripMargin),
  )
}
