package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{cosine, cosineGiven, l2Norm}

/** Embedding-space semantic deduplication (the SemDeDup recipe,
  * Abbas et al. 2023): cluster the corpus with a small coarse codebook,
  * then prune near-duplicate pairs WITHIN each cluster only — the
  * cluster assignment confines the quadratic pairwise term exactly the
  * way LSH banding confines MinHash.
  *
  * Scale posture (the same two knobs that carry the graph ANN build to
  * the √N codebook — [[Ann.assignCellsHier]] and
  * [[Ann.knnGraphLshBanded]]'s banding — wired in here because a 100 TB
  * pipeline hits semantic dedup on every ingest):
  *  - assignment is [[Ann.assignCellsMulti]] (one codegen'd map-only
  *    `NearestCells` scan, zero shuffle), flat by default: N·|C|
  *    dots — fine for fixed small codebooks but N^1.5 at the production
  *    |C| = ⌊√N⌋. Passing `nSupers` > 0 routes it two-level, as
  *    [[Ann.assignCellsHier]] does: |S| + p·|C|/|S| dots per row
  *    (~2·N^0.25 at |S| = ⌊√|C|⌋), still map-only, still deterministic
  *    at both levels so a SQL oracle replays every cell id;
  *  - the pairwise stage is an equi-join on `cell_id` (hash join, never
  *    a cartesian) so only same-cell vectors are ever scored — but the
  *    in-cell term is Σ|cell|² = N^1.5 rows at the √N codebook. Passing
  *    `bands` (deterministic sign-LSH plane bands, e.g.
  *    [[Ann.centeredPlaneBands]] or data-row planes) further confines
  *    each pair join to (cell_id, band-bucket) keys with MinHash-style
  *    OR-amplification across bands: a tau-pair is scored when ANY
  *    band's sign bits fully agree, bounding the candidate set by the
  *    largest cell×bucket block at ~R/2^b of the unconfined Σ|cell|².
  *    Candidate LOSS is the standard LSH trade (exact copies always
  *    agree on every band; near-dups miss with probability (1−p^b)^R) —
  *    recall-gate the band recipe on a real workload before shipping,
  *    the [[GraphIndex.buildServing]] discipline;
  *  - without `bands`, size the codebook so cells hold ~thousands of
  *    vectors and split any residual hot cell by a secondary key the
  *    way [[Dedup.jaccardPairs]] caps hot shingles;
  *  - `cellProbes` > 1 recovers the recipe's inherent blind spot —
  *    pairs that STRADDLE a coarse-cell boundary are never scored by
  *    the published SemDeDup confinement (measured on the real PMC
  *    corpus: 111/200 planted near-dup pairs lost to the boundary
  *    alone, SCALE.md "Confined-pair recall") — by joining each
  *    vector's top-p cells ([[Ann.assignCellsMulti]]) against the
  *    others' PRIMARY cell, both directions normalized: a pair is a
  *    candidate when either side's primary is among the other's
  *    probes. The EXPLODED side is ≤ p rows per vector, but the PAIR
  *    term is p×-bounded only when probe mass distributes like
  *    primary mass — on real embedding spaces runner-up choices
  *    concentrate on hub cells and blow past it (measured on PMC:
  *    unbounded p=2 cost 28× the confined build for recall
  *    0.445→0.965). `probeMargin` is the cost lever: emit a runner-up
  *    probe only when its sim is within the margin of the primary's,
  *    confining the explosion to BOUNDARY vectors — the only ones
  *    whose pairs the single-cell build can lose (PMC margin sweep in
  *    SCALE.md). `probeCellCap` bounds residual hub-cell inflow as a
  *    TRUE cap: a cell keeps its `cap` lowest-gap runner-up probes and
  *    drops the rest (graceful recall degradation; see probeSide).
  *    p = 1 reproduces the confined build exactly. Under
  *    two-level routing the probe
  *    breadth is bounded by the probed supers' MEMBER sets — a pair
  *    straddling a SUPER boundary needs `superProbes` ≥ 2 as well
  *    (SemanticDedupSpec pins the coupling); at the production
  *    |C|/|S| ≈ √|C| cells per super the member sets are wide and
  *    cellProbes alone carries most of the recovery.
  *
  * Keep/drop rule (deterministic, engine-portable): a vector is dropped
  * iff ANY same-cell vector with a LOWER id — kept or itself dropped —
  * has cosine ≥ tau; `dup_of` is the lowest such id, which may
  * therefore point at a dropped vector. This is deliberately NOT the
  * sequential greedy exemplar scan of the SemDeDup paper (drop iff
  * within tau of a KEPT lower-id vector): on a similarity chain
  * a→b→c with cos(a,b) ≥ tau, cos(b,c) ≥ tau, cos(a,c) < tau, the
  * greedy scan keeps c (its only kept predecessor a is far), while this
  * rule drops it (b is a lower-id near-neighbor, kept or not) — i.e. it
  * prunes one vector per tau-PATH, not per tau-clique, and over-prunes
  * relative to the paper on chains (SemanticDedupSpec pins this).
  * Chosen because it is one join + one aggregate that Catalyst
  * parallelizes freely and any SQL engine can replay (the DuckDB
  * oracle), whereas the greedy scan is an inherently sequential
  * per-cell fold. For exact per-clique canonicals, feed tau-pairs into
  * [[Dedup.clusters]] and keep each cluster's min id.
  */
object SemanticDedup {

  /** Flat or two-level cell assignment ([[Ann.assignCellsMulti]]; `nSupers`
    * > 0 selects two-level routing, see the object Scaladoc), normalized
    * to (_id, _vec, cell_id). At `cellProbes` > 1 the multi-probe
    * assignment rides along as a `cell_ids` array (probe order; head =
    * the primary cell, identical to the single-probe assignment
    * bit-for-bit). */
  private def assign(vecs: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, cIdCol: String, cVecCol: String,
                     nSupers: Int, superProbes: Int,
                     superVecs: Seq[Seq[Double]],
                     cellProbes: Int = 1,
                     probeMargin: Double = Double.PositiveInfinity): DataFrame = {
    val a = Ann.assignCellsMulti(vecs, idCol, vecCol, centroids, cIdCol, cVecCol,
        cellProbes, nSupers, superProbes, superVecs, probeMargin)
      .select(col(idCol).as("_id"), col(vecCol).as("_vec"), col("cell_id"), col("cell_ids"))
    if (cellProbes > 1) a else a.drop("cell_ids")
  }

  /** Derive `probeMargin` from the corpus's OWN argmax-gap
    * distribution instead of guessing an absolute number: the margin
    * that makes (about) the `boundaryFrac` closest-to-a-boundary
    * fraction of vectors emit a runner-up probe is exactly the
    * `boundaryFrac`-quantile of cell_gap = cos(primary) −
    * cos(runner-up) ([[Ann.assignCellGaps]] — one codegen'd map-only
    * pass, the scan the assignment already pays). boundaryFrac = 0.1
    * reads as "probe the boundary decile". The quantile is Spark's
    * EXACT `percentile` (≡ DuckDB quantile_cont, linear-interpolated —
    * oracle-replayable, the q_length_quantiles precedent) UP TO
    * `exactQuantileMaxRows` input vectors; past it the derivation
    * AUTO-SWITCHES to `percentile_approx` (bounded KLL-style sketch
    * buffer) instead of letting the exact aggregate's buffer — which
    * grows with distinct gap values — OOM an executor at the 10^9-row
    * regime. The switch is enforced, not advisory (the hot()/idBloom
    * refuse-or-degrade discipline): the margin is a cost knob, not a
    * correctness bound — ANY value is CORRECT, the quantile only sizes
    * the probe set — so a sketched quantile degrades probe-set sizing
    * precision, never results. The row gate reads `vecs.count()` (one
    * column-pruned scan; the gap pass itself is not recomputed).
    * Infinity gaps (single-cell codebooks) order above every finite
    * gap, so they never drag the quantile down on the exact path; the
    * approx path folds them to Double.MaxValue first (the sketch's
    * rank arithmetic differences values, and Inf − Inf is NaN) —
    * order is preserved.
    *
    * What the fraction BUYS is a property of the embedding space, not
    * of this API — measured on PMC TF-IDF (SCALE.md r16 table): the
    * gap CDF concentrates near zero (median 0.0047, CDF(0.05) =
    * 0.996) and lost near-dup pairs spread across the whole (0, 0.05]
    * range, so low fractions recover little recall there (0.465 at
    * frac 0.25; the recall-0.95 margin corresponds to frac ≈ 0.996 ≈
    * unbounded top-p). Treat the fraction as the exact COST bound it
    * is (probe-side rows inflate by ≤ frac), and measure
    * recall-per-fraction per corpus before shipping a low one. */
  /** Above this many input vectors [[deriveProbeMargin]] switches from
    * the exact `percentile` to `percentile_approx`: the exact
    * aggregate buffers every distinct gap double (~10^7 rows ≈ 100s of
    * MB in one buffer — tolerable; 10^9 ≈ tens of GB — an executor
    * OOM), while the sketch's buffer is bounded by its accuracy. */
  val DefaultExactQuantileMaxRows: Long = 10L * 1000 * 1000

  def deriveProbeMargin(vecs: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, cIdCol: String, cVecCol: String,
                        boundaryFrac: Double, nSupers: Int = 0,
                        superProbes: Int = 1,
                        superVecs: Seq[Seq[Double]] = Nil,
                        exactQuantileMaxRows: Long = DefaultExactQuantileMaxRows): Double = {
    require(boundaryFrac >= 0.0 && boundaryFrac <= 1.0,
      s"deriveProbeMargin: boundaryFrac=$boundaryFrac must be in [0, 1]")
    val gaps = Ann.assignCellGaps(vecs, idCol, vecCol,
      centroids, cIdCol, cVecCol, nSupers, superProbes, superVecs)
    // the gate reads the INPUT's row count (column-pruned scan), not the
    // gap frame's — counting gaps would re-pay the argmax pass
    val m =
      if (vecs.count() <= exactQuantileMaxRows)
        gaps.agg(expr(s"percentile(cell_gap, $boundaryFrac)")).head().getDouble(0)
      else
        gaps.select(
            // fold +Inf (single-cell codebook rows) to MaxValue: the
            // sketch differences ranks and Inf − Inf is NaN; order is
            // preserved so the quantile is unaffected
            when(col("cell_gap") === Double.PositiveInfinity, lit(Double.MaxValue))
              .otherwise(col("cell_gap")).as("cell_gap"))
          .agg(expr(s"percentile_approx(cell_gap, $boundaryFrac, 10000)"))
          .head().getDouble(0)
    require(!m.isNaN, "deriveProbeMargin: empty corpus — no gap distribution")
    m
  }

  /** The x-side frame of a multi-probe pair join: each vector repeated
    * once per probed cell (`cell_ids` exploded into `cell_id` — ≤ p
    * rows per vector, fewer under a finite probeMargin), so a pair
    * meets whenever EITHER vector's primary cell is among the other's
    * probes; the anchor side stays primary. See the object scaladoc
    * for the honest cost model (hub-cell concentration, the margin
    * lever). Identity at cellProbes = 1.
    *
    * `probeCellCap` bounds HUB-CELL skew the way [[Dedup.jaccardPairs]]'
    * maxDf bounds hot shingles: runner-up probe mass concentrates on a
    * few hub cells on real embedding spaces (measured on PMC — the 27×
    * blowup). It is a TRUE cap since r17: a cell whose runner-up inflow
    * exceeds `probeCellCap` keeps the `probeCellCap` LOWEST-GAP probes
    * into it (gap = cos(primary) − cos(this cell), the boundary-
    * closeness number — ties broken by `_id` for determinism) and drops
    * the rest, so recall degrades gracefully as inflow crosses the
    * threshold instead of falling discontinuously to the confined
    * baseline (the r16 drop-all shape). Primary rows are never touched
    * — the confined baseline is always intact — and the recall trade
    * stays one-directional and explicit: a dropped boundary pair into a
    * capped hub is then caught only if the HUB vector's own probes
    * reach back out. Cost, paid only when the cap is finite AND binding:
    * one map-side-combinable count over the exploded frame, a ≤|C|-row
    * broadcast hub set, two broadcast centroid joins + a per-hub-cell
    * rank window over ONLY the hub-bound runner-up rows (≤ inflow
    * rows, never the whole frame). */
  private def probeSide(keyed: DataFrame, cellProbes: Int,
                        probeCellCap: Int,
                        centroids: DataFrame, cIdCol: String,
                        cVecCol: String): DataFrame =
    if (cellProbes <= 1) keyed
    else {
      val exploded = keyed.drop("cell_id")
        .withColumn("cell_id", explode(col("cell_ids")))
      if (probeCellCap == Int.MaxValue) exploded
      else {
        require(probeCellCap >= 0, s"probeCellCap=$probeCellCap must be >= 0")
        val isPrimary = col("cell_id") === element_at(col("cell_ids"), 1)
        val hubs = exploded.filter(!isPrimary)
          .groupBy("cell_id").agg(count(lit(1)).as("_nprobes"))
          .filter(col("_nprobes") > probeCellCap)
          .select(col("cell_id"), lit(true).as("_hub"))
        val tagged = exploded.join(broadcast(hubs), Seq("cell_id"), "left")
        val kept = tagged.filter(isPrimary || col("_hub").isNull).drop("_hub")
        if (probeCellCap == 0) kept
        else {
          // hub-bound runner-ups: rank by the probe's own argmax gap
          // (recomputed from the codebook — two broadcast joins of the
          // ≤|C|-row centroid table) and keep the cap lowest per cell
          val probeCents = broadcast(centroids.select(
            col(cIdCol).as("_cap_cid"),
            col(cVecCol).cast("array<double>").as("_cap_cvec")))
          val primCents = broadcast(centroids.select(
            col(cIdCol).as("_cap_pid"),
            col(cVecCol).cast("array<double>").as("_cap_pvec")))
          val ranked = tagged.filter(!isPrimary && col("_hub").isNotNull).drop("_hub")
            .join(probeCents, col("cell_id") === col("_cap_cid"))
            .join(primCents, element_at(col("cell_ids"), 1) === col("_cap_pid"))
            .withColumn("_cap_gap",
              cosine(col("_vec"), col("_cap_pvec")) - cosine(col("_vec"), col("_cap_cvec")))
            .withColumn("_cap_rank", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("cell_id"))
                .orderBy(col("_cap_gap"), col("_id"))))
            .filter(col("_cap_rank") <= probeCellCap)
            .drop("_cap_cid", "_cap_cvec", "_cap_pid", "_cap_pvec",
              "_cap_gap", "_cap_rank")
          kept.unionByName(ranked)
        }
      }
    }

  /** Attach one deterministic sign-LSH bucket column per band
    * (`_sb0`..`_sbR-1`) to a (_vec, cell_id)-shaped frame — map-only,
    * the [[Ann.knnGraphLshBanded]] bucket fold. */
  private def withBandBuckets(cells: DataFrame,
                              bands: Seq[Seq[Seq[Double]]]): DataFrame =
    bands.zipWithIndex.foldLeft(cells) { case (df, (planes, r)) =>
      df.withColumn(s"_sb$r", Ann.lshBucket(col("_vec"), planes))
    }

  /** The per-band join key sets: bare cell_id when no bands are given,
    * else (cell_id, _sbR) per band — each band joins independently and
    * the union OR-amplifies, exactly [[Ann.knnGraphLshBanded]]. */
  private def keySets(bands: Seq[Seq[Seq[Double]]]): Seq[Seq[String]] =
    if (bands.isEmpty) Seq(Seq("cell_id"))
    else bands.indices.map(r => Seq("cell_id", s"_sb$r"))

  /** vecs(idCol, vecCol) × centroids(cIdCol, cVecCol) → one row per
    * input vector: (idCol, cell_id, is_kept, dup_of). `dup_of` is null
    * for kept vectors. `nSupers`/`superProbes`/`superVecs` select the
    * two-level assignment and `bands` the OR-amplified confinement of
    * the in-cell pair join (object Scaladoc); defaults reproduce the
    * flat, cell-only build bit-for-bit. Band overlap can emit a
    * candidate pair once per agreeing band — min() over the multiset
    * equals min() over the set, so no pre-distinct exchange is paid. */
  def dedup(vecs: DataFrame, idCol: String, vecCol: String,
            centroids: DataFrame, cIdCol: String, cVecCol: String,
            tau: Double, nSupers: Int = 0, superProbes: Int = 1,
            superVecs: Seq[Seq[Double]] = Nil,
            bands: Seq[Seq[Seq[Double]]] = Nil,
            cellProbes: Int = 1,
            probeMargin: Double = Double.PositiveInfinity,
            probeCellCap: Int = Int.MaxValue): DataFrame = {
    // the assignment feeds 2R band-join sides plus the final left join
    // — whenever it is non-trivial (two-level routing, multi-probe) or
    // scanned more than the flat baseline's three times (R > 1 bands),
    // materialize it once instead of re-paying the map-side argmax per
    // scan (semanticIncrement's discipline); the flat band-less default
    // keeps its original plan untouched
    val cells0 = assign(vecs, idCol, vecCol, centroids, cIdCol, cVecCol,
      nSupers, superProbes, superVecs, cellProbes, probeMargin)
    val cells =
      if (bands.length > 1 || nSupers > 0 || cellProbes > 1)
        graft.Materialize(cells0)
      else cells0
    val keyed = withBandBuckets(cells, bands)
    val xSide = probeSide(keyed, cellProbes, probeCellCap, centroids, cIdCol, cVecCol)
    // each band's join projects only its own key columns, so the other
    // bands' bucket longs never ride the N^1.5-row in-cell term
    // each side carries its vector's norm, computed ONCE per row in the
    // projection below the join (guide §2.3: shuffle 8 more bytes to
    // stop recomputing an O(d) norm per candidate PAIR in the join
    // condition) — cosineGiven is the same doubles as cosine, so the
    // tau cut is bitwise unchanged
    val candOf = (ks: Seq[String]) => {
      val x = xSide.select(ks.map(col) :+ col("_id").as("_xid")
        :+ col("_vec").as("_xvec") :+ l2Norm(col("_vec")).as("_xn"): _*)
      val y = keyed.select(ks.map(col) :+ col("_id").as("_yid")
        :+ col("_vec").as("_yvec") :+ l2Norm(col("_vec")).as("_yn"): _*)
      val tauHit =
        cosineGiven(col("_xvec"), col("_yvec"), col("_xn"), col("_yn")) >= tau
      if (cellProbes <= 1)
        x.join(y, ks)
          .filter(col("_yid") < col("_xid") && tauHit)
          .select(col("_xid"), col("_yid"))
      else
        // multi-probe: the x side is EXPLODED over its top-p cells and
        // the y side stays PRIMARY, so a boundary pair {a,b} is caught
        // when either's primary is among the other's probes — both
        // directions survive the join, and normalizing each hit to
        // (higher, lower) restores the lower-id dup_of rule; min() over
        // the direction/band/probe-overlap multiset equals min() over
        // the set, so no pre-distinct exchange is paid here either
        x.join(y, ks)
          .filter(col("_yid") =!= col("_xid") && tauHit)
          .select(
            when(col("_xid") > col("_yid"), col("_xid")).otherwise(col("_yid")).as("_xid"),
            when(col("_xid") > col("_yid"), col("_yid")).otherwise(col("_xid")).as("_yid"))
    }
    val dups = keySets(bands).map(candOf).reduce(_ unionByName _)
      .groupBy(col("_xid"))
      .agg(min(col("_yid")).as("dup_of"))
    cells.join(dups, cells("_id") === dups("_xid"), "left")
      .select(col("_id").as(idCol), col("cell_id"),
        col("dup_of").isNull.as("is_kept"), col("dup_of"))
  }

  /** Same-cell tau-pairs (id_a < id_b) — the edge list the Scaladoc of
    * [[dedup]] points at for EXACT per-clique canonicalization: feed
    * these into [[Dedup.clusters]] and keep each component's min id,
    * instead of [[dedup]]'s one-join per-tau-path approximation. Same
    * cell confinement, so the pair term stays Σ|cell|²/2; same optional
    * two-level assignment and banded confinement as [[dedup]] (pairs
    * duplicated by band overlap dedup at matched-pair scale — the
    * distinct runs AFTER the tau filter, so it is output-sized, never
    * candidate-sized). */
  def pairs(vecs: DataFrame, idCol: String, vecCol: String,
            centroids: DataFrame, cIdCol: String, cVecCol: String,
            tau: Double, nSupers: Int = 0, superProbes: Int = 1,
            superVecs: Seq[Seq[Double]] = Nil,
            bands: Seq[Seq[Seq[Double]]] = Nil,
            cellProbes: Int = 1,
            probeMargin: Double = Double.PositiveInfinity,
            probeCellCap: Int = Int.MaxValue): DataFrame = {
    // same materialization rule as dedup: hier routing, R > 1 bands,
    // or multi-probe
    val cells0 = assign(vecs, idCol, vecCol, centroids, cIdCol, cVecCol,
      nSupers, superProbes, superVecs, cellProbes, probeMargin)
    val cells =
      if (bands.length > 1 || nSupers > 0 || cellProbes > 1)
        graft.Materialize(cells0)
      else cells0
    val keyed = withBandBuckets(cells, bands)
    val xSide = probeSide(keyed, cellProbes, probeCellCap, centroids, cIdCol, cVecCol)
    // per-band key projection, like dedup: nothing extra rides the wire
    // per-row norms below the join, one dot per candidate pair — the
    // dedup() discipline, same doubles
    val candOf = (ks: Seq[String]) => {
      val x = xSide.select(ks.map(col) :+ col("_id").as("id_a")
        :+ col("_vec").as("_xvec") :+ l2Norm(col("_vec")).as("_xn"): _*)
      val y = keyed.select(ks.map(col) :+ col("_id").as("id_b")
        :+ col("_vec").as("_yvec") :+ l2Norm(col("_vec")).as("_yn"): _*)
      val tauHit =
        cosineGiven(col("_xvec"), col("_yvec"), col("_xn"), col("_yn")) >= tau
      if (cellProbes <= 1)
        x.join(y, ks)
          .filter(col("id_a") < col("id_b") && tauHit)
          .select(col("id_a"), col("id_b"))
      else
        // multi-probe (see dedup): exploded x side × primary y side,
        // both directions normalized to (id_a < id_b)
        x.join(y, ks)
          .filter(col("id_a") =!= col("id_b") && tauHit)
          .select(
            when(col("id_a") < col("id_b"), col("id_a")).otherwise(col("id_b")).as("id_a"),
            when(col("id_a") < col("id_b"), col("id_b")).otherwise(col("id_a")).as("id_b"))
    }
    val all = keySets(bands).map(candOf).reduce(_ unionByName _)
    // band overlap, probe overlap, and the two normalized directions
    // all repeat pairs; the distinct runs AFTER the tau filter, so it
    // is output-sized, never candidate-sized
    if (bands.length > 1 || cellProbes > 1) all.distinct() else all
  }

  /** Incremental semantic dedup — the daily-increment production shape
    * one tier above [[Dedup.minhashIncrement]]: screen a NEW batch of
    * vectors against the accumulated corpus WITHOUT re-reading corpus
    * text, using only its persisted cell-assigned vector index (the
    * (id, vec, cell_id) shape [[Ann.assignCells]] produces and
    * [[Ann.writeIvfIndex]] persists). Status per new row:
    *  - `dup_corpus`: some same-cell index vector has cosine ≥ tau
    *    (`dup_of` = the lowest such corpus id — corpus wins ties, like
    *    the exact and MinHash tiers);
    *  - `dup_batch`: no corpus hit, but a lower-id same-cell batch
    *    vector is tau-close (`dup_of` = the lowest such id);
    *  - `new`: neither.
    * Like [[dedup]], the probe is CELL-CONFINED — a tau-close pair whose
    * vectors fall in different coarse cells is not flagged (SemDeDup's
    * confinement approximation, which is what keeps the pairwise term
    * off the full corpus).
    *
    * Parameter-drift guard (the failure mode the MinHash tier hit): an
    * index built with a DIFFERENT codebook than the probe's assigns the
    * same vector to different cells, so probes silently miss — every doc
    * reports 'new' and the audit corrupts without signal. Index cell ids
    * are therefore validated against the probe codebook inline in the
    * projected column (not a separate check Catalyst could prune away):
    * any index cell_id that is not a centroid id raises.
    *
    * Scale shape: assignment is the codegen map-only argmax (two-level
    * when `nSupers` > 0, like [[dedup]]); both probes are equi-joins on
    * cell_id (hash joins — same-cell vectors only, never all-pairs),
    * further confined to (cell_id, band-bucket) keys with OR-
    * amplification when `bands` is given — index bucket columns are
    * recomputed from the stored vectors at probe time, so the store
    * needs no extra columns; the centroid-id set broadcasts. On a
    * `partitionBy(cell_id)` store, a batch touching few cells reads few
    * partitions. */
  def semanticIncrement(newVecs: DataFrame, idCol: String, vecCol: String,
                        existingIndex: DataFrame,
                        centroids: DataFrame, cIdCol: String, cVecCol: String,
                        tau: Double, nSupers: Int = 0, superProbes: Int = 1,
                        superVecs: Seq[Seq[Double]] = Nil,
                        bands: Seq[Seq[Seq[Double]]] = Nil,
                        cellProbes: Int = 1,
                        probeMargin: Double = Double.PositiveInfinity,
                        probeCellCap: Int = Int.MaxValue): DataFrame = {
    val assigned = graft.Materialize(
      assign(newVecs, idCol, vecCol, centroids, cIdCol, cVecCol,
        nSupers, superProbes, superVecs, cellProbes, probeMargin))
    val cellType = existingIndex.schema(existingIndex.schema.fieldIndex("cell_id")).dataType
    val known = centroids.select(col(cIdCol).as("cell_id"))
      .withColumn("_known", lit(true))
    val guardedIdx = existingIndex
      .select(col("cell_id"), col(idCol).as("_cid"), col(vecCol).as("_cvec"))
      .join(broadcast(known), Seq("cell_id"), "left")
      .select(
        when(col("_known"), col("cell_id"))
          .otherwise(raise_error(concat(
            lit("semanticIncrement: index cell_id "), col("cell_id").cast("string"),
            lit(" is not a centroid id — the vector index was built with a " +
              "different codebook than this probe"))).cast(cellType))
          .as("cell_id"),
        col("_cid"), col("_cvec"))
    val batchKeyed = withBandBuckets(assigned, bands)
    // multi-probe: the BATCH side explodes over its top-p cells — the
    // corpus index stores PRIMARY cells only, so the corpus probe
    // catches index rows whose stored cell is among the batch row's
    // probes (one-sided by construction: a boundary pair whose batch
    // vector's probes miss the corpus vector's cell stays unflagged —
    // widening p narrows that set; the index never re-assigns)
    val batchProbed = probeSide(batchKeyed, cellProbes, probeCellCap, centroids, cIdCol, cVecCol)
    val idxKeyed = bands.zipWithIndex.foldLeft(guardedIdx) {
      case (df, (planes, r)) =>
        df.withColumn(s"_sb$r", Ann.lshBucket(col("_cvec"), planes))
    }
    // min() over the band/probe-overlap multiset equals min() over the
    // set — no pre-distinct exchange needed in either probe; each
    // band's join projects only its own key columns so nothing extra
    // rides the wire. Both probes carry per-row norms below the join
    // so the tau test is ONE dot per candidate pair (the dedup()
    // discipline — same doubles via cosineGiven).
    val corpusCandOf = (ks: Seq[String]) =>
      batchProbed.select((ks.map(col) :+ col("_id") :+ col("_vec")
          :+ l2Norm(col("_vec")).as("_bn")): _*)
        .join(idxKeyed.select((ks.map(col) :+ col("_cid") :+ col("_cvec")
          :+ l2Norm(col("_cvec")).as("_in")): _*), ks)
        .filter(cosineGiven(col("_vec"), col("_cvec"), col("_bn"), col("_in")) >= tau)
        .select(col("_id"), col("_cid"))
    val corpusHit = keySets(bands).map(corpusCandOf).reduce(_ unionByName _)
      .groupBy(col("_id"))
      .agg(min(col("_cid")).as("_corpus_of"))
    val batchCandOf = (ks: Seq[String]) => {
      val l = batchProbed.select(ks.map(col) :+ col("_id").as("_ida")
        :+ col("_vec").as("_va") :+ l2Norm(col("_vec")).as("_na"): _*)
      val r = batchKeyed.select(ks.map(col) :+ col("_id").as("_idb")
        :+ col("_vec").as("_vb") :+ l2Norm(col("_vec")).as("_nb"): _*)
      val tauHit = cosineGiven(col("_va"), col("_vb"), col("_na"), col("_nb")) >= tau
      if (cellProbes <= 1)
        l.join(r, ks)
          .filter(col("_ida") < col("_idb") && tauHit)
          .select(col("_ida"), col("_idb"))
      else
        // exploded l side × primary r side, both directions normalized
        // to (_ida < _idb) — the dedup() multi-probe shape
        l.join(r, ks)
          .filter(col("_ida") =!= col("_idb") && tauHit)
          .select(
            when(col("_ida") < col("_idb"), col("_ida")).otherwise(col("_idb")).as("_ida"),
            when(col("_ida") < col("_idb"), col("_idb")).otherwise(col("_ida")).as("_idb"))
    }
    val batchHit = keySets(bands).map(batchCandOf).reduce(_ unionByName _)
      .groupBy(col("_idb"))
      .agg(min(col("_ida")).as("_batch_of"))
    assigned.select(col("_id"), col("cell_id"))
      .join(corpusHit, Seq("_id"), "left")
      .join(batchHit.withColumnRenamed("_idb", "_id"), Seq("_id"), "left")
      .select(col("_id").as(idCol), col("cell_id"),
        when(col("_corpus_of").isNotNull, "dup_corpus")
          .when(col("_batch_of").isNotNull, "dup_batch")
          .otherwise("new").as("status"),
        coalesce(col("_corpus_of"), col("_batch_of")).as("dup_of"))
  }

  /** Embedding-space benchmark decontamination — the semantic
    * complement of [[Dedup.contamination]]: n-gram overlap misses
    * paraphrased or lightly-rewritten eval items; cosine against the
    * benchmark's embeddings catches them. Flags every corpus vector
    * whose cosine vs ANY benchmark vector is ≥ tau, returning
    * (idCol, n_bench_hits, max_sim, worst_bench_id) for flagged rows —
    * worst_bench_id is the highest-similarity benchmark item (ties to
    * the lowest id), i.e. the item to cite when quarantining the doc.
    *
    * Scale shape: benchmark suites are tiny next to a 100 TB corpus,
    * so the bench side BROADCASTS and the corpus side is one map-only
    * pass (broadcast nested-loop fan-out, |bench| cosines per doc)
    * into a partial-aggregable per-doc reduction — the only shuffle
    * carries (id, hits, max) for FLAGGED docs, a contamination-rate
    * fraction of the corpus. Pre-filter the bench side with LSH/IVF
    * cells to cut the per-doc fan-out when |bench| grows. */
  def contamination(corpus: DataFrame, bench: DataFrame,
                    idCol: String, vecCol: String,
                    benchIdCol: String, benchVecCol: String,
                    tau: Double): DataFrame = {
    // norms below the join (corpus side once per row, bench side once
    // per broadcast row) — the per-pair fan-out pays ONE dot, and
    // cosineGiven reproduces cosine's doubles bitwise
    val c = corpus.select(col(idCol), col(vecCol).as("_cv"),
      l2Norm(col(vecCol)).as("_cn"))
    val b = bench.select(col(benchIdCol).as("_bid"), col(benchVecCol).as("_bv"),
      l2Norm(col(benchVecCol)).as("_bn"))
    c.crossJoin(broadcast(b))
      .withColumn("_sim", cosineGiven(col("_cv"), col("_bv"), col("_cn"), col("_bn")))
      .filter(col("_sim") >= tau)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bench_hits"),
        max(col("_sim")).as("max_sim"),
        // argmax with ties to the LOWEST bench id — min_by/max_by is
        // partial-aggregable (each map task reduces before the shuffle),
        // unlike a row_number window over all scored pairs. The key
        // negates the SIM (always numeric), not the bench id, so string
        // ids order correctly too instead of failing analysis on a cast
        min_by(col("_bid"), struct((-col("_sim")).as("s"), col("_bid").as("t")))
          .as("worst_bench_id"))
  }

  /** [[contamination]] at the scale its own scaladoc warns about —
    * when the BENCH side grows (many eval suites, held-out shards,
    * canary sets: 10^5-10^6 items), the broadcast fan-out is |bench|
    * cosines per corpus doc, corpus-wide. This is the prescribed
    * cell prefilter: both sides assign under the SAME codebook (bench
    * PRIMARY cell, corpus its top-`cellProbes` cells within
    * `probeMargin` — [[dedup]]'s boundary-recovery discipline, which
    * matters MORE here because a missed bench item is silent eval
    * leakage), candidates are the cell-sharing pairs (an equi-join on
    * cell_id — per-doc fan-out drops from |bench| to the probed
    * cells' bench counts), and the per-doc reduction is
    * [[contamination]]'s exactly. A corpus row's probed cells are
    * distinct, and a bench row has one primary cell, so each
    * (doc, bench) pair joins AT MOST ONCE — counts need no distinct.
    * Candidate loss is the cell boundary on the BENCH side of each
    * pair (a tau-close bench item whose primary cell the doc doesn't
    * probe); widen cellProbes to trade compute for recall. The join
    * is deliberately un-hinted: a truly large bench side should
    * shuffle-hash on cell_id, and a small one will broadcast on its
    * own statistics. */
  def contaminationConfined(corpus: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String,
                            benchIdCol: String, benchVecCol: String,
                            centroids: DataFrame, cIdCol: String, cVecCol: String,
                            tau: Double, cellProbes: Int = 1,
                            probeMargin: Double = Double.PositiveInfinity,
                            nSupers: Int = 0, superProbes: Int = 1,
                            superVecs: Seq[Seq[Double]] = Nil,
                            probeCellCap: Int = Int.MaxValue): DataFrame = {
    val cAssigned = assign(corpus, idCol, vecCol, centroids, cIdCol, cVecCol,
      nSupers, superProbes, superVecs, cellProbes, probeMargin)
    // per-row norms below the cell join — one dot per candidate pair,
    // same doubles (the contamination() discipline)
    val cSide = probeSide(cAssigned, cellProbes, probeCellCap, centroids, cIdCol, cVecCol)
      .select(col("_id").as(idCol), col("_vec").as("_cv"),
        l2Norm(col("_vec")).as("_cn"), col("cell_id"))
    val bSide = assign(bench, benchIdCol, benchVecCol,
        centroids, cIdCol, cVecCol, nSupers, superProbes, superVecs)
      .select(col("_id").as("_bid"), col("_vec").as("_bv"),
        l2Norm(col("_vec")).as("_bn"), col("cell_id"))
    cSide.join(bSide, "cell_id")
      .withColumn("_sim", cosineGiven(col("_cv"), col("_bv"), col("_cn"), col("_bn")))
      .filter(col("_sim") >= tau)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bench_hits"),
        max(col("_sim")).as("max_sim"),
        min_by(col("_bid"), struct((-col("_sim")).as("s"), col("_bid").as("t")))
          .as("worst_bench_id"))
  }
}
