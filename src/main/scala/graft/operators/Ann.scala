package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate nearest-neighbor search over an embedding column — the
  * Spark-native analog of the reference's OpenSearch HNSW index
  * (app/main.py:262-283: hnsw, m=64, ef_construction=500, cosinesimil).
  *
  * HNSW is a pointer-chasing in-memory graph — the wrong shape for a
  * shared-nothing scan engine. The Spark-idiomatic scale path is
  * partition-pruned candidate generation:
  *
  *  - IVF: k-means-style coarse cells; write the index
  *    `partitionBy(cell_id)` so a query reading `nprobe` cells scans
  *    nprobe/ncells of the data (partition pruning does the work).
  *  - Sign-random-projection LSH: bucket = sign bits of dot(v, hyperplane);
  *    same-bucket candidates only. Both turn the 100 TB scan into a
  *    small-fraction scan, then re-rank exactly with the codegen'd cosine.
  *
  * Centroids/hyperplanes are taken from the data deterministically (first
  * rows by id) rather than sampled — keeps every result oracle-checkable.
  */
object Ann {

  /** Brute-force exact top-k (the baseline every ANN is judged against).
    * TakeOrderedAndProject: per-partition heap, k-row merge — no shuffle. */
  def bruteForceTopK(index: DataFrame, idCol: String, vecCol: String,
                     queryVec: Seq[Double], k: Int): DataFrame =
    index
      .withColumn("sim", cosine(col(vecCol), lit(queryVec.toArray)))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)

  /** Shared two-tier tail: exact cosine re-rank of a k-bounded id set,
    * read through a pushed-down id filter — one ranking/tie-break
    * discipline for every prefilter ([[truncatedRerank]], [[Sq.searchRerank]]). */
  private[operators] def rerankIds(index: DataFrame, idCol: String, vecCol: String,
                                   queryVec: Seq[Double], k: Int,
                                   candIds: Seq[Any]): DataFrame =
    index
      .filter(col(idCol).isin(candIds: _*))
      .withColumn("sim", cosine(col(vecCol), lit(queryVec.toArray)))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)

  /** Matryoshka-style truncated-dimension two-tier search (Kusupati et
    * al. 2022: nested representations rank well on a prefix of their
    * dimensions): prefilter on the first `prefixDim` components only —
    * a scan that reads prefixDim/d of the vector bytes — then exact
    * full-dimension re-rank of the k-bounded candidate set through a
    * pushed-down id filter. The same two-tier shape as
    * [[Sq.searchRerank]], cutting scan bandwidth by dimension slicing
    * instead of component narrowing; at 100 TB the two compose
    * (int8 × d/4 prefix = 16× less prefilter traffic). With a columnar
    * layout that stores the prefix as its own column the prefilter scan
    * literally never touches the tail bytes. */
  def truncatedRerank(index: DataFrame, idCol: String, vecCol: String,
                      queryVec: Seq[Double], k: Int, candidates: Int,
                      prefixDim: Int): DataFrame = {
    require(candidates >= k, s"truncatedRerank: candidates ($candidates) must be >= k ($k)")
    require(prefixDim > 0 && prefixDim <= queryVec.length,
      s"truncatedRerank: prefixDim $prefixDim out of range for dim ${queryVec.length}")
    val qPrefix = queryVec.take(prefixDim)
    val candIds = index
      .withColumn("_psim", cosine(slice(col(vecCol), 1, prefixDim), lit(qPrefix.toArray)))
      .orderBy(desc("_psim"), col(idCol))
      .limit(candidates)
      .select(idCol).collect().map(_.get(0)).toSeq
    rerankIds(index, idCol, vecCol, queryVec, k, candIds)
  }

  /** Assign each vector to its nearest centroid (max cosine, ties → lowest
    * centroid id). Centroids are small by contract (the coarse-quantizer
    * codebook — at most thousands of rows); collecting them folds the whole
    * argmax into ONE codegen'd map-side projection
    * ([[graft.functions.NearestCells]], one probe) with zero shuffle. The
    * round-1 crossJoin + row_number window form shuffled |index| ×
    * |centroids| scored rows through an Exchange on id — at 100 TB × 1024
    * cells that is 1024× the index through the shuffle for an argmax that
    * every executor can compute locally. Output: input columns + cell_id
    * + cell_sim. */
  def assignCells(index: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, cIdCol: String, cVecCol: String): DataFrame = {
    val cents = collectCentroids(centroids, cIdCol, cVecCol, "assignCells")
    primaryCell(index, vecCol, cents, flatRouting, superProbes = 1)
  }

  /** TWO-LEVEL [[assignCells]] — the coarse-quantizer routing that
    * survives √N codebooks: rows score against the `nSupers` lowest-id
    * centroids first (the super book), then only against the centroids
    * whose own nearest super is that one. Per-row work drops from |C|
    * to |S| + |C|/|S| dots — with the production |C| = ⌊√N⌋ and
    * |S| = ⌊√|C|⌋ that is 2·N^0.25 instead of √N per row (at N = 10^9:
    * ~356 vs ~31 623), which is what keeps the BUILD map-side cost from
    * becoming the next asymptotic bottleneck once the in-cell stages
    * are already √N-confined. Assignment is approximate (a row whose
    * true nearest centroid lives under a different super takes its
    * in-super best — IVF's nprobe=1 trade) but deterministic at both
    * levels ([[graft.functions.NearestCells]] over a super book, with
    * the centroid→super routing precomputed by [[hierRouting]] in the
    * same arithmetic), so a SQL oracle replays every cell id with two
    * windowed argmaxes. Same output contract as [[assignCells]].
    *
    * `superProbes` is FAISS's nprobe at the routing level: argmax over
    * the union of the top-p supers' members — N·(|S| + p·|C|/|S|)
    * work — and `superVecs` drops in a TRAINED super book
    * ([[kmeansRefine]] over the corpus) in place of the head-of-
    * codebook random sample. Both knobs matter, measured on the real
    * PMC corpus (SCALE.md): random supers route sparse TF-IDF vectors
    * badly at ANY probe count (recall@10 0.31-0.51), while TRAINED
    * supers converge to the flat build's recall exactly — 0.31 / 0.69
    * / 0.88 / 0.98 at p=1/2/3/4, with 0.98 = flat at |S|+4·|C|/|S| ≈
    * 69 dots/row vs 181 flat (and ~890 vs ~31.6k at N = 10^9). */
  def assignCellsHier(index: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, cIdCol: String, cVecCol: String,
                      nSupers: Int, superProbes: Int = 1,
                      superVecs: Seq[Seq[Double]] = Nil): DataFrame = {
    val cents = collectCentroids(centroids, cIdCol, cVecCol, "assignCellsHier")
    primaryCell(index, vecCol, cents,
      hierRouting(cents.map(_._2), nSupers, superVecs, "assignCellsHier"), superProbes)
  }

  private[graft] type Routing = (Array[Array[Double]], Array[Array[Int]])

  private val flatRouting: Routing = (Array.empty[Array[Double]], Array.empty[Array[Int]])

  private def collectCentroids(centroids: DataFrame, cIdCol: String,
                               cVecCol: String, what: String): Array[(Any, Array[Double])] = {
    // sorted by centroid id, so the scorer's lowest-index tie-break IS
    // the lowest-centroid-id tie-break (matches the oracle's ordering)
    val cents = centroids.orderBy(col(cIdCol))
      .select(col(cIdCol), col(cVecCol).cast("array<double>"))
      .collect()
      .map(r => (r.get(0), r.getSeq[Double](1).toArray))
    require(cents.nonEmpty, s"$what: empty centroid set")
    cents
  }

  /** The top-`cellProbes` cells of each row, as
    * array<struct<idx, sim>> ([[graft.functions.NearestCells]]). */
  private def nearestCells(vecCol: String, cents: Array[(Any, Array[Double])],
                           routing: Routing, superProbes: Int, cellProbes: Int,
                           probeMargin: Double = Double.PositiveInfinity) = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(graft.functions.NearestCells(expression(col(vecCol).cast("array<double>")),
      cents.map(_._2), routing._1, routing._2, superProbes, cellProbes, probeMargin))
  }

  /** Codebook index → centroid id, for a 1-based `element_at`. */
  private def idLut(cents: Array[(Any, Array[Double])]) =
    array(cents.toIndexedSeq.map(c => lit(c._1)): _*)

  /** [[assignCells]] and [[assignCellsHier]]: the one-probe head. */
  private def primaryCell(index: DataFrame, vecCol: String,
                          cents: Array[(Any, Array[Double])], routing: Routing,
                          superProbes: Int): DataFrame =
    index
      .withColumn("_cell", nearestCells(vecCol, cents, routing, superProbes, 1).getItem(0))
      .withColumn("cell_id", element_at(idLut(cents), col("_cell.idx") + 1))
      .withColumn("cell_sim", col("_cell.sim"))
      .drop("_cell")

  /** The driver-side half of the two-level assignment: pick the super
    * book (trained `superVecs`, or the head-of-codebook sample), route
    * each centroid to its nearest super through the expression's own
    * scorer (|C|·|S| dots, once), and prune memberless supers (trained
    * books can have them — standard k-means cell death; head-of-codebook
    * books can't, every data-row super routes itself). Returns the LIVE
    * (superBook, membersOf) pair. */
  private[graft] def hierRouting(codebook: Array[Array[Double]], nSupers: Int,
                                superVecs: Seq[Seq[Double]], what: String): Routing = {
    val nS = math.min(math.max(nSupers, 1), codebook.length)
    // superVecs, when given, is a TRAINED super book (e.g. a few
    // kmeansRefine rounds over the corpus) — head-of-codebook supers
    // are a deterministic random sample, which on real sparse
    // embedding spaces routes poorly (measured in SCALE.md); a trained
    // coarse quantizer is FAISS's answer and drops in here
    val superBook =
      if (superVecs.nonEmpty) superVecs.map(_.toArray).toArray
      else codebook.take(nS)
    val router = new graft.functions.NearestCells.Scorer(superBook,
      Array.empty, Array.empty, 1, 1, Double.PositiveInfinity, what)
    val membersOf = Array.fill(superBook.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    codebook.indices.foreach(c => membersOf(router.top(codebook(c)).idx(0)) += c)
    val live = superBook.zip(membersOf).filter(_._2.nonEmpty)
    require(live.nonEmpty, s"$what: every super lost its members")
    (live.map(_._1), live.map(_._2.toArray))
  }

  /** Flat routing, or two-level when `nSupers` > 0 — the gate of
    * [[assignCellsMulti]] and [[assignCellGaps]]: `superVecs` alone is
    * inert, matching [[SemanticDedup]]'s flat/hier gate and the
    * `_recipe` canonicalization (which folds superVecs to Nil at
    * nSupers = 0, asserting it affects no cell id). Without this gate a
    * probe batch carrying superVecs against a flat store would pass the
    * recipe guard yet assign under multi-super routing — silently
    * different primaries than the stored flat assignment. */
  private def gatedRouting(codebook: Array[Array[Double]], nSupers: Int,
                           superVecs: Seq[Seq[Double]], what: String): Routing =
    if (nSupers > 0) hierRouting(codebook, nSupers, superVecs, what) else flatRouting

  /** MULTI-PROBE cell assignment — [[assignCells]]/[[assignCellsHier]]
    * generalized to the top-`cellProbes` cells per row
    * ([[graft.functions.NearestCells]]; see its scaladoc for why:
    * cell-confined pair stages lose exactly the pairs that straddle a
    * cell boundary, and probing the runner-up cells recovers them).
    * Output contract: input columns + `cell_ids` (array of centroid
    * ids in probe order — sim desc, centroid id asc) + `cell_id` (its
    * head, which equals the flat/hier primary assignment bit-for-bit).
    * Per-row cost is unchanged by `cellProbes`; `probeMargin` trims
    * runner-up probes to those within the margin of the primary's sim
    * — the cost lever that confines probing to boundary vectors. */
  def assignCellsMulti(index: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame, cIdCol: String, cVecCol: String,
                       cellProbes: Int, nSupers: Int = 0, superProbes: Int = 1,
                       superVecs: Seq[Seq[Double]] = Nil,
                       probeMargin: Double = Double.PositiveInfinity): DataFrame = {
    require(cellProbes >= 1, s"assignCellsMulti: cellProbes=$cellProbes must be >= 1")
    val cents = collectCentroids(centroids, cIdCol, cVecCol, "assignCellsMulti")
    val routing = gatedRouting(cents.map(_._2), nSupers, superVecs, "assignCellsMulti")
    val lut = idLut(cents)
    index
      .withColumn("_probes",
        nearestCells(vecCol, cents, routing, superProbes, cellProbes, probeMargin))
      .withColumn("cell_ids",
        transform(col("_probes"), p => element_at(lut, p.getField("idx") + 1)))
      .withColumn("cell_id", element_at(col("cell_ids"), 1))
      .drop("_probes")
  }

  /** Attach the ARGMAX-GAP column (`cell_gap` = cosine(primary cell) −
    * cosine(runner-up cell), +Infinity with a single candidate; see
    * [[graft.functions.NearestCells]]) — the per-row boundary-closeness
    * number whose DISTRIBUTION derives a principled `probeMargin`
    * ([[SemanticDedup.deriveProbeMargin]]): the margin emits a runner-up
    * probe iff cell_gap <= margin, so the margin that probes "the
    * boundary decile" is exactly the 0.1-quantile of this column. Same
    * routing gate as [[assignCellsMulti]]; one codegen'd map-side
    * projection, zero shuffle. */
  def assignCellGaps(index: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, cIdCol: String, cVecCol: String,
                     nSupers: Int = 0, superProbes: Int = 1,
                     superVecs: Seq[Seq[Double]] = Nil): DataFrame = {
    val cents = collectCentroids(centroids, cIdCol, cVecCol, "assignCellGaps")
    val routing = gatedRouting(cents.map(_._2), nSupers, superVecs, "assignCellGaps")
    val top2 = col("_top2")
    index
      .withColumn("_top2", nearestCells(vecCol, cents, routing, superProbes, 2))
      .withColumn("cell_gap",
        when(size(top2) >= 2, top2(0)("sim") - top2(1)("sim"))
          .when(size(top2) === 1, lit(Double.PositiveInfinity)))
      .drop("_top2")
  }

  /** IVF search: rank centroids vs the query, keep the nprobe nearest
    * cells, exact top-k within those cells only. On a partitioned index
    * the cell filter becomes partition pruning. */
  def ivfSearch(assigned: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, cIdCol: String, cVecCol: String,
                queryVec: Seq[Double], k: Int, nprobe: Int): DataFrame =
    ivfCandidates(assigned, vecCol, centroids, cIdCol, cVecCol, queryVec, nprobe)
      .orderBy(desc("sim"), col(idCol))
      .limit(k)

  /** The scored (unlimited, unordered) IVF candidate set — callers pick
    * their own top-k / ordering semantics. */
  def ivfCandidates(assigned: DataFrame, vecCol: String,
                    centroids: DataFrame, cIdCol: String, cVecCol: String,
                    queryVec: Seq[Double], nprobe: Int): DataFrame = {
    val q = lit(queryVec.toArray)
    val probeCells = centroids
      .withColumn("_qsim", cosine(col(cVecCol), q))
      .orderBy(desc("_qsim"), col(cIdCol))
      .limit(nprobe)
      .select(col(cIdCol).as("cell_id"))
    assigned
      .join(broadcast(probeCells), "cell_id")
      .withColumn("sim", cosine(col(vecCol), q))
  }

  /** Persist a cell-assigned index `partitionBy(cell_id)`: each coarse
    * cell becomes a partition directory, so an nprobe query's cell filter
    * is answered by Catalyst PARTITION PRUNING — only nprobe/ncells of
    * the files are even opened. This is the claimed 100 TB IVF posture
    * made concrete (PlanSpec pins the PartitionFilters in the scan). */
  def writeIvfIndex(assigned: DataFrame, indexDir: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(indexDir)

  /** The stage→measure→publish core shared by every gated store build
    * ([[writeIvfIndexGated]], [[Pq.writeIvfPqIndexGated]],
    * [[Sq.writeIndexGated]], and any future gated publisher): `write`
    * builds the store into a STAGING directory — never the final
    * path — `measure` probes that staged artifact and returns its
    * recall, and only a measurement at or above `recallFloor` renames
    * the staging dir into `dir`. So a crash anywhere before the rename
    * (mid-write, mid-measure, the floor breach itself) leaves the
    * PRIOR store — if any — untouched at the published path and never
    * a complete-but-ungated artifact there, and an in-place rebuild
    * that fails its gate keeps serving the old store instead of
    * deleting it. The staged files ARE the published files (one
    * rename, no rewrite), so the measured artifact is bit-identical
    * to the served one. The only remaining crash window is the two
    * metadata ops of the swap itself (delete-old + rename-staging):
    * a crash between them leaves NO store — a loud missing-path
    * failure at the next open, never a silent wrong one. */
  private[operators] def gatedPublish(spark: SparkSession, dir: String,
                                      recallFloor: Double, what: String,
                                      knobs: String)
                                     (write: String => Unit)
                                     (measure: String => Double): Double = {
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // deterministic sibling name: a retried build overwrites its own
    // orphaned staging instead of accreting UUID-named leftovers
    val staging = new org.apache.hadoop.fs.Path(
      dir.stripSuffix("/") + "__gate_staging")
    try {
      write(staging.toString)
      val recall = measure(staging.toString)
      if (recall < recallFloor)
        throw new IllegalStateException(
          f"$what: measured recall = $recall%.3f is below the floor " +
            f"$recallFloor%.2f ($knobs) — the staged store was discarded " +
            "and the published path left untouched. Raise the probe/" +
            "candidate knobs, retrain the codebook, or lower the floor " +
            "deliberately.")
      fs.delete(target, true)
      require(fs.rename(staging, target),
        s"$what: gate passed but the staged store could not be renamed " +
          s"into '$dir' — no store is published there")
      recall
    } catch { case t: Throwable => fs.delete(staging, true); throw t }
  }

  /** Mean recall over per-query truth/got top-k sets, each query
    * normalized by min(k, |truth|) — a store smaller than k rows whose
    * probe returns the exact answer measures 1.0, not |index|/k. */
  private[operators] def meanRecall(exact: Map[Any, Set[Any]],
                                    got: Map[Any, Set[Any]], k: Int,
                                    what: String): Double = {
    val recalls = exact.toSeq.map { case (q, truth) =>
      truth.intersect(got.getOrElse(q, Set.empty)).size.toDouble /
        math.max(1, math.min(k, truth.size))
    }
    require(recalls.nonEmpty,
      s"$what: the measurement produced zero truth sets (empty index?) — " +
        "refusing to report a recall over nothing")
    recalls.sum / recalls.length
  }

  /** [[writeIvfIndex]] behind the recall discipline
    * [[GraphIndex.buildServing]] established for the graph store: build
    * the partitioned store to a STAGING dir, measure recall@`k` of that
    * staged artifact's nprobe search against exact brute force ON THE
    * CALLER'S QUERY WORKLOAD, and only a measurement at or above
    * `recallFloor` publishes it (one rename — [[gatedPublish]]); a
    * breach or any measurement failure discards the staging and leaves
    * the published path untouched, so an IVF store probed at a silently
    * bad nprobe (or assigned off a mis-trained codebook) can never
    * reach serving, and a failed in-place rebuild keeps the prior good
    * store. `queries` is (query_id, vector) and must be non-empty (an
    * empty workload would make the mean recall NaN and NaN < floor is
    * false). Both sides score the driver-held workload in one pass
    * ([[ivfGateTopK]]), ties (sim desc, id asc) exactly like
    * [[ivfSearch]]. Per-query recall divides by min(k, |truth|), so an
    * index smaller than k measures honestly. Returns the measured
    * recall — the build's acceptance evidence; record it. */
  def writeIvfIndexGated(spark: SparkSession, assigned: DataFrame,
                         idCol: String, vecCol: String,
                         centroids: DataFrame, cIdCol: String, cVecCol: String,
                         indexDir: String, queries: DataFrame,
                         nprobe: Int, k: Int = 10,
                         recallFloor: Double = 0.9): Double = {
    val table = gateQueryTable(queries, "writeIvfIndexGated")
    gatedPublish(spark, indexDir, recallFloor,
      "Ann.writeIvfIndexGated", s"nprobe=$nprobe, k=$k") { staging =>
      writeIvfIndex(assigned, staging)
    } { staged =>
      val (exact, got) = ivfGateTopK(spark, assigned, idCol, vecCol,
        centroids, cIdCol, cVecCol, staged, table, nprobe, k)
      meanRecall(exact, got, k, "writeIvfIndexGated")
    }
  }

  /** A gate's (query_id, vector) workload as the driver-held query
    * table, in row order — refused when it is not two columns, is
    * empty (BEFORE anything is staged: an empty workload would publish
    * ungated, and the gate-bypass measureRecall refuses the same way)
    * or holds a null vector. */
  private[operators] def gateQueryTable(queries: DataFrame, what: String): Array[Array[Double]] = {
    val qcols = queries.columns
    require(qcols.length == 2,
      s"$what: queries must be (query_id, vector), got ${qcols.toSeq}")
    val qRows = queries.select(col(qcols(1)).cast("array<double>")).collect()
    require(qRows.nonEmpty,
      s"$what: the query workload produced zero probes — " +
        "refusing to build a store that would publish ungated")
    require(qRows.forall(!_.isNullAt(0)), s"$what: null query vector")
    qRows.map(_.getSeq[Double](0).toArray)
  }

  /** Rank (`_s.sim` desc, `idCol` asc) within each query `_s.qi` of a
    * (`idCol`, `_s` = struct<qi, sim>) score frame and keep the top `k`:
    * (`_qi`, `idCol`, `_sim`) rows. */
  private def topKPerQuery(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_s.qi").orderBy(desc("_s.sim"), col(idCol))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("_s.qi").as("_qi"), col(idCol), col("_s.sim").as("_sim"))
  }

  /** Each query's exact top-`k` over `index`, keyed by query index in
    * `table`: every row scored against every query in one projection
    * ([[graft.functions.QueryCosines.all]]). The exact side of both IVF
    * gates. */
  private[graft] def exactTopK(index: DataFrame, idCol: String, vecCol: String,
                               table: Array[Array[Double]], k: Int): DataFrame =
    topKPerQuery(index.select(col(idCol),
      explode(graft.functions.QueryCosines.all(col(vecCol), table)).as("_s")), idCol, k)

  /** query index → its id set, from a [[topKPerQuery]] frame. */
  private[operators] def idSets(topK: DataFrame, idCol: String): Map[Any, Set[Any]] =
    topK.select(col("_qi"), col(idCol))
      .collect().groupBy(_.get(0)).map { case (q, rs) => q -> rs.map(_.get(1)).toSet }

  /** [[writeIvfIndexGated]]'s measurement, keyed by query index in
    * `table`: each query's exact top-`k` ids over `assigned`
    * ([[exactTopK]]), and its top-`k` over the `nprobe` cells it probes
    * in the store at `storeDir` — only those cells' partitions are read,
    * and a row is scored against exactly the queries probing its cell. */
  private[graft] def ivfGateTopK(spark: SparkSession, assigned: DataFrame,
                                 idCol: String, vecCol: String,
                                 centroids: DataFrame, cIdCol: String, cVecCol: String,
                                 storeDir: String, table: Array[Array[Double]],
                                 nprobe: Int, k: Int)
      : (Map[Any, Set[Any]], Map[Any, Set[Any]]) = {
    import graft.functions.QueryCosines
    val exact = idSets(exactTopK(assigned, idCol, vecCol, table, k), idCol)
    // each query's nprobe nearest cells, as cell → the (ascending)
    // queries probing it
    val probing = nearestPerQuery(centroids, cIdCol, cVecCol, table, nprobe)
      .select(col("id"), col("_s.qi")).collect()
      .groupBy(_.getLong(0)).map { case (c, rs) => c -> rs.map(_.getInt(1)).sorted }
    val got = idSets(topKPerQuery(spark.read.parquet(storeDir)
      .filter(col("cell_id").isin(probing.keys.toSeq.map(Long.box): _*))
      .select(col(idCol),
        explode(QueryCosines.keyed(col(vecCol), col("cell_id"), table, probing)).as("_s")),
      idCol, k), idCol)
    (exact, got)
  }

  /** Scored candidates from a partitioned IVF store: rank centroids vs
    * the query on the driver (the codebook is small by contract), then
    * scan ONLY the nprobe winning cell partitions. Same candidate set as
    * [[ivfCandidates]] over the equivalent in-memory assignment. */
  def ivfCandidatesPartitioned(spark: SparkSession, indexDir: String,
                               centroids: DataFrame, cIdCol: String, cVecCol: String,
                               queryVec: Seq[Double], vecCol: String,
                               nprobe: Int): DataFrame = {
    val q = lit(queryVec.toArray)
    val probeCells = centroids
      .withColumn("_qsim", cosine(col(cVecCol), q))
      .orderBy(desc("_qsim"), col(cIdCol))
      .limit(nprobe)
      .select(col(cIdCol))
      .collect().map(_.get(0)).toIndexedSeq
    spark.read.parquet(indexDir)
      .filter(col("cell_id").isin(probeCells: _*))
      .withColumn("sim", cosine(col(vecCol), q))
  }

  /** Sign-random-projection bucket id: bit i = (dot(v, plane_i) > 0).
    * `planes` is a small broadcast list of hyperplane vectors. */
  def lshBucket(vecCol: org.apache.spark.sql.Column,
                planes: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      acc + when(dot(vecCol, lit(p.toArray)) > 0, math.pow(2, i).toLong).otherwise(0L)
    }

  /** LSH search: exact top-k restricted to the query's bucket. */
  def lshSearch(index: DataFrame, idCol: String, vecCol: String,
                planes: Seq[Seq[Double]], queryVec: Seq[Double], k: Int): DataFrame =
    lshCandidates(index, vecCol, planes, queryVec)
      .orderBy(desc("sim"), col(idCol))
      .limit(k)

  /** Scored same-bucket candidates (unlimited, unordered). */
  def lshCandidates(index: DataFrame, vecCol: String,
                    planes: Seq[Seq[Double]], queryVec: Seq[Double]): DataFrame = {
    val qBucket = {
      // bucket of the query vector, computed with the same arithmetic
      planes.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
        val d = p.zip(queryVec).map { case (a, b) => a * b }.foldLeft(0.0)(_ + _)
        acc + (if (d > 0) math.pow(2, i).toLong else 0L)
      }
    }
    index
      .withColumn("bucket", lshBucket(col(vecCol), planes))
      .filter(col("bucket") === qBucket)
      .withColumn("sim", cosine(col(vecCol), lit(queryVec.toArray)))
  }

  /** Euclidean (bucketed-random-projection) LSH with caller-supplied
    * planes — the oracle-checkable face of the algorithm behind
    * [[fitBrpLsh]]. Table t buckets v at
    * `floor(dot(v, plane_t) / bucketLength)`; a row is a candidate when
    * ANY table agrees with the query's bucket (the OR-amplification
    * `approxNearestNeighbors` uses), and candidates are re-ranked by
    * exact Euclidean distance. The distance is composed from three
    * ascending-fold dot products (|v|² − 2·v·q + |q|², clamped at 0
    * before the sqrt) so both engines run bit-identical arithmetic.
    * Planes drawn from data rows rather than a seeded RNG are what make
    * the bucketing SQL-replayable. Scale shape: planes ride along as
    * broadcast literals, the filter + distance are map-only, and the
    * caller's top-k lands in one TakeOrderedAndProject — no shuffle. */
  def brpFixedCandidates(index: DataFrame, vecCol: String,
                         planes: Seq[Seq[Double]], bucketLength: Double,
                         queryVec: Seq[Double]): DataFrame = {
    require(planes.nonEmpty, "brpFixedCandidates: needs at least one plane")
    require(bucketLength > 0.0,
      s"brpFixedCandidates: bucketLength must be positive, got $bucketLength")
    val q = lit(queryVec.toArray)
    val anyTable = planes.map { p =>
      // query-side bucket with the same ascending fold as the column side
      val qProj = p.zip(queryVec).map { case (a, b) => a * b }.foldLeft(0.0)(_ + _)
      val qBucket = math.floor(qProj / bucketLength).toLong
      floor(dot(col(vecCol), lit(p.toArray)) / bucketLength) === qBucket
    }.reduce(_ || _)
    val qq = queryVec.map(x => x * x).foldLeft(0.0)(_ + _)
    index.filter(anyTable)
      .withColumn("dist", sqrt(greatest(
        dot(col(vecCol), col(vecCol)) - lit(2.0) * dot(col(vecCol), q) + lit(qq),
        lit(0.0))))
  }

  /** Add the LSH bucket column WITH plane metadata on the column, making
    * the table eligible for the [[graft.plans.AnnBucketPrune]] optimizer
    * rewrite: a plain `orderBy(desc(cosine)).limit(k)` over this frame is
    * rewritten (opt-in) into a bucket-pruned scan. The metadata rides the
    * schema through parquet round-trips, so a written index stays
    * rewrite-eligible when read back. */
  def withLshBucket(index: DataFrame, vecCol: String,
                    planes: Seq[Seq[Double]],
                    bucketCol: String = "lsh_bucket"): DataFrame =
    index
      .withColumn(bucketCol, lshBucket(col(vecCol), planes))
      .withMetadata(bucketCol, graft.plans.AnnBucketPrune.lshMetadata(planes))

  /** Persist an LSH index `partitionBy(bucket)`: with the bucket-prune
    * rewrite on, a top-k cosine query over [[readLshIndex]] opens only
    * the probed buckets' files (Catalyst partition pruning). */
  def writeLshIndex(withBuckets: DataFrame, indexDir: String,
                    bucketCol: String = "lsh_bucket"): Unit =
    withBuckets.write.mode("overwrite").partitionBy(bucketCol).parquet(indexDir)

  /** Read a partitioned LSH index back, re-attaching plane metadata:
    * parquet partition columns come from directory names and carry no
    * schema metadata, so the reader must restore the rewrite eligibility. */
  def readLshIndex(spark: SparkSession, indexDir: String,
                   planes: Seq[Seq[Double]],
                   bucketCol: String = "lsh_bucket"): DataFrame =
    spark.read.parquet(indexDir)
      .withMetadata(bucketCol, graft.plans.AnnBucketPrune.lshMetadata(planes))

  /** DATA-AWARE sign-LSH planes: the `n` lowest-id data rows, each
    * mean-centered on the corpus. Raw data-row planes are what the
    * oracle-gated paths use (deterministic, SQL-replayable), but on a
    * NON-NEGATIVE embedding space (TF-IDF, BoW counts) every raw sign
    * bit lands positive — all rows hash to one bucket and the LSH
    * confinement is a no-op; worse, slightly-off-axis raw planes split
    * true neighbor pairs near-randomly (measured: recall 0.68 on the
    * PMC corpus, SCALE.md). Centering each plane on the corpus mean
    * restores ~balanced splits whose boundary passes through the data
    * cloud's center — the standard remedy — while staying fully
    * deterministic: the mean is one fixed aggregate, the plane rows are
    * picked by id order, no RNG anywhere. One vector-mean pass over
    * the corpus ([[VecMean]]: map-side partial sums, one dim-sized
    * partial per partition shuffled) computes the mean; the planes
    * themselves are n driver-side rows. */
  def centeredPlanes(index: DataFrame, idCol: String, vecCol: String,
                     n: Int): Seq[Seq[Double]] = {
    require(n >= 1, s"centeredPlanes: n=$n must be >= 1")
    val raw = index.orderBy(col(idCol)).limit(n)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(raw.length == n, s"centeredPlanes: corpus has only ${raw.length} rows, need $n")
    val mean = index
      .agg(udaf(new VecMean(raw.head.length)).apply(col(vecCol).cast("array<double>")))
      .head().getSeq[Double](0)
    raw.map(p => p.zip(mean).map { case (x, m) => x - m }.toSeq).toSeq
  }

  /** [[centeredPlanes]] grouped into `nBands` independent bands of
    * `planesPerBand` planes each, for [[knnGraphLshBanded]]'s
    * OR-amplified edge build. Consecutive id-ordered rows feed
    * consecutive bands (band r gets planes r·ppb ... r·ppb+ppb−1). */
  def centeredPlaneBands(index: DataFrame, idCol: String, vecCol: String,
                         nBands: Int, planesPerBand: Int): Seq[Seq[Seq[Double]]] = {
    require(nBands >= 1 && planesPerBand >= 1,
      s"centeredPlaneBands: nBands=$nBands planesPerBand=$planesPerBand must be >= 1")
    centeredPlanes(index, idCol, vecCol, nBands * planesPerBand)
      .grouped(planesPerBand).toSeq
  }

  /** [[centeredPlaneBands]] with the planes ORTHOGONALIZED
    * (Gram–Schmidt over the centered candidate rows, unit-normalized)
    * before banding. Centered data rows off one corpus all share the
    * dominant data directions, so their sign bits CORRELATE — and
    * correlated bands break the OR-amplification math (measured on
    * PMC: 3 correlated bands recalled no more than 2). Orthogonal
    * planes have independent projections by construction, restoring
    * the 1−(1−p^b)^R lift. Candidates whose residual collapses
    * (near-duplicate rows) are skipped; `4·n` candidates are drawn so
    * the construction survives a duplicate-heavy head. Deterministic:
    * same candidate order, same arithmetic, every run. */
  def orthogonalPlaneBands(index: DataFrame, idCol: String, vecCol: String,
                           nBands: Int, planesPerBand: Int): Seq[Seq[Seq[Double]]] = {
    require(nBands >= 1 && planesPerBand >= 1,
      s"orthogonalPlaneBands: nBands=$nBands planesPerBand=$planesPerBand must be >= 1")
    val need = nBands * planesPerBand
    val cand = centeredPlanes(index, idCol, vecCol, need * 4)
    val kept = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    cand.iterator.takeWhile(_ => kept.length < need).foreach { c =>
      val v = c.toArray
      val n0 = math.sqrt(dot(v, v))
      kept.foreach { b =>
        val proj = dot(v, b) // b is unit-norm
        var i = 0
        while (i < v.length) { v(i) -= proj * b(i); i += 1 }
      }
      val nr = math.sqrt(dot(v, v))
      if (n0 > 0.0 && nr > 1e-6 * n0) {
        var i = 0
        while (i < v.length) { v(i) /= nr; i += 1 }
        kept += v
      }
    }
    require(kept.length == need,
      s"orthogonalPlaneBands: only ${kept.length} of $need independent " +
        "directions in the candidate rows — corpus too small or too duplicated")
    kept.map(_.toSeq).toSeq.grouped(planesPerBand).toSeq
  }

  /** Deterministic "training-free" centroids: the first n vectors by id.
    * (A k-means refinement would go here; seeding from data keeps the
    * operator reproducible and oracle-checkable.) */
  def headCentroids(index: DataFrame, idCol: String, vecCol: String, n: Int): DataFrame =
    index.orderBy(col(idCol)).limit(n)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))

  /** Lloyd refinement of IVF centroids: `iters` rounds of assign →
    * per-cell elementwise mean. Each round is ONE `groupBy(cell_id)`
    * with a vector-mean aggregate ([[VecMean]]): rows sum map-side in
    * partition order, partials merge, the final divides by the count —
    * the adds and the division Spark's `avg` makes per dimension, so
    * the centroids equal a per-dimension `avg` bit-for-bit, without
    * exploding a row per dimension. One shuffle of per-cell partial
    * sums per round, never of raw vectors. Every vector must have
    * `dim` components. Cells that lose all members drop out (their id
    * disappears), mirroring standard k-means behavior. Deterministic
    * given the inputs up to floating-point summation order (the order
    * partials merge in) — centroids are internal state, not
    * oracle-compared output. */
  def kmeansRefine(index: DataFrame, idCol: String, vecCol: String,
                   initial: DataFrame, dim: Int, iters: Int = 2,
                   sampleFrac: Double = 1.0): DataFrame = {
    require(sampleFrac > 0.0 && sampleFrac <= 1.0,
      s"kmeansRefine: sampleFrac=$sampleFrac must be in (0, 1]")
    // SAMPLED training — the standard answer to the trainer itself
    // becoming the bottleneck at the √N codebook (at N = 1e9 and
    // |C| = 31 623 a full-corpus Lloyd round is N·|C| dots — larger
    // than the build's own assignment stage). Train on a DETERMINISTIC
    // hashed fraction (xxhash64 of the id — no RNG, same sample every
    // run and every engine), assign everything downstream: centroid
    // quality needs only enough points per cell to estimate the mean,
    // not the corpus. sampleFrac = 1.0 is bit-identical to the
    // unsampled path (no filter is planned at all).
    val train =
      if (sampleFrac >= 1.0) index
      else index.filter(
        pmod(xxhash64(col(idCol)), lit(1000000L)) < (sampleFrac * 1e6).toLong)
    val mean = udaf(new VecMean(dim))
    var cents = initial
    for (_ <- 0 until iters) {
      cents = assignCells(train, idCol, vecCol, cents, "centroid_id", "centroid_vec")
        .groupBy(col("cell_id"))
        .agg(mean(col(vecCol).cast("array<double>")).as("centroid_vec"))
        .filter(col("centroid_vec").isNotNull)
        .select(col("cell_id").as("centroid_id"), col("centroid_vec"))
    }
    cents
  }

  /** [[VecMean]]'s buffer: the running per-dimension sums and the row count. */
  private[operators] final case class VecSum(sum: Array[Double], n: Long)

  /** Elementwise mean of `dim`-component vectors. `reduce` adds each
    * row to the sums in arrival order from 0.0 and `merge` adds a
    * partial into the buffer, exactly the `Add`s of Spark's `Average`
    * per dimension; `finish` divides by the count as `Average` does.
    * Null vectors are skipped; a group of only nulls yields null. */
  private[operators] final class VecMean(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Array[Double], VecSum, Array[Double]] {
    def zero: VecSum = VecSum(new Array[Double](dim), 0L)
    def reduce(b: VecSum, a: Array[Double]): VecSum =
      if (a == null) b
      else {
        require(a.length == dim,
          s"VecMean: vector of ${a.length} components, expected dim=$dim")
        var i = 0
        while (i < dim) { b.sum(i) += a(i); i += 1 }
        VecSum(b.sum, b.n + 1)
      }
    def merge(b1: VecSum, b2: VecSum): VecSum = {
      var i = 0
      while (i < dim) { b1.sum(i) += b2.sum(i); i += 1 }
      VecSum(b1.sum, b1.n + b2.n)
    }
    def finish(b: VecSum): Array[Double] =
      if (b.n == 0L) null else b.sum.map(_ / b.n.toDouble)
    def bufferEncoder: org.apache.spark.sql.Encoder[VecSum] =
      org.apache.spark.sql.Encoders.product[VecSum]
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  // ------------------------------------------------------------------ //
  // Graph ANN — the HNSW-analog (ref app/main.py:262-283)              //
  // ------------------------------------------------------------------ //

  /** Deterministic bounded-degree k-NN graph — the batch analog of the
    * HNSW base layer (ref app/main.py:272-277, m=64). Edge set:
    *
    *  - in-cell top-`m` neighbors, UNDIRECTED (HNSW links are
    *    bidirectional — without the reverse edges a node is reachable
    *    only through someone else's top-m list and greedy descent
    *    stalls); built cell-confined pairwise over the IVF assignment
    *    (the SemanticDedup shape), never all-pairs;
    *  - node → its cell centroid (the "up-level" link; centroids here
    *    are data rows, so centroid ids ARE node ids);
    *  - the centroid clique (inter-cell connectivity; codebook-sized).
    *
    * The dst vector rides denormalized on each edge, so a search hop
    * scores its candidates map-only without re-joining the vector
    * store. At 100 TB the table is ≤ |V|·(2m+1)+|C|² rows; persisted
    * bucketed by `src`, a hop touches only the frontier's buckets.
    * Every choice ties (sim desc, dst id asc) — SQL-replayable. */
  def knnGraph(assigned: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, cIdCol: String, cVecCol: String,
               m: Int): DataFrame =
    knnGraphKeyed(assigned, idCol, vecCol, centroids, cIdCol, cVecCol, m,
      joinKeySets = Seq(Seq("cell_id")))

  /** [[knnGraph]] with the in-cell candidate set FURTHER confined to a
    * sign-LSH bucket — the edge build that survives √N-sized cells.
    * The plain build's in-cell pair stage is Σ|cell|² = N·√N rows at
    * the production |C| = ⌊√N⌋ (the same N^1.5 asymptote the two-level
    * assignment removes from the scoring side); hashing each node with
    * `planes` (deterministic data-row planes, like [[withLshBucket]])
    * and joining on (cell_id, bucket) bounds the pair set by the
    * largest (cell × bucket) block instead. Candidate LOSS is the
    * standard LSH trade: close pairs agree on plane signs with high
    * probability, and any node left shy of m in-bucket neighbors stays
    * reachable through its centroid up-link (connectivity never
    * depends on the top-m edges). Everything stays deterministic —
    * plane dots replay in SQL exactly like q_ann_lsh's bucket CTE — so
    * the built edge set and the walk over it remain hash-gatable. */
  def knnGraphLsh(assigned: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, cIdCol: String, cVecCol: String,
                  m: Int, planes: Seq[Seq[Double]]): DataFrame = {
    require(planes.nonEmpty, "knnGraphLsh: empty plane set")
    knnGraphKeyed(
      assigned.withColumn("_lshb", lshBucket(col(vecCol), planes)),
      idCol, vecCol, centroids, cIdCol, cVecCol, m,
      joinKeySets = Seq(Seq("cell_id", "_lshb")))
  }

  /** [[knnGraphLsh]] with OR-AMPLIFICATION — the recall answer to the
    * single-band build's candidate loss. One band of b planes keeps a
    * true neighbor pair only when ALL b sign bits agree (per-pair miss
    * compounds per plane — measured at recall 0.68 on the PMC corpus
    * for one 2-plane band, SCALE.md); with `bands` independent bands a
    * pair is a candidate when ANY band fully agrees — the MinHash
    * banding construction applied to sign-LSH, lifting pair recall
    * 1−(1−p^b)^R while each band's join stays (cell × bucket)-bounded.
    * Cost model (ShuffleAuditSpec pins both as executable budgets):
    * the candidate pairs GENERATED — the cosine dots paid, the
    * genuinely quadratic term — total ~R/2^b of the plain build's
    * Σ|cell|², strictly fewer whenever R < 2^b with balanced buckets;
    * the SHUFFLE is bounded by R× the single-band build's, and is not
    * the quadratic term at all: WindowGroupLimit's partial top-m runs
    * per input partition before the exchange, so pair triples never
    * ride the wire in bulk in ANY of these builds. Duplicate pairs
    * from band overlap are deduped rank-side (dense_rank over the
    * multiset ≡ row_number over the distinct set) rather than with a
    * second triple-sized exchange. Deterministic and SQL-replayable
    * like the single-band form: the oracle's pair CTE joins once with
    * `(a.lb0 = b.lb0 OR a.lb1 = b.lb1 ...)`. */
  def knnGraphLshBanded(assigned: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, cIdCol: String, cVecCol: String,
                        m: Int, bands: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(bands.nonEmpty && bands.forall(_.nonEmpty),
      "knnGraphLshBanded: needs at least one non-empty band")
    val withBuckets = bands.zipWithIndex.foldLeft(assigned) {
      case (df, (planes, r)) =>
        df.withColumn(s"_lshb$r", lshBucket(col(vecCol), planes))
    }
    knnGraphKeyed(withBuckets, idCol, vecCol, centroids, cIdCol, cVecCol, m,
      joinKeySets = bands.indices.map(r => Seq("cell_id", s"_lshb$r")))
  }

  private def knnGraphKeyed(assigned: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, cIdCol: String, cVecCol: String,
                            m: Int, joinKeySets: Seq[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allKeys = joinKeySets.flatten.distinct
    val keyCols = allKeys.map(col)
    // norms are computed ONCE PER ROW before the key join (r19): the
    // pair stage is the quadratic term of every graph build, and
    // cosine-per-pair recomputes both operands' O(d) norms per
    // CANDIDATE — cosineGiven over row-materialized norms is the same
    // doubles (VectorFunctions scaladoc pins it) at 1 dot per pair
    // instead of 3. One extra double per row rides the key exchange.
    val a = assigned.select(keyCols :+ col(idCol).as("src") :+ col(vecCol).as("_sv"): _*)
      .withColumn("_sn", l2Norm(col("_sv")))
    val b = assigned.select(keyCols :+ col(idCol).as("dst") :+ col(vecCol).as("_dv"): _*)
      .withColumn("_dn", l2Norm(col("_dv")))
    val w = Window.partitionBy("src").orderBy(desc("_sim"), col("dst"))
    // the QUADRATIC pair set is projected to (src, dst, sim) triples
    // BEFORE the window's src-shuffle — only ~24-byte rows ride the
    // block-sized exchange (the cosine itself is computed map-side in
    // the key-join stage); vectors re-attach afterwards by one LINEAR
    // |E|-row equi-join against the id→vec projection. With several
    // key sets (the banded LSH build) each band joins independently
    // and the union can repeat a pair (same floats — identical
    // arithmetic per band); rather than paying a SECOND triple-sized
    // exchange to pre-distinct, the rank switches to dense_rank, which
    // over the duplicated multiset equals row_number over the deduped
    // set (duplicates share the exact (sim, dst) order key; distinct
    // dsts never tie on it), and the final edge-union distinct below
    // drops the surviving duplicate rows at |E| scale.
    val pairsOf = (ks: Seq[String]) =>
      a.join(b, ks)
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          cosineGiven(col("_sv"), col("_dv"), col("_sn"), col("_dn")).as("_sim"))
    val pairs = joinKeySets.map(pairsOf).reduce(_ unionByName _)
    val rank = if (joinKeySets.length > 1) dense_rank() else row_number()
    val topm = pairs
      .withColumn("_rn", rank.over(w))
      .filter(col("_rn") <= m)
      .select("src", "dst")
    val up = assigned.filter(col(idCol) =!= col("cell_id"))
      .select(col(idCol).as("src"), col("cell_id").as("dst"))
    val clique = centroids.select(col(cIdCol).as("src"))
      .crossJoin(centroids.select(col(cIdCol).as("dst")))
      .filter(col("src") =!= col("dst"))
    val ids = topm
      .unionByName(topm.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(up)
      .unionByName(clique)
      .distinct()
    val vecs = assigned.select(col(idCol).as("dst"), col(vecCol).as("dst_vec"))
    ids.join(vecs, "dst").select("src", "dst", "dst_vec")
  }

  /** THE Spark beam walk over a [[knnGraph]]: the queries walk it
    * TOGETHER (the reference serves N concurrent ask() sessions against
    * one HNSW, app/main.py:616-647); a single query is a one-row table
    * ([[oneQuery]]). Each query enters at its `beamWidth` nearest
    * centroids, then runs `hops` rounds of expand-the-beam (score every
    * neighbor of its top-`beamWidth` visited nodes). Returns (query_id,
    * vec_id, sim) for ALL visited nodes; callers apply their own top-k.
    *
    * `lookup` returns a frontier's (src, dst, dst_vec) edge rows —
    * [[edgeLookup]], [[normalizedLookup]] or [[storeLookup]]; the result
    * does not depend on the medium. Each hop issues ONE lookup for the
    * union of all queries' frontiers, so per-hop reads do not scale with
    * query count. The loop runs on the driver (the walk is sequential,
    * like HNSW's); the query table is collected once and scored
    * data-side by [[graft.functions.QueryCosines]] — a hop scores each
    * edge row against exactly the queries whose frontier holds its src
    * — so every collect is scores only (≤ queries·beam·degree rows).
    * Frontiers and dedup are keyed by query, so a query's visited set
    * does not depend on its batch-mates. Each (query, src) is expanded
    * at most once per walk (a re-expansion yields pairs the visited set
    * already holds); a hop with nothing new issues no lookup. The query
    * table is read by [[queryTable]]. */
  def graphSearch(spark: SparkSession, lookup: Seq[Long] => DataFrame,
                  centroids: DataFrame, cIdCol: String, cVecCol: String,
                  queries: DataFrame, qIdCol: String, qVecCol: String,
                  beamWidth: Int, hops: Int): DataFrame = {
    import spark.implicits._
    import graft.functions.QueryCosines
    // every scoring pass below ships the driver-held table inside the
    // expression
    val (qids, table) = queryTable(queries, qIdCol, qVecCol)
    val visited = Array.fill(qids.length)(scala.collection.mutable.HashMap.empty[Long, Double])
    def fold(scored: DataFrame): Unit = scored
      .select(col("id"), col("_s.qi"), col("_s.sim")).collect()
      .foreach { r => visited(r.getInt(1))(r.getLong(0)) = r.getDouble(2) }
    fold(nearestPerQuery(centroids, cIdCol, cVecCol, table, beamWidth))
    val expanded = Array.fill(qids.length)(scala.collection.mutable.HashSet.empty[Long])
    for (_ <- 0 until hops) {
      // src → the (ascending) queries whose frontier holds it, counting
      // only (query, src) pairs this walk has not expanded yet
      val bySrc = scala.collection.mutable.LinkedHashMap.empty[Long,
        scala.collection.mutable.ArrayBuilder.ofInt]
      for (qi <- qids.indices) {
        val frontier = visited(qi).toSeq.sortBy { case (id, s) => (-s, id) }
          .take(beamWidth).map(_._1).filter(expanded(qi).add)
        frontier.foreach(src =>
          bySrc.getOrElseUpdate(src, new scala.collection.mutable.ArrayBuilder.ofInt) += qi)
      }
      // no dropDuplicates before the collect: the visited maps dedup
      // (query, id) with identical deterministic scores
      if (bySrc.nonEmpty) {
        val targets = bySrc.map { case (src, qs) => src -> qs.result() }.toMap
        fold(lookup(bySrc.keys.toSeq) // ONE read for ALL queries' frontiers
          .select(col("dst").cast("long").as("id"),
            explode(QueryCosines.keyed(col("dst_vec"), col("src"), table, targets)).as("_s")))
      }
    }
    qids.indices
      .flatMap(qi => visited(qi).toSeq.map { case (id, s) => (qids(qi), id, s) })
      .toDF("query_id", "vec_id", "sim")
  }

  /** The one read of a walk's query table, shared by every walk — the
    * Spark walk, the resident tiers' `searchBatch` and
    * `GraphIndex.measureRecall`. The workload is request-sized by
    * contract, so ONE collect puts it on the driver. A null id or
    * vector refuses, and so does a repeated id: two rows under one id
    * would be walked apart and merged under it, ranking the same chunk
    * twice. Returns the ids and vectors by position. */
  private[graft] def queryTable(queries: DataFrame, qIdCol: String,
                                qVecCol: String): (Array[Long], Array[Array[Double]]) = {
    val rows = queries.select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .collect()
    require(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "query table: null query id or vector")
    val ids = rows.map(_.getLong(0))
    require(ids.distinct.length == ids.length, "query table: query ids must be distinct")
    (ids, rows.map(_.getSeq[Double](1).toArray))
  }

  /** Each query's `n` nearest rows of a (codebook-sized) centroid
    * table, scored against the driver-held query `table` in one pass:
    * (id, _s.qi, _s.sim, _rn), ties broken by id ascending. */
  private def nearestPerQuery(centroids: DataFrame, cIdCol: String, cVecCol: String,
                              table: Array[Array[Double]], n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    centroids
      .select(col(cIdCol).cast("long").as("id"),
        explode(graft.functions.QueryCosines.all(col(cVecCol), table)).as("_s"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_s.qi").orderBy(desc("_s.sim"), col("id"))))
      .filter(col("_rn") <= n)
  }

  /** A single query as [[graphSearch]]'s workload: one (query_id = 0,
    * vector) row. */
  def oneQuery(spark: SparkSession, queryVec: Seq[Double]): DataFrame =
    spark.createDataFrame(Seq((0L, queryVec))).toDF("query_id", "vector")

  /** Hop lookup over an edge DataFrame: a filter on the frontier's
    * srcs (over a persisted frame, cached-batch stats skip the rest). */
  def edgeLookup(edges: DataFrame): Seq[Long] => DataFrame =
    frontier => edges.filter(col("src").isin(frontier.map(Long.box): _*))

  /** Hop lookup over a NORMALIZED layout: `edgeIds` is (src, dst) and
    * `vecs` ONE (dst, dst_vec) row per node, O(|V|·dim + |E|) instead
    * of the store's denormalized O(|E|·dim). The frontier's edges join
    * the node table, which reproduces exactly the denormalized rows.
    * Serves q_ann_graph_warm and AnnSpec's lookup-parity cases. */
  def normalizedLookup(edgeIds: DataFrame, vecs: DataFrame): Seq[Long] => DataFrame =
    frontier => edgeLookup(edgeIds)(frontier).join(vecs, "dst")

  /** Hop lookup over a [[writeGraphIndex]] store, one per walk: the
    * store is read (listed, schema resolved) once, at the first hop;
    * each hop filters that read on the frontier's buckets (partition
    * pruning at the file listing) and then the exact src set. */
  def storeLookup(spark: SparkSession, indexDir: String,
                  nBuckets: Int): Seq[Long] => DataFrame = {
    lazy val store = spark.read.parquet(indexDir)
    frontier => {
      val buckets = frontier.map(id => Long.box(((id % nBuckets) + nBuckets) % nBuckets)).distinct
      edgeLookup(store.filter(col("src_bucket").isin(buckets: _*)))(frontier)
    }
  }

  /** `walk` over `edges` persisted for its duration — an unpersisted
    * [[knnGraph]] lineage would be recomputed at every hop. The walk's
    * result is driver-local, so releasing the cache after it is safe. */
  def persistedFor[T](edges: DataFrame)(walk: DataFrame => T): T = {
    val cached = edges.persist()
    try walk(cached) finally cached.unpersist()
  }

  /** Persist a [[knnGraph]] partitioned by `pmod(src, nBuckets)`: at
    * 100 TB the edge table is itself big (|V|·(2m+1) rows carrying
    * vectors), and a beam hop needs only the frontier's ≤ beamWidth
    * src groups — with the bucket directory layout that read is
    * answered by Catalyst PARTITION PRUNING (≤ beamWidth of nBuckets
    * directories opened), the same posture as the IVF cell store. */
  def writeGraphIndex(edges: DataFrame, indexDir: String, nBuckets: Int = 64): Unit =
    edges
      .withColumn("src_bucket", pmod(col("src"), lit(nBuckets)))
      // cluster writers by the partition column — one file per bucket
      // dir, so a hop's pruned read opens one file, not one per
      // upstream partition (small-file sprawl is what kills bucketed
      // stores at scale)
      .repartition(col("src_bucket"))
      .write.mode("overwrite").partitionBy("src_bucket").parquet(indexDir)

  /** Incremental insert into a [[knnGraph]] — the HNSW-insert analog
    * (the reference appends new uploads to its vector index at any
    * time, app/embedding_gen.py:315-409). For a batch B against the
    * existing node set E (both cell-assigned with the SAME codebook):
    *
    *  - each b∈B gets its top-`m` neighbors among the same cell's
    *    (E ∪ B) \ {b} — the batch is self-aware, so intra-batch dups
    *    link to each other;
    *  - each such neighbor gets the REVERSE edge back to b (HNSW's
    *    bidirectional link; an existing node's degree grows unpruned —
    *    search stays correct, it only sees more candidates);
    *  - each b gets its centroid up-link. The clique already exists.
    *
    * Returns the NEW edge rows only; callers append them to the store
    * (`mode("append")` under the same `partitionBy` — bucket dirs
    * absorb the new files, no rewrite of existing data). Work is
    * |B|·|cell| pairwise, never |E|²: inserting into a 100 TB graph
    * costs the batch, not the corpus. */
  def graphInsert(existingAssigned: DataFrame, newAssigned: DataFrame,
                  idCol: String, vecCol: String, m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = existingAssigned.select(col("cell_id"), col(idCol), col(vecCol))
      .unionByName(newAssigned.select(col("cell_id"), col(idCol), col(vecCol)))
    // per-row norms before the cell join (r19) — same cosineGiven
    // discipline as knnGraphKeyed: 1 dot per candidate pair, not 3
    val b = newAssigned.select(col("cell_id"), col(idCol).as("src"), col(vecCol).as("_sv"))
      .withColumn("_sn", l2Norm(col("_sv")))
    val cand = all.select(col("cell_id"), col(idCol).as("dst"), col(vecCol).as("_dv"))
      .withColumn("_dn", l2Norm(col("_dv")))
    val w = Window.partitionBy("src").orderBy(desc("_sim"), col("dst"))
    val topm = b.join(cand, Seq("cell_id"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        cosineGiven(col("_sv"), col("_dv"), col("_sn"), col("_dn")).as("_sim"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= m)
      .select("src", "dst")
    val up = newAssigned.filter(col(idCol) =!= col("cell_id"))
      .select(col(idCol).as("src"), col("cell_id").as("dst"))
    val ids = topm
      .unionByName(topm.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(up)
      .distinct()
    val vecs = all.select(col(idCol).as("dst"), col(vecCol).as("dst_vec"))
    ids.join(vecs, "dst").select("src", "dst", "dst_vec")
  }

  /** Append [[graphInsert]] edges to a [[writeGraphIndex]] store. */
  def appendGraphIndex(newEdges: DataFrame, indexDir: String, nBuckets: Int = 64): Unit =
    newEdges
      .withColumn("src_bucket", pmod(col("src"), lit(nBuckets)))
      .write.mode("append").partitionBy("src_bucket").parquet(indexDir)

  // ------------------------------------------------------------------ //
  // Index lifecycle: tombstone delete + compaction                     //
  // ------------------------------------------------------------------ //

  /** Mark-delete ids from a graph index — the HNSW tombstone discipline
    * (hnswlib's `mark_deleted`, and what the reference's OpenSearch does
    * internally for deleted docs until a segment merge): a marked node
    * keeps ROUTING the walk — physically unlinking it mid-serve could
    * strand whole graph regions — but never surfaces in results.
    *
    * Tombstones live in their own store partitioned by the SAME
    * `pmod(id, nBuckets)` bucketing as the edge store, so the serve-time
    * filter ([[filterTombstoned]]) partition-prunes to just the visited
    * set's buckets — at 100 TB, years of accumulated deletes cost a
    * query only the few bucket dirs its KB-sized visited set touches.
    * Append-only (the [[appendGraphIndex]] discipline): no existing
    * data is rewritten until [[compactGraphIndex]] applies the marks
    * physically. Duplicate marks are harmless (anti-join semantics). */
  def writeGraphTombstones(ids: DataFrame, idCol: String, tombDir: String,
                           nBuckets: Int): Unit =
    ids.select(col(idCol).cast("long").as("tomb_id")).distinct()
      .withColumn("tomb_bucket", pmod(col("tomb_id"), lit(nBuckets)))
      .repartition(col("tomb_bucket"))
      .write.mode("append").partitionBy("tomb_bucket").parquet(tombDir)

  /** Serve-time tombstone filter: drop marked ids from a walk's visited
    * set before results leave the engine. The visited side is KB-scale
    * (beam·degree·hops rows), so the tombstone read prunes to exactly
    * the visited buckets and the anti-join never sees the full mark
    * set. A missing store (nothing ever deleted) is a no-op. */
  def filterTombstoned(spark: SparkSession, visited: DataFrame, idCol: String,
                       tombDir: String, nBuckets: Int): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(tombDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return visited
    // the walk's result is driver-local ([[graphSearch]]): this collect
    // re-reads KBs, never the index, and dedups without a shuffle
    val ids = visited.select(col(idCol).cast("long"))
      .collect().map(_.getLong(0)).distinct
    val buckets = ids.map(id => Long.box(((id % nBuckets) + nBuckets) % nBuckets)).distinct
    val tombs = spark.read.parquet(tombDir)
      .filter(col("tomb_bucket").isin(buckets: _*))
      .select(col("tomb_id").as(idCol))
    visited.join(tombs, Seq(idCol), "left_anti")
  }

  /** Physically apply tombstones to a [[writeGraphIndex]] edge store and
    * merge per-append files back to one file per bucket dir — the
    * segment-merge half of the delete story, and the answer to the
    * small-file sprawl [[appendGraphIndex]] accrues (every insert batch
    * adds a file to each touched bucket; a year of hourly batches makes
    * a hop's pruned read open thousands of files).
    *
    * A non-protected tombstoned id loses ALL its edges — it stops
    * routing and stops surfacing. `protectedIds` (the entry centroids:
    * structural nodes the clique and up-links hang off — codebook-scale
    * by contract) keep their edges and remain tombstone-filtered at
    * serve time instead: dropping a centroid's clique row could strand
    * its whole cell.
    *
    * Reachability repair (HNSW-repair style): the centroid up-link is
    * DIRECTED node→centroid, so a live node whose every in-edge rode a
    * dead src would lose its last in-edge here and walk-silently
    * vanish until the next rebuild. Such orphans get ONE
    * centroid→node down-link back: the anchor is the smallest
    * surviving protected dst among the orphan's own out-edges — its
    * up-link target, which survives by the protected contract — so
    * every node reachable before compaction stays reachable after it.
    * With `protectedIds = Nil` no anchor exists and orphans stay
    * unrepaired (reachability can shrink until rebuild).
    *
    * The rewrite stages through a sibling dir and re-reads it for the
    * overwrite — both steps plain retryable file writes. Single
    * writer assumed, like every file-store mutation here; a real
    * deployment fronts this with a table format's commit protocol. */
  def compactGraphIndex(spark: SparkSession, edgesDir: String, nBuckets: Int,
                        tombDir: String, protectedIds: Seq[Long] = Nil): Unit = {
    val tombPath = new org.apache.hadoop.fs.Path(tombDir)
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val edges = spark.read.parquet(edgesDir)
    val kept =
      if (!fs.exists(tombPath)) edges
      else {
        // dead = marked minus protected. At scale both anti-joins are
        // bucket-aligned (edge src_bucket == tombstone bucket for the
        // src side), so AQE can plan them shuffle-light; the dst side
        // is the one genuine corpus-sized shuffle, and it runs in the
        // amortized maintenance pass, not on the serve path.
        // Materialized once (r19): the plan below references `dead`
        // four times (two anti-joins + two sides of `lost`) — without
        // the checkpoint each reference re-read and re-filtered the
        // tombstone store; the mark set is delete-sized by contract.
        val dead = graft.Materialize(
          spark.read.parquet(tombDir).select(col("tomb_id"))
            .filter(!col("tomb_id").isin(protectedIds.map(Long.box): _*)))
        if (dead.isEmpty) edges // only protected marks: nothing to drop
        else {
          val dropped = edges
            .join(dead.select(col("tomb_id").as("src")), Seq("src"), "left_anti")
            .join(dead.select(col("tomb_id").as("dst")), Seq("dst"), "left_anti")
          // Orphan repair, narrowed to the only possible casualties
          // BEFORE any corpus-wide shuffle: a live node can lose its
          // last in-edge only if some in-edge rode a dead src, so the
          // candidate set (`lost`) is bounded by |dead|·degree — the
          // joins below broadcast it against pushed-filter scans, and
          // when no candidate actually lost every in-edge the repair
          // costs two scans and zero shuffles (the common compaction:
          // tombstones exist, nothing needs re-anchoring).
          val lost = edges
            .join(dead.select(col("tomb_id").as("src")), Seq("src"), "left_semi")
            .join(dead.select(col("tomb_id").as("dst")), Seq("dst"), "left_anti")
            .select("dst").distinct()
          val orphans = lost.join(dropped, Seq("dst"), "left_anti")
          if (orphans.isEmpty) dropped
          else {
            // every copy of a dst's vec is identical; dedup only the
            // orphan-sized slice, never the full edge set
            val orphanVecs = edges.select(col("dst"), col("dst_vec"))
              .join(orphans, Seq("dst"), "left_semi")
              .dropDuplicates("dst")
            // anchor = smallest surviving protected dst among the
            // orphan's own out-edges (its up-link target — protected
            // ids keep their edges by contract, so it survives)
            val anchors = dropped
              .join(orphans.select(col("dst").as("src")), Seq("src"), "left_semi")
              .filter(col("dst").isin(protectedIds.map(Long.box): _*))
              .groupBy(col("src")).agg(min(col("dst")).as("_anchor"))
              .select(col("src").as("dst"), col("_anchor"))
            val repair = orphanVecs
              .join(anchors, Seq("dst"))
              .select(col("_anchor").as("src"), col("dst"), col("dst_vec"))
              .withColumn("src_bucket", pmod(col("src"), lit(nBuckets)))
            dropped.unionByName(repair)
          }
        }
      }
    rewriteStore(spark, kept, edgesDir, "src_bucket")
    // surviving marks: only protected (centroid) ids still need the
    // serve-time filter — everyone else is physically gone
    if (fs.exists(tombPath)) {
      val protTombs = spark.read.parquet(tombDir)
        .filter(col("tomb_id").isin(protectedIds.map(Long.box): _*))
      // no isEmpty pre-check (r19): rewriteStore's staged-empty case
      // deletes the store dir, which IS the old empty branch — the
      // pre-check just computed the filter twice
      rewriteStore(spark, protTombs, tombDir, "tomb_bucket")
    }
  }

  /** Rewrite a partitioned store in place: cluster writers by the
    * partition column (one file per partition dir), stage through a
    * sibling `<dir>__compact` path, then overwrite. Shared by the
    * compaction paths; content-preserving by construction.
    *
    * ZERO surviving rows deletes the store dir outright (the posture
    * the tombstone store already uses): `repartition(col)` on empty
    * input emits no part files, and a dir holding only `_SUCCESS`
    * poisons every later read with a schema-inference failure. An
    * absent dir is the well-defined empty state — serve-time readers
    * that tolerate absence ([[filterTombstoned]]) keep working, and
    * the next append recreates the partitioned layout cleanly. */
  private[graft] def rewriteStore(spark: SparkSession, rows: DataFrame,
                                  dir: String, partitionCol: String): Unit = {
    // emptiness is decided AFTER the staging write from the staged
    // FILES (r19): the old `rows.isEmpty` pre-check executed the
    // caller's full surviving-rows DAG once just to branch, then the
    // staging write executed it again — for graph compaction that was
    // the whole anti-join + repair plan twice. The staged dir always
    // carries the schema (a non-partitioned empty write still emits
    // one schema-only part file), so the emptiness probe reads a
    // materialized footer, never the input DAG; a pathological
    // zero-part staging (nothing to read) is the same empty state.
    val staging = dir.stripSuffix("/") + "__compact"
    rows.repartition(col(partitionCol))
      .write.mode("overwrite").parquet(staging)
    val sp = new org.apache.hadoop.fs.Path(staging)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasParts = fs.listStatus(sp)
      .exists(_.getPath.getName.startsWith("part-"))
    val stagedEmpty = !hasParts || spark.read.parquet(staging).isEmpty
    if (stagedEmpty) {
      val dp = new org.apache.hadoop.fs.Path(dir)
      dp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dp, true)
    } else {
      spark.read.parquet(staging)
        .write.mode("overwrite").partitionBy(partitionCol).parquet(dir)
    }
    fs.delete(sp, true)
  }

  // ------------------------------------------------------------------ //
  // MLlib scale path — the library algorithms behind the same API      //
  // ------------------------------------------------------------------ //

  /** Fit MLlib's random-projection LSH (the built-in analog of the
    * reference's HNSW for Euclidean/cosine-on-normalized spaces). The
    * input array column is converted with ml.functions.array_to_vector;
    * seed fixed for reproducibility. */
  def fitBrpLsh(index: DataFrame, vecCol: String, numHashTables: Int = 4,
                bucketLength: Double = 2.0, seed: Long = 42L)
      : (org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel, DataFrame) = {
    val withVec = index.withColumn("_mlvec",
      org.apache.spark.ml.functions.array_to_vector(col(vecCol).cast("array<double>")))
    val lsh = new org.apache.spark.ml.feature.BucketedRandomProjectionLSH()
      .setInputCol("_mlvec").setOutputCol("_hashes")
      .setNumHashTables(numHashTables).setBucketLength(bucketLength).setSeed(seed)
    val model = lsh.fit(withVec)
    (model, model.transform(withVec))
  }

  /** Approx nearest neighbors via the fitted model. On L2-normalized
    * vectors, Euclidean ANN ⇔ cosine ANN (d² = 2 − 2·cos). */
  def brpApproxNeighbors(model: org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel,
                         transformed: DataFrame, queryVec: Seq[Double], k: Int): DataFrame =
    model.approxNearestNeighbors(transformed,
      org.apache.spark.ml.linalg.Vectors.dense(queryVec.toArray), k).toDF()

  /** MinHashLSH near-dup join over shingle sets: HashingTF turns each
    * doc's shingles into a sparse binary vector, MinHashLSH buckets them,
    * approxSimilarityJoin emits candidate pairs under a Jaccard-distance
    * threshold — MLlib's version of Dedup.minhashCandidates. */
  def mlMinHashJoin(docs: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, numHashTables: Int = 8,
                    maxJaccardDistance: Double = 0.8, seed: Long = 42L): DataFrame = {
    import graft.functions.TextFunctions._
    val sh = docs.select(col(idCol).as("id"),
      shingleSet(tokens(lower(cleanText(col(textCol)))), shingleN).as("_sh"))
      .filter(size(col("_sh")) > 0)
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("_sh").setOutputCol("_tf").setNumFeatures(1 << 18).setBinary(true)
    val vecs = tf.transform(sh)
    val mh = new org.apache.spark.ml.feature.MinHashLSH()
      .setInputCol("_tf").setOutputCol("_hashes").setNumHashTables(numHashTables).setSeed(seed)
    val model = mh.fit(vecs)
    model.approxSimilarityJoin(vecs, vecs, maxJaccardDistance, "jaccard_dist")
      .selectExpr("datasetA.id AS id_a", "datasetB.id AS id_b", "jaccard_dist")
      .filter(col("id_a") < col("id_b"))
  }
}
