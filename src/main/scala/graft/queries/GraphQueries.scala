package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryHelpers._

/** Graph ANN: the k-NN graph build variants, the beam walk over each
  * store layout, and the delete/compact lifecycle. */
object GraphQueries {

  /** One query's visited (vec_id, sim) set at the single-query graph
    * rows' beam 4 / 3 hops: [[Ann.graphSearch]] over a one-row query
    * table. */
  private def graphWalk(s: SparkSession, lookup: Seq[Long] => DataFrame,
                        cents: DataFrame, queryVec: Seq[Double]): DataFrame =
    Ann.graphSearch(s, lookup, cents, "centroid_id", "centroid_vec",
      Ann.oneQuery(s, queryVec), "query_id", "vector", beamWidth = 4, hops = 3)
      .drop("query_id")

  val all: Seq[Q] = Seq(

    // GRAPH ANN — the HNSW-analog (ref app/main.py:262-283): a
    // deterministic k-NN graph (undirected in-cell top-4 + centroid
    // up-links + centroid clique) walked by a 3-hop beam-4 search from
    // the centroid entry points. Unlike classic HNSW the whole walk is
    // SQL-replayable, so the traversal itself is oracle-checked. Query
    // vec 9 is deliberately NOT a centroid — the walk has to navigate.
    Q("q_ann_graph", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
      val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", m = 4)
      Ann.persistedFor(edges)(es => graphWalk(s, Ann.edgeLookup(es), cents, collectVec(e, 9)))
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      // Graph ANN: replay the exact beam walk — edges (in-cell top-4 by
      // cosine + node→centroid up-links + centroid clique), entry = top-4
      // centroids vs the query, then 3 expand-the-beam hops where the
      // frontier is the top-4 of everything visited. `sims` scores each
      // node once, so hop CTEs select ids only; sim per id is functional
      // and identical to Spark's per-edge recompute.
      annGraphOracle),

    // The SAME graph build + walk at the PRODUCTION codebook discipline
    // |C| = ⌊√N⌋ — the configuration that survives sf1 where the
    // pinned-|C|=8 build OOMs (SCALE.md curve), and the recall-0.98
    // point on the real corpus (SCALE.md "Graph-ANN recall at scale";
    // the probe that measured it is in commit be29786). Everything is
    // derived from N on BOTH sides (Spark counts the table; DuckDB's
    // scalar subquery replays it), so one oracle serves every SF. Query
    // vec 201 is not a centroid at any SF (√N ≤ 141 even at sf1).
    Q("q_ann_graph_scaled", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val nCents = math.floor(math.sqrt(e.count().toDouble)).toLong
      val cents = e.filter(col("vec_id") < nCents)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
      val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", m = 4)
      Ann.persistedFor(edges)(es => graphWalk(s, Ann.edgeLookup(es), cents, collectVec(e, 201)))
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle = annGraphOracleWhere("", "",
      centPred = scaledCentPred, queryId = 201)),

    // The √N build with TWO-LEVEL (coarse-quantizer) assignment —
    // what keeps the build map-side cost from becoming the next
    // asymptotic bottleneck after the √N codebook fix: flat assignment
    // is N·√N dots corpus-wide (3·10^13 at N=10^9); routing through
    // |S| = ⌊√|C|⌋ super-centroids cuts it to ~2·N^1.25. Assignment is
    // approximate (IVF's nprobe=1 trade) but deterministic at both
    // levels, so the oracle replays it with two windowed argmaxes —
    // the walk replay is annGraphOracleWhere's, unchanged.
    Q("q_ann_graph_hier", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val nCents = math.max(1L, math.floor(math.sqrt(e.count().toDouble)).toLong)
      val nSupers = math.max(1L, math.floor(math.sqrt(nCents.toDouble)).toLong)
      val cents = e.filter(col("vec_id") < nCents)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = Ann.assignCellsHier(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", nSupers.toInt)
      val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", m = 4)
      Ann.persistedFor(edges)(es => graphWalk(s, Ann.edgeLookup(es), cents, collectVec(e, 201)))
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      // Two-level assignment replay: sup = head-⌊√|C|⌋ centroids,
      // c2s routes each centroid to its nearest super, v2s routes each
      // vector, and the final argmax runs only over the centroids
      // sharing the vector's super — all with the flat oracle's
      // (sim DESC, id) tie-break, so it mirrors NearestCells' two-level
      // lowest-index semantics exactly. Walk replay unchanged.
      annGraphOracleWhere("", "",
        centPred = scaledCentPred, queryId = 201,
        assignCtes = Some(
          s"""sup AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings
             |       WHERE vec_id < greatest(1, (SELECT CAST(floor(sqrt(floor(sqrt(count(*))))) AS BIGINT)
             |                                   FROM embeddings))),
             |c2s AS (SELECT cid, sid FROM (
             |  SELECT c.cid, sup.sid,
             |         row_number() OVER (PARTITION BY c.cid
             |           ORDER BY ${dCosine("c.cv", "sup.sv")} DESC, sup.sid) AS rn
             |  FROM c, sup) WHERE rn = 1),
             |v2s AS (SELECT vec_id, sid FROM (
             |  SELECT e.vec_id, sup.sid,
             |         row_number() OVER (PARTITION BY e.vec_id
             |           ORDER BY ${dCosine("e.embedding", "sup.sv")} DESC, sup.sid) AS rn
             |  FROM embeddings e, sup) WHERE rn = 1),
             |asg AS (
             |  SELECT vec_id, embedding, cid,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
             |  FROM (SELECT e.vec_id, e.embedding, c.cid,
             |               ${dCosine("e.embedding", "c.cv")} AS csim
             |        FROM embeddings e
             |        JOIN v2s ON e.vec_id = v2s.vec_id
             |        JOIN c2s ON c2s.sid = v2s.sid
             |        JOIN c ON c.cid = c2s.cid)
             |),
             |cells AS (SELECT vec_id, embedding, cid AS cell_id FROM asg WHERE rn = 1)""".stripMargin))),

    // The √N build with the LSH-CONFINED edge stage — the other half of
    // the 100 TB build story: at |C| = ⌊√N⌋ the in-cell pair set is
    // Σ|cell|² = N^1.5 rows (the same asymptote q_ann_graph_hier removes
    // from assignment); hashing nodes with 4 deterministic data-row
    // planes and pairing on (cell, bucket) bounds it by the largest
    // cell×bucket block. Candidate loss is the standard LSH trade;
    // connectivity never depends on top-m edges (centroid up-links).
    // The oracle replays the plane dots (q_ann_lsh's bucket CTE) inside
    // the shared walk replay, so the confined build is hash-gated too.
    Q("q_ann_graph_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val nCents = math.max(1L, math.floor(math.sqrt(e.count().toDouble)).toLong)
      val cents = e.filter(col("vec_id") < nCents)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val planes = e.filter(col("vec_id") < 4).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0)).toSeq
      val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
      val edges = Ann.knnGraphLsh(assigned, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", m = 4, planes)
      Ann.persistedFor(edges)(es => graphWalk(s, Ann.edgeLookup(es), cents, collectVec(e, 201)))
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      // LSH-confined edge build: the default assignment CTEs extended
      // with the q_ann_lsh bucket fold (4 data-row planes, strict > 0
      // sign bits), and the pair join additionally requires bucket
      // equality — exactly knnGraphLsh's (cell_id, bucket) key.
      annGraphOracleWhere("", "",
        centPred = scaledCentPred, queryId = 201,
        assignCtes = Some(
          s"""pl AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings WHERE vec_id < 4),
             |asg AS (
             |  SELECT vec_id, embedding, cid,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
             |  FROM (SELECT e.vec_id, e.embedding, c.cid,
             |               ${dCosine("e.embedding", "c.cv")} AS csim
             |        FROM embeddings e, c)
             |),
             |cells0 AS (SELECT vec_id, embedding, cid AS cell_id FROM asg WHERE rn = 1),
             |cells AS (
             |  SELECT c0.vec_id, c0.embedding, c0.cell_id,
             |         CAST(sum(CASE WHEN ${dDot("c0.embedding", "pl.pv")} > 0
             |                       THEN CAST(pow(2, pl.pid) AS BIGINT) ELSE 0 END) AS BIGINT) AS lb
             |  FROM cells0 c0, pl GROUP BY c0.vec_id, c0.embedding, c0.cell_id
             |)""".stripMargin),
        pairExtraCond = " AND a.lb = b.lb")),

    // OR-AMPLIFIED LSH edge build (Ann.knnGraphLshBanded): two
    // independent 2-plane bands; a pair is an edge candidate when
    // EITHER band's sign bits fully agree — the MinHash banding
    // construction applied to sign-LSH, recovering the recall a single
    // band loses (measured on PMC: 0.68 one band → see SCALE.md)
    // while each band's join stays (cell × bucket)-bounded. Planes are
    // data rows (vec_id 0-1 band 0, 2-3 band 1) so the oracle replays
    // both bucket columns and the OR in its pair CTE.
    Q("q_ann_graph_banded", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val nCents = math.max(1L, math.floor(math.sqrt(e.count().toDouble)).toLong)
      val cents = e.filter(col("vec_id") < nCents)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      def planesIn(lo: Long, hi: Long) = e
        .filter(col("vec_id") >= lo && col("vec_id") < hi).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0)).toSeq
      val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
      val edges = Ann.knnGraphLshBanded(assigned, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", m = 4,
        Seq(planesIn(0, 2), planesIn(2, 4)))
      Ann.persistedFor(edges)(es => graphWalk(s, Ann.edgeLookup(es), cents, collectVec(e, 201)))
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      // banded OR-amplification: two bucket columns, pair keeps when
      // EITHER band agrees — same assignment/walk replay otherwise
      annGraphOracleWhere("", "",
        centPred = scaledCentPred, queryId = 201,
        assignCtes = Some(
          s"""pl0 AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings WHERE vec_id < 2),
             |pl1 AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings
             |        WHERE vec_id >= 2 AND vec_id < 4),
             |asg AS (
             |  SELECT vec_id, embedding, cid,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
             |  FROM (SELECT e.vec_id, e.embedding, c.cid,
             |               ${dCosine("e.embedding", "c.cv")} AS csim
             |        FROM embeddings e, c)
             |),
             |cells0 AS (SELECT vec_id, embedding, cid AS cell_id FROM asg WHERE rn = 1),
             |cellsA AS (
             |  SELECT c0.vec_id, c0.embedding, c0.cell_id,
             |         CAST(sum(CASE WHEN ${dDot("c0.embedding", "pl0.pv")} > 0
             |                       THEN CAST(pow(2, pl0.pid) AS BIGINT) ELSE 0 END) AS BIGINT) AS lb0
             |  FROM cells0 c0, pl0 GROUP BY c0.vec_id, c0.embedding, c0.cell_id
             |),
             |cells AS (
             |  SELECT ca.vec_id, ca.embedding, ca.cell_id, ca.lb0,
             |         CAST(sum(CASE WHEN ${dDot("ca.embedding", "pl1.pv")} > 0
             |                       THEN CAST(pow(2, pl1.pid - 2) AS BIGINT) ELSE 0 END) AS BIGINT) AS lb1
             |  FROM cellsA ca, pl1 GROUP BY ca.vec_id, ca.embedding, ca.cell_id, ca.lb0
             |)""".stripMargin),
        pairExtraCond = " AND (a.lb0 = b.lb0 OR a.lb1 = b.lb1)")),

    // Graph ANN over a persisted NORMALIZED layout: the same walk as
    // q_ann_graph_part, but the edge ids and one vector row per node
    // are persisted once and every hop filters cached batches
    // (Ann.normalizedLookup). Same oracle: the lookup medium changes,
    // the walk does not.
    Q("q_ann_graph_warm", (s, dir) => {
      // shared pristine 8-centroid store ([[graphStores]] — built once
      // per JVM): this row measures the layout normalization + the walk
      // over cached batches
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = graphStores.cents(s, dir, 8)
      val idx = graphStores.knn8(s, dir)
      // the NORMALIZED layout: (src,dst) ids + one vector row per node
      // — O(|V|·dim + |E|) RAM instead of the store's denormalized
      // O(|E|·dim)
      val raw = s.read.parquet(idx)
      val edgeIds = raw.select("src", "dst").persist()
      val vecs = raw.select("dst", "dst_vec").dropDuplicates("dst").persist()
      edgeIds.count(); vecs.count()
      // the walk runs eagerly (driver beam loop), so the returned
      // frame is a local collection — safe to release the cache here
      val out = graphWalk(s, Ann.normalizedLookup(edgeIds, vecs), cents, collectVec(e, 9))
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
      edgeIds.unpersist(); vecs.unpersist()
      out
    }, oracle =
      // identical result contract again: the normalized layout changes
      // the hop lookup medium (cached batches vs parquet reads), never
      // the walk
      annGraphOracle),

    // BATCHED graph ANN: three queries walk the bucketed store TOGETHER
    // — per hop, ONE partition-pruned edge read serves the union of all
    // queries' frontiers (the concurrent-ask serving shape; per-query
    // results are pinned identical to the solo walk by AnnSpec). Oracle:
    // the same hop-by-hop CTE replay, parameterized by query id.
    Q("q_ann_graph_batch", (s, dir) => {
      // shared pristine store — this row measures the BATCHED walk
      // (one pruned edge read per hop for the union of frontiers)
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = graphStores.cents(s, dir, 8)
      val idx = graphStores.knn8(s, dir)
      val queries = e.filter(col("vec_id").isin(9L, 17L, 25L))
      val visited = Ann.graphSearch(s, Ann.storeLookup(s, idx, 16),
        cents, "centroid_id", "centroid_vec",
        queries, "vec_id", "embedding", beamWidth = 4, hops = 3)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("sim"), col("vec_id"))
      visited
        .select(col("query_id"), col("vec_id"), stableRound(col("sim")).as("sim"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "sim")
        .orderBy("query_id", "rank")
    }, oracle = annGraphBatchOracle),

    // Graph ANN over the src-BUCKETED edge store: identical walk, but
    // each hop's edge lookup goes through partitionBy(src_bucket) +
    // partition pruning — the 100 TB layout (the q_ann_ivf_part of the
    // graph path). Same oracle: the store changes physical layout only.
    Q("q_ann_graph_part", (s, dir) => {
      // shared pristine store — this row measures the partition-pruned
      // per-hop walk over the bucketed layout
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = graphStores.cents(s, dir, 8)
      val idx = graphStores.knn8(s, dir)
      graphWalk(s, Ann.storeLookup(s, idx, 16), cents, collectVec(e, 9))
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      // identical result contract: the src-bucketed store changes the
      // physical layout, never the walk
      annGraphOracle),

    // MARK-DELETE over the graph store (the HNSW tombstone discipline:
    // hnswlib's mark_deleted, OpenSearch's delete-until-segment-merge).
    // Every vec_id ≡ 3 (mod 10) is tombstoned — including centroid 3,
    // the structural case: marked nodes still ROUTE the walk (the
    // traversal below is byte-identical to q_ann_graph_part's), the
    // bucket-pruned serve-time filter just keeps them out of results.
    Q("q_graph_delete", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      // lifecycle at the PRODUCTION codebook discipline |C| = ⌊√N⌋
      // (size-derived on both engines, like q_ann_graph_scaled).
      // Query 201 is not a centroid at any SF (√N ≤ 141 at sf1) and
      // not tombstoned (201 % 10 ≠ 3). The pristine store is the
      // shared per-JVM build ([[graphStores]]); mark-delete never
      // touches it — tombstones are a SEPARATE sidecar dir, exactly
      // the production append-only mark store — so the measured body
      // is the delete lifecycle: mark write + routed walk + serve-
      // time filter.
      val (idx, nCents) = graphStores.knnSqrt(s, dir)
      val cents = graphStores.cents(s, dir, nCents)
      // the mark store is append-only in production; wipe it here so
      // repeated executions (bench warmup + passes) stay deterministic
      val tomb = idx + "_deltomb"
      val tp = new org.apache.hadoop.fs.Path(tomb)
      tp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(tp, true)
      Ann.writeGraphTombstones(e.filter(col("vec_id") % 10 === 3).select("vec_id"),
        "vec_id", tomb, nBuckets = 16)
      val visited = graphWalk(s, Ann.storeLookup(s, idx, 16), cents, collectVec(e, 201))
      Ann.filterTombstoned(s, visited, "vec_id", tomb, nBuckets = 16)
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      // mark-delete: the walk is untouched (tombstoned nodes still
      // route); only the final visited set is filtered. Lifecycle rows
      // run at the production √N codebook (same size-derived centPred
      // as q_ann_graph_scaled; query 201 is never a centroid).
      annGraphOracleWhere("", "id % 10 <> 3",
        centPred = scaledCentPred, queryId = 201)),

    // COMPACTION — the segment-merge half: tombstones applied
    // PHYSICALLY (marked non-centroids lose their edges and stop
    // routing — the walk itself changes, and the oracle replays the
    // reduced edge set), per-batch small files merged back to one per
    // bucket, and the mark store shrunk to just the structural
    // (centroid) marks, which the serve-time filter still drops.
    Q("q_graph_compact", (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      // same √N discipline as q_graph_delete; compaction MUTATES the
      // store physically, so it works on a fresh copy of the shared
      // pristine build — the measured body is mark write + physical
      // compaction (edge excision, small-file merge, mark shrink) +
      // the changed walk
      val (pristine, nCents) = graphStores.knnSqrt(s, dir)
      val cents = graphStores.cents(s, dir, nCents)
      val idx = graphStores.copyOf(s, pristine, dir, "cmp")
      val tomb = idx + "_tomb"
      val tp = new org.apache.hadoop.fs.Path(tomb)
      tp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(tp, true)
      Ann.writeGraphTombstones(e.filter(col("vec_id") % 10 === 3).select("vec_id"),
        "vec_id", tomb, nBuckets = 16)
      Ann.compactGraphIndex(s, idx, 16, tomb, protectedIds = (0L until nCents))
      val visited = graphWalk(s, Ann.storeLookup(s, idx, 16), cents, collectVec(e, 201))
      Ann.filterTombstoned(s, visited, "vec_id", tomb, nBuckets = 16)
        .select(col("vec_id"), stableRound(col("sim")).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }, oracle =
      // compaction: marked NON-centroids (id >= |C|) lose their edges —
      // the walk replays over the reduced edge set — while marked
      // centroids keep routing (structural) and are filtered at the
      // end. The orphan-repair CTEs replay compactGraphIndex's
      // re-anchoring: a live id whose every in-edge rode a dead src
      // (`orph`) gets one down-link back from the smallest surviving
      // protected dst among its own out-edges (`anch`). |C| is the
      // same size-derived scalar subquery as the centPred.
      annGraphOracleWhere("", "id % 10 <> 3", Some(
        s"""edges1 AS (SELECT src, dst FROM edges0
          |  WHERE NOT (src >= $scaledCentCount AND src % 10 = 3)
          |    AND NOT (dst >= $scaledCentCount AND dst % 10 = 3)),
          |orph AS (SELECT DISTINCT dst FROM edges0
          |  WHERE NOT (dst >= $scaledCentCount AND dst % 10 = 3)
          |    AND dst NOT IN (SELECT dst FROM edges1)),
          |anch AS (SELECT src AS o, min(dst) AS a FROM edges1
          |  WHERE src IN (SELECT dst FROM orph) AND dst < $scaledCentCount GROUP BY src),
          |edges AS (SELECT src, dst FROM edges1 UNION SELECT a, o FROM anch)""".stripMargin),
        centPred = scaledCentPred, queryId = 201)),
  )
}
