package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization — the vector-compression scale path for ANN
  * (complements IVF cell pruning and LSH bucketing in [[Ann]]).
  *
  * A d-dim vector is split into `m` subvectors; each subvector is
  * replaced by the id of its nearest centroid in a per-subspace codebook
  * of `k` entries. A 64-dim float64 vector (512 bytes) becomes m=8 byte
  * codes — 64× smaller, which at 100 TB is the difference between an
  * index that fits in cluster memory and one that doesn't.
  *
  * Scale shapes:
  *  - TRAIN touches the corpus through joins/aggregates (k-means per
  *    subspace, all m subspaces trained in ONE pass over exploded
  *    subvectors) — at 100 TB you train on a sample; codebooks are
  *    m×k×(d/m) doubles (KBs) regardless of corpus size.
  *  - ENCODE is map-only: broadcast codebooks, one tight argmin loop per
  *    row (`mapPartitions`, same shape as the batched embedder).
  *  - SEARCH (ADC): the query builds an m×k lookup table of subspace dot
  *    products; each encoded row's approximate score is m table reads +
  *    adds — no vector arithmetic per row. Top candidates re-rank
  *    exactly against the raw vectors (a k-row join).
  *
  * Seeds are the first `k` vectors by id (like [[Ann.headCentroids]])
  * and ties break to the lowest centroid id, so the pipeline is
  * deterministic up to floating-point summation order in the centroid
  * means (same caveat as [[Ann.kmeansRefine]]) — bit-stable in local
  * mode, where shuffle partials merge in a fixed order; on a real
  * cluster fetch-arrival order can perturb low-order centroid bits.
  * A centroid whose cluster empties during refinement keeps its
  * zero-filled codebook slot (standard k-means dropout, as in
  * kmeansRefine); the origin then acts as a catch-all for vectors far
  * from every live centroid (unit distance from any normalized vector).
  */
object Pq {

  /** cents(sub)(cid) = centroid subvector; subDim = d / m. */
  case class Codebooks(m: Int, k: Int, subDim: Int,
                       cents: Array[Array[Array[Double]]]) extends Serializable

  case class EncodedVec(id: Long, codes: Array[Byte])

  private def subvecCol(vecCol: String, sub: Int, subDim: Int) =
    slice(col(vecCol).cast("array<double>"), sub * subDim + 1, subDim)

  /** Explode vectors into (id, sub, subvec) rows — one training pass
    * covers every subspace. */
  private def subvectors(index: DataFrame, idCol: String, vecCol: String,
                         m: Int, subDim: Int): DataFrame = {
    val subs = (0 until m).map(s =>
      struct(lit(s).as("sub"), subvecCol(vecCol, s, subDim).as("subvec")))
    index.select(col(idCol).cast("long").as("id"),
      explode(array(subs: _*)).as("sv"))
      .select(col("id"), col("sv.sub").as("sub"), col("sv.subvec").as("subvec"))
  }

  /** Train per-subspace codebooks with `iters` rounds of Lloyd k-means
    * over the (id, sub, subvec) explosion. Seeds: the first k vectors by
    * id. Assignment = broadcast codebook join + min_by(dist) — partial-
    * aggregable; refinement = per-(sub, cid, dim) mean. */
  def train(index: DataFrame, idCol: String, vecCol: String,
            m: Int = 8, k: Int = 16, iters: Int = 2): Codebooks = {
    require(k <= 256, s"k=$k exceeds one byte: encode stores centroid ids as bytes")
    val d = index.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val subDim = d / m
    val sv = graft.Materialize(subvectors(index, idCol, vecCol, m, subDim))

    // seed codebooks: subvectors of the first k vectors by id
    val seedIds = index.select(col(idCol).cast("long").as("id"))
      .orderBy("id").limit(k)
    var cb: DataFrame = graft.Materialize(
      sv.join(broadcast(seedIds), Seq("id"))
        .withColumn("cid",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("sub").orderBy("id")) - 1)
        .select(col("sub"), col("cid"), col("subvec").as("cvec")))

    for (_ <- 0 until iters) {
      val dist = expr(
        "aggregate(zip_with(subvec, cvec, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)")
      val assigned = sv.join(broadcast(cb), Seq("sub"))
        .withColumn("_d", dist)
        .groupBy("id", "sub")
        // min dist, ties to lowest cid: min_by over (dist, cid) struct
        .agg(min(struct(col("_d"), col("cid"))).as("_best"))
        .select(col("id"), col("sub"), col("_best.cid").as("cid"))
      val prev = cb
      cb = graft.Materialize(
        assigned.join(sv, Seq("id", "sub"))
          .select(col("sub"), col("cid"),
            posexplode(col("subvec")).as(Seq("_dim", "_x")))
          .groupBy("sub", "cid", "_dim").agg(avg("_x").as("_mean"))
          .groupBy("sub", "cid")
          .agg(map_from_entries(collect_list(struct(col("_dim"), col("_mean")))).as("_mm"))
          .select(col("sub"), col("cid"),
            transform(sequence(lit(0), lit(subDim - 1)),
              j => coalesce(element_at(col("_mm"), j), lit(0.0))).as("cvec")))
      // materialize the new codebook (k×m rows) BEFORE releasing its
      // parent — Materialize is lazy, and dropping prev first would
      // force a recompute under the persist strategy
      cb.count()
      prev.unpersist()
    }

    // codebooks are m×k×subDim — KBs; collecting them is the point
    val cents = Array.fill(m, k)(Array.fill(subDim)(0.0))
    cb.select("sub", "cid", "cvec").collect().foreach { r =>
      cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    Codebooks(m, k, subDim, cents)
  }

  /** The seed codebook WITHOUT Lloyd refinement: subvectors of the
    * first `k` vectors by id, collected driver-side (k×d doubles — KBs).
    * Exactly [[train]] at `iters = 0` (PqSpec pins the equivalence), but
    * with no k-means float-summation dependence, so the whole
    * encode → ADC → re-rank search path becomes SQL-replayable and can
    * sit under the DuckDB value oracle. Production splits the phases the
    * same way: codebooks are trained offline (on a sample) and
    * PERSISTED; search loads them as a constant — so benching search
    * against a fixed codebook measures what a user actually runs. */
  def headCodebooks(index: DataFrame, idCol: String, vecCol: String,
                    m: Int = 8, k: Int = 16): Codebooks = {
    require(k <= 256, s"k=$k exceeds one byte: encode stores centroid ids as bytes")
    val rows = index
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy("id").limit(k).collect()
    require(rows.nonEmpty, "headCodebooks: empty index")
    val d = rows.head.getSeq[Double](1).size
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val subDim = d / m
    val cents = Array.fill(m, rows.length)(Array.fill(subDim)(0.0))
    rows.zipWithIndex.foreach { case (r, c) =>
      val v = r.getSeq[Double](1)
      var s = 0
      while (s < m) {
        cents(s)(c) = v.slice(s * subDim, (s + 1) * subDim).toArray
        s += 1
      }
    }
    Codebooks(m, rows.length, subDim, cents)
  }

  /** Map-only encode: each vector → m byte codes (nearest centroid per
    * subspace, L2, ties to lowest cid). */
  def encode(index: DataFrame, idCol: String, vecCol: String,
             cb: Codebooks): Dataset[EncodedVec] = {
    val spark = index.sparkSession
    import spark.implicits._
    val bcast = spark.sparkContext.broadcast(cb)
    val rows = index.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
    rows.mapPartitions { it =>
      val b = bcast.value
      it.map { r =>
        val vec = r.getSeq[Double](1)
        val codes = new Array[Byte](b.m)
        var s = 0
        while (s < b.m) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < b.k) {
            val cent = b.cents(s)(c)
            var dd = 0.0; var j = 0
            while (j < b.subDim) {
              val diff = vec(s * b.subDim + j) - cent(j); dd += diff * diff; j += 1
            }
            if (dd < bestD) { bestD = dd; best = c } // strict: ties keep lowest cid
            c += 1
          }
          codes(s) = best.toByte
          s += 1
        }
        EncodedVec(r.getLong(0), codes)
      }
    }
  }

  /** ADC top-`candidates` by approximate inner product: the query's m×k
    * dot-product table is broadcast; each row costs m lookups. Returns
    * (id, approx_score) descending. */
  def adcCandidates(encoded: Dataset[EncodedVec], cb: Codebooks,
                    query: Array[Double], candidates: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val lut = Array.tabulate(cb.m, cb.k) { (s, c) =>
      var acc = 0.0; var j = 0
      while (j < cb.subDim) { acc += query(s * cb.subDim + j) * cb.cents(s)(c)(j); j += 1 }
      acc
    }
    val bcast = spark.sparkContext.broadcast(lut)
    encoded.mapPartitions { it =>
      val t = bcast.value
      it.map { e =>
        var acc = 0.0; var s = 0
        while (s < t.length) { acc += t(s)(e.codes(s) & 0xff); s += 1 }
        (e.id, acc)
      }
    }.toDF("id", "approx_score")
      .orderBy(desc("approx_score"), col("id"))
      .limit(candidates)
  }

  /** IVF-PQ: the composed 100 TB ANN stack. The coarse quantizer
    * restricts the search to the query's `nprobe` nearest cells (on a
    * `partitionBy(cell_id)` store this is partition pruning —
    * [[Ann.writeIvfIndex]]); within the surviving cells, scoring is
    * ADC over the byte codes; the top `candidates` re-rank exactly.
    * `assignedEncoded` = cell-assigned rows joined with their codes
    * (`cell_id`, id, vecCol, `codes`). */
  def ivfPqSearchTopK(assignedEncoded: DataFrame, idCol: String, vecCol: String,
                      cb: Codebooks,
                      centroids: DataFrame, cIdCol: String, cVecCol: String,
                      query: Array[Double], topK: Int,
                      nprobe: Int, candidates: Int = 100): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val spark = assignedEncoded.sparkSession
    import spark.implicits._
    val q = lit(query)
    val probeCells = centroids
      .withColumn("_qsim", cosine(col(cVecCol).cast("array<double>"), q))
      .orderBy(desc("_qsim"), col(cIdCol))
      .limit(nprobe)
      .select(col(cIdCol).as("cell_id"))
    val inCells = assignedEncoded.join(broadcast(probeCells), "cell_id")
    adcThenRerank(inCells, idCol, vecCol, cb, query, topK, candidates)
  }

  /** [[Ann.writeIvfIndex]] + recall gate for the composed IVF-PQ store
    * — [[Ann.gatedPublish]]'s stage→measure→rename discipline applied
    * to the stack whose knobs are the most silently dangerous
    * (measured on the real PMC corpus, SCALE.md: untrained PQ
    * codebooks = 0.19 recall@10; widening nprobe at a fixed candidate
    * pool HURTS 0.855→0.380): build the cell-partitioned
    * assigned+codes store to a staging dir, measure recall@`k` of
    * [[ivfPqSearchPartitioned]] on that STAGED artifact against exact
    * brute force over the same rows for the CALLER'S query workload,
    * and publish only at or above `recallFloor` — a breach or any
    * measurement failure discards the staging and leaves the
    * published path (and any prior good store) untouched.
    * `assignedEncoded` is the (cell_id, id, vecCol, codes) frame
    * [[ivfPqSearchTopK]] takes; `queries` is (query_id, vector),
    * non-empty. Per-query recall divides by min(k, |truth|)
    * ([[Ann.meanRecall]]). Returns the measured recall — record it,
    * it is the build's acceptance evidence. */
  def writeIvfPqIndexGated(spark: SparkSession, assignedEncoded: DataFrame,
                           idCol: String, vecCol: String, cb: Codebooks,
                           centroids: DataFrame, cIdCol: String, cVecCol: String,
                           indexDir: String, queries: DataFrame,
                           nprobe: Int, candidates: Int = 100, k: Int = 10,
                           recallFloor: Double = 0.9): Double = {
    val table = Ann.gateQueryTable(queries, "writeIvfPqIndexGated")
    Ann.gatedPublish(spark, indexDir, recallFloor, "Pq.writeIvfPqIndexGated",
      s"nprobe=$nprobe, candidates=$candidates, k=$k, m=${cb.m}") { staging =>
      Ann.writeIvfIndex(assignedEncoded, staging)
    } { staged =>
      // exact truth: every row scored against the driver-held workload
      // in one projection, keyed by query index
      val exact = Ann.idSets(Ann.exactTopK(assignedEncoded, idCol, vecCol, table, k), idCol)
      // probe the STAGED store per query — the ADC + re-rank path a
      // serving consumer runs, partition pruning included
      val got: Map[Any, Set[Any]] = table.indices.map { qi =>
        (qi: Any) -> ivfPqSearchPartitioned(spark, staged, idCol, vecCol, cb,
            centroids, cIdCol, cVecCol, table(qi), topK = k,
            nprobe = nprobe, candidates = candidates)
          .select(col(idCol)).collect().map(_.get(0)).toSet
      }.toMap
      Ann.meanRecall(exact, got, k, "writeIvfPqIndexGated")
    }
  }

  /** IVF-PQ over a `partitionBy(cell_id)` store written by
    * [[Ann.writeIvfIndex]] — the full 100 TB ANN stack against cold
    * storage: probe cells are ranked on the driver (the coarse codebook
    * is KBs by contract), and the store read carries a STATIC
    * `cell_id IN (...)` filter, so Catalyst answers it with partition
    * pruning — only nprobe of the cell directories are opened (PlanSpec
    * pins the PartitionFilters). Within the surviving cells scoring is
    * ADC over the byte codes; the top `candidates` re-rank exactly. */
  def ivfPqSearchPartitioned(spark: SparkSession, indexDir: String,
                             idCol: String, vecCol: String, cb: Codebooks,
                             centroids: DataFrame, cIdCol: String, cVecCol: String,
                             query: Array[Double], topK: Int,
                             nprobe: Int, candidates: Int = 100): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val probeCells = centroids
      .withColumn("_qsim", cosine(col(cVecCol).cast("array<double>"), lit(query)))
      .orderBy(desc("_qsim"), col(cIdCol))
      .limit(nprobe)
      .select(col(cIdCol))
      .collect().map(_.get(0))
    val inCells = spark.read.parquet(indexDir)
      .filter(col("cell_id").isin(probeCells.toIndexedSeq: _*))
    adcThenRerank(inCells, idCol, vecCol, cb, query, topK, candidates)
  }

  /** Shared IVF-PQ tail: ADC-score the cell-pruned rows, exact-re-rank
    * the top `candidates` on the raw vectors. */
  private def adcThenRerank(inCells: DataFrame, idCol: String, vecCol: String,
                            cb: Codebooks, query: Array[Double], topK: Int,
                            candidates: Int): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val spark = inCells.sparkSession
    import spark.implicits._
    val encoded = inCells
      .select(col(idCol).cast("long"), col("codes"))
      .map(r => EncodedVec(r.getLong(0), r.getAs[Array[Byte]](1)))
    val cand = adcCandidates(encoded, cb, query, candidates)
      .select(col("id").as("_cand_id"))
    inCells
      .join(broadcast(cand), col(idCol).cast("long") === col("_cand_id"))
      .withColumn("sim", cosine(col(vecCol).cast("array<double>"), lit(query)))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(topK)
  }

  /** Full PQ search: ADC candidate generation, then exact cosine re-rank
    * of the `candidates`-row survivor set against the raw vectors. */
  def searchTopK(index: DataFrame, idCol: String, vecCol: String,
                 encoded: Dataset[EncodedVec], cb: Codebooks,
                 query: Array[Double], topK: Int,
                 candidates: Int = 100): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val cand = adcCandidates(encoded, cb, query, candidates)
      .select(col("id").as("_cand_id"))
    index
      .join(broadcast(cand), col(idCol).cast("long") === col("_cand_id"))
      .withColumn("sim", cosine(col(vecCol).cast("array<double>"), lit(query)))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(topK)
  }
}
