package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.QueryCosines
import graft.functions.VectorFunctions.cosine
import graft.operators.{Ann, GraphIndex}

class AnnSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  private lazy val embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val queryVec: Seq[Double] =
    embeddings.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

  test("brute force top-k: query vector's own row ranks first with sim 1") {
    val top = Ann.bruteForceTopK(embeddings.select("vec_id", "embedding"),
      "vec_id", "embedding", queryVec, 5).collect()
    assert(top.head.getAs[Long]("vec_id") == 0L)
    assert(math.abs(top.head.getAs[Double]("sim") - 1.0) < 1e-9)
    val sims = top.map(_.getAs[Double]("sim")).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("IVF: probing all cells recovers the exact top-k") {
    val e = embeddings.select("vec_id", "embedding")
    val cents = Ann.headCentroids(e, "vec_id", "embedding", 8)
    val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val exact = Ann.bruteForceTopK(e, "vec_id", "embedding", queryVec, 5)
      .select("vec_id").as[Long].collect().toSeq
    val ivfAll = Ann.ivfSearch(assigned, "vec_id", "embedding", cents,
      "centroid_id", "centroid_vec", queryVec, k = 5, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivfAll == exact)
    // narrow probe returns a subset of plausible candidates incl. vec 0
    val ivf2 = Ann.ivfSearch(assigned, "vec_id", "embedding", cents,
      "centroid_id", "centroid_vec", queryVec, k = 5, nprobe = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivf2.contains(0L))
  }

  test("gated IVF build: publishes at full probe width, refuses + deletes a low-recall store") {
    // deterministic 2-cell geometry: 6 vectors hug the x-axis (cell 0),
    // 6 hug the y-axis (cell 1). A query at 0° has its true top-10
    // spanning BOTH cells (10 of 12 rows), so nprobe=1 provably recalls
    // 6/10 = 0.6 — the silently-bad probe width the gate must refuse —
    // while nprobe=2 is brute force and must publish at exactly 1.0
    def onCircle(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val vecs = ((0 until 6).map(i => (i.toLong, onCircle(i * 5))) ++
      (0 until 6).map(i => (10L + i, onCircle(90 - i * 5)))).toDF("id", "vec")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cvec")
    val assigned = Ann.assignCells(vecs, "id", "vec", cents, "cid", "cvec")
    val workload = Seq((0L, onCircle(0))).toDF("qid", "qvec")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfgate").toString
    val r = Ann.writeIvfIndexGated(spark, assigned, "id", "vec",
      cents, "cid", "cvec", dir, workload,
      nprobe = 2, k = 10, recallFloor = 0.9)
    assert(r == 1.0, s"full-width IVF recall must be exact, got $r")
    assert(new java.io.File(dir).exists(), "passing store must be published")
    // nprobe = 1: only the x-cell's 6 rows can surface — recall 0.6
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ivfgate2").toString
    val err = intercept[IllegalStateException] {
      Ann.writeIvfIndexGated(spark, assigned, "id", "vec",
        cents, "cid", "cvec", dir2, workload,
        nprobe = 1, k = 10, recallFloor = 0.9)
    }
    assert(err.getMessage.contains("below the floor"), err.getMessage)
    assert(err.getMessage.contains("0.600"), err.getMessage)
    assert(!new java.io.File(s"$dir2/_SUCCESS").exists() &&
      !new java.io.File(dir2 + "__gate_staging").exists(),
      "refused IVF store must publish nothing — no store files, no staging leftovers")
    // the stage-and-rename discipline (r14 ADVICE): an in-place REBUILD
    // whose gate fails must leave the prior GOOD store serving — the
    // old write-then-measure shape deleted it
    val before = spark.read.parquet(dir).count()
    intercept[IllegalStateException] {
      Ann.writeIvfIndexGated(spark, assigned, "id", "vec",
        cents, "cid", "cvec", dir, workload,
        nprobe = 1, k = 10, recallFloor = 0.9)
    }
    assert(spark.read.parquet(dir).count() == before,
      "a failed in-place rebuild must not touch the prior published store")
    assert(!new java.io.File(dir + "__gate_staging").exists(),
      "failed rebuild must clean its staging dir")
    // tiny-but-perfect store: 12 rows probed at k=20 with full width IS
    // the exact answer — recall must divide by min(k, |truth|), not k
    val dir4 = java.nio.file.Files.createTempDirectory("graft_ivfgate4").toString
    val r4 = Ann.writeIvfIndexGated(spark, assigned, "id", "vec",
      cents, "cid", "cvec", dir4, workload,
      nprobe = 2, k = 20, recallFloor = 0.9)
    assert(r4 == 1.0,
      s"a store smaller than k whose probe is exact must measure 1.0, got $r4")
    // an empty workload refuses loudly instead of NaN-ing past the gate
    val dir3 = java.nio.file.Files.createTempDirectory("graft_ivfgate3").toString
    val empty = Seq.empty[(Long, Seq[Double])].toDF("qid", "qvec")
    val e2 = intercept[IllegalArgumentException] {
      Ann.writeIvfIndexGated(spark, assigned, "id", "vec",
        cents, "cid", "cvec", dir3, empty,
        nprobe = 2, k = 10, recallFloor = 0.9)
    }
    assert(e2.getMessage.contains("zero probes"), e2.getMessage)
    // the refusal must come BEFORE the store is written — an ungated
    // store left on disk is exactly what the gate exists to prevent
    assert(!new java.io.File(s"$dir3").exists() ||
      new java.io.File(s"$dir3").list().isEmpty,
      "empty-workload refusal must not publish a store")
  }

  test("hierarchical assignment: nSupers = |C| is exactly flat assignCells") {
    // with every centroid its own super, level-1 routing picks the true
    // nearest centroid and level-2 degenerates to a singleton argmax —
    // the two-level form must be BIT-identical to the flat one
    val e = embeddings.select("vec_id", "embedding")
    val cents = Ann.headCentroids(e, "vec_id", "embedding", 22)
    val flat = Ann.assignCells(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec")
      .select("vec_id", "cell_id", "cell_sim").collect().map(r => (r.getLong(0), r.get(1), r.getDouble(2))).toSet
    val hier = Ann.assignCellsHier(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", nSupers = 22)
      .select("vec_id", "cell_id", "cell_sim").collect().map(r => (r.getLong(0), r.get(1), r.getDouble(2))).toSet
    assert(hier == flat)
  }

  test("hierarchical assignment: deterministic, map-only, high flat agreement at sqrt(|C|) supers") {
    val e = embeddings.select("vec_id", "embedding")
    val cents = Ann.headCentroids(e, "vec_id", "embedding", 22)
    val hier = Ann.assignCellsHier(e, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", nSupers = 4)
    // one codegen'd projection like the flat form: the routed argmax
    // must introduce no join and no shuffle
    val plan = hier.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"two-level assignment must stay map-only:\n$plan")
    val a = hier.select("vec_id", "cell_id").collect().map(r => (r.getLong(0), r.get(1))).toMap
    val b = Ann.assignCellsHier(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", nSupers = 4)
      .select("vec_id", "cell_id").collect().map(r => (r.getLong(0), r.get(1))).toMap
    assert(a == b, "two runs diverged — assignment must be deterministic")
    // approximation quality on the synthetic near-RANDOM testdata
    // vectors — ANN's worst case (no cluster structure to route by;
    // same caveat as the recall section in SCALE.md): agreement with
    // flat is genuinely noisy here (measured 0.48), but the mean
    // assignment sim must stay within a whisker of flat's — routing
    // losses land on near-ties, not on confident assignments
    val flat = Ann.assignCells(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec")
      .select("vec_id", "cell_id").collect().map(r => (r.getLong(0), r.get(1))).toMap
    val agree = a.count { case (k, v) => flat(k) == v }.toDouble / a.size
    assert(agree >= 0.4, s"flat-agreement $agree too low for routed assignment")
    val meanSim = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(avg("cell_sim")).head().getDouble(0)
    val hm = meanSim(Ann.assignCellsHier(e, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", nSupers = 4))
    val fm = meanSim(Ann.assignCells(e, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec"))
    // measured on this data: flat 0.270, hier 0.226 (ratio 0.84) — on
    // random vectors every centroid is a near-tie, so routing losses
    // are bounded but visible; on clustered data (next test) they are
    // exactly zero
    assert(hm >= 0.8 * fm, s"hier mean cell_sim $hm degraded vs flat $fm")
  }

  test("hierarchical assignment routes exactly on clustered data") {
    // the realistic regime: vectors with actual cluster structure. 4
    // orthogonal cluster directions, 6 centroids per direction (small
    // perturbations inside the cluster), members tightly around them —
    // nearest-super routing is unambiguous, so two-level must equal
    // flat on EVERY row, not just on average
    val dim = 8
    def base(k: Int): Array[Double] = Array.tabulate(dim)(i => if (i == k) 1.0 else 0.0)
    def jitter(b: Array[Double], eps: Double, j: Int): Seq[Double] =
      b.zipWithIndex.map { case (x, i) => x + (if (i == (j + 4) % dim) eps else 0.0) }.toSeq
    // centroid ids 0..23: cluster k owns ids [k*6, k*6+6); the first
    // centroid of each cluster is the pure direction (ids 0,6,12,18
    // are NOT the 4 lowest ids, so supers = head-4 = ids 0..3 all come
    // from cluster 0 — deliberately adversarial: routing still works
    // because cluster-0 supers score ~0 against other clusters' rows,
    // and those rows route via whichever super ties best... so instead
    // pick supers one per cluster by making ids 0..3 the pure bases.
    val cents = (0 until 4).flatMap { k =>
      (base(k).toSeq, k.toLong) +: (1 until 6).map(j => (jitter(base(k), 0.05 * j, j), 4L + k * 5 + j - 1))
    }.toDF("centroid_vec", "centroid_id")
      .select(col("centroid_id"), col("centroid_vec").cast("array<double>").as("centroid_vec"))
    val rows = (0 until 4).flatMap { k =>
      (0 until 25).map(r => (jitter(base(k), 0.02 * (r % 5), r % 4), (100 + k * 25 + r).toLong))
    }.toDF("embedding", "vec_id")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val flat = Ann.assignCells(rows, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec")
      .select("vec_id", "cell_id").collect().map(r => (r.getLong(0), r.get(1))).toMap
    val hier = Ann.assignCellsHier(rows, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", nSupers = 4)
      .select("vec_id", "cell_id").collect().map(r => (r.getLong(0), r.get(1))).toMap
    assert(hier == flat,
      s"two-level routing diverged from flat on separated clusters: ${hier.toSet.diff(flat.toSet)}")
  }

  test("hierarchical assignment: probing every super ≡ flat, for any |S|") {
    // superProbes = |S| makes the probed member union the WHOLE
    // codebook, so the two-level argmax must equal flat assignCells
    // bitwise regardless of how badly the supers route — the invariant
    // that makes the probe count a safe recall knob
    val e = embeddings.select("vec_id", "embedding")
    val cents = Ann.headCentroids(e, "vec_id", "embedding", 22)
    val flat = Ann.assignCells(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec")
      .select("vec_id", "cell_id", "cell_sim").collect()
      .map(r => (r.getLong(0), r.get(1), r.getDouble(2))).toSet
    for (nS <- Seq(3, 4, 7)) {
      val hier = Ann.assignCellsHier(e, "vec_id", "embedding",
          cents, "centroid_id", "centroid_vec", nSupers = nS, superProbes = nS)
        .select("vec_id", "cell_id", "cell_sim").collect()
        .map(r => (r.getLong(0), r.get(1), r.getDouble(2))).toSet
      assert(hier == flat, s"probe-all at |S|=$nS diverged from flat")
    }
  }

  test("hierarchical assignment: trained super book routes; memberless supers pruned") {
    val e = embeddings.select("vec_id", "embedding")
    val cents = Ann.headCentroids(e, "vec_id", "embedding", 22)
    // a trained-style book: two real vectors + a DUPLICATE of the
    // first as the third super — every centroid's routing tie between
    // index 0 and index 2 keeps the lower index (strict-> first-wins),
    // so super 2 is provably memberless and the pruning path must drop
    // it; the result must also be deterministic across runs
    val v0 = e.filter(col("vec_id") === 5)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val v1 = e.filter(col("vec_id") === 99)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val book: Seq[Seq[Double]] = Seq(v0, v1, v0)
    def run() = Ann.assignCellsHier(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", nSupers = 1,
        superProbes = 2, superVecs = book)
      .select("vec_id", "cell_id").collect()
      .map(r => (r.getLong(0), r.get(1))).toMap
    val a = run()
    assert(a == run(), "trained-book assignment must be deterministic")
    // probing BOTH live supers covers the whole codebook (every
    // centroid routed to one of the two live supers) → flat equality
    val flat = Ann.assignCells(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec")
      .select("vec_id", "cell_id").collect()
      .map(r => (r.getLong(0), r.get(1))).toMap
    assert(a == flat,
      "with the dead super pruned, probing both live supers must equal flat")
  }

  test("LSH-confined edge build: bucket-degenerate planes ≡ plain knnGraph; confinement is real") {
    val e = embeddings.select("vec_id", "embedding")
    val cents = Ann.headCentroids(e, "vec_id", "embedding", 8)
    val assigned = Ann.assignCells(e, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    // all-zero planes: every dot is 0 (not > 0) → one bucket → the
    // confined build must be EDGE-IDENTICAL to the plain one
    val zeroPlanes = Seq.fill(2)(Seq.fill(dim)(0.0))
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = edgeSet(Ann.knnGraph(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 4))
    val degenerate = edgeSet(Ann.knnGraphLsh(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 4, zeroPlanes))
    assert(degenerate == plain,
      "single-bucket planes must reproduce the unconfined edge set exactly")
    // real planes: every top-m pair shares cell AND bucket (the
    // centroid up-links and the clique are exempt by construction),
    // and the pair-stage candidate count genuinely shrinks
    val planes = e.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq
    val withMeta = assigned
      .withColumn("_lb", Ann.lshBucket(col("embedding"), planes))
      .select(col("vec_id"), col("cell_id"), col("_lb"))
      .collect().map(r => r.getLong(0) -> (r.get(1), r.getLong(2))).toMap
    val confined = Ann.knnGraphLsh(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 4, planes)
    val centIds = cents.select("centroid_id").as[Long].collect().toSet
    val structural = (src: Long, dst: Long) =>
      centIds.contains(dst) || (centIds.contains(src) && centIds.contains(dst))
    val offenders = edgeSet(confined).filterNot { case (s, d) =>
      structural(s, d) || structural(d, s) ||
        (withMeta(s)._1 == withMeta(d)._1 && withMeta(s)._2 == withMeta(d)._2)
    }
    assert(offenders.isEmpty,
      s"${offenders.size} top-m edges cross an LSH bucket: ${offenders.take(5)}")
    assert(edgeSet(confined).size < plain.size,
      "confinement changed nothing — planes failed to split any cell")
  }

  test("banded LSH edge build: 1 band ≡ knnGraphLsh; R bands = union of band candidates") {
    val e = embeddings.select("vec_id", "embedding")
    val cents = Ann.headCentroids(e, "vec_id", "embedding", 8)
    val assigned = Ann.assignCells(e, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec")
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planesA = e.filter(col("vec_id") < 2).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq
    val planesB = e.filter(col("vec_id") >= 2 && col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq
    // one band degenerates to the single-band build exactly
    val one = edgeSet(Ann.knnGraphLshBanded(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 4, Seq(planesA)))
    val single = edgeSet(Ann.knnGraphLsh(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 4, planesA))
    assert(one == single, "1-band build must equal the single-band build")
    // with m above any cell size, top-m keeps EVERY candidate: the
    // two-band edge set must be exactly the union of the per-band sets
    val big = 10000
    val bandA = edgeSet(Ann.knnGraphLsh(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = big, planesA))
    val bandB = edgeSet(Ann.knnGraphLsh(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = big, planesB))
    val both = edgeSet(Ann.knnGraphLshBanded(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = big, Seq(planesA, planesB)))
    assert(both == (bandA ++ bandB),
      "uncapped banded edges must be the union of the per-band edge sets")
    // OR-amplification is real on this data: the union is strictly
    // richer than either band alone
    assert(both.size > bandA.size && both.size > bandB.size,
      "bands were identical — fixture planes failed to differ")
  }

  test("centeredPlanes: plane = data row minus the exact corpus mean; bands partition them") {
    val e = embeddings.select("vec_id", "embedding").filter(col("vec_id") < 50)
    val rows = e.orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val dim = rows.head.length
    val mean = (0 until dim).map(j => rows.map(_(j)).sum / rows.length)
    val planes = Ann.centeredPlanes(e, "vec_id", "embedding", 3)
    assert(planes.length == 3 && planes.forall(_.length == dim))
    planes.zipWithIndex.foreach { case (p, i) =>
      p.indices.foreach { j =>
        assert(math.abs(p(j) - (rows(i)(j) - mean(j))) < 1e-9,
          s"plane $i dim $j: expected row - mean")
      }
    }
    val bands = Ann.centeredPlaneBands(e, "vec_id", "embedding", 2, 2)
    assert(bands.length == 2 && bands.forall(_.length == 2))
    assert(bands.flatten == Ann.centeredPlanes(e, "vec_id", "embedding", 4),
      "bands must partition the first nBands*ppb centered planes in order")
  }

  test("orthogonalPlaneBands: mutually orthogonal unit planes, deterministic, partitioned") {
    val e = embeddings.select("vec_id", "embedding").filter(col("vec_id") < 200)
    val bands = Ann.orthogonalPlaneBands(e, "vec_id", "embedding", 2, 2)
    assert(bands.length == 2 && bands.forall(_.length == 2))
    val flat = bands.flatten.map(_.toArray)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    // pairwise orthogonal, each unit-norm (Gram-Schmidt contract)
    for (i <- flat.indices; j <- flat.indices if i < j)
      assert(math.abs(dot(flat(i), flat(j))) < 1e-9, s"planes $i,$j not orthogonal")
    flat.foreach(p => assert(math.abs(dot(p, p) - 1.0) < 1e-9, "plane not unit-norm"))
    // deterministic across calls
    assert(Ann.orthogonalPlaneBands(e, "vec_id", "embedding", 2, 2) == bands)
    // a corpus too small/duplicated to yield the directions refuses loudly
    val dup = embeddings.select("vec_id", "embedding").filter(col("vec_id") === 0)
    intercept[IllegalArgumentException] {
      Ann.orthogonalPlaneBands(dup, "vec_id", "embedding", 2, 2)
    }
  }

  test("sampled k-means training: frac=1 ≡ unsampled bitwise; fraction trains deterministically") {
    val e = embeddings.select("vec_id", "embedding")
    val init = Ann.headCentroids(e, "vec_id", "embedding", 8)
    def centMap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("centroid_id"), col("centroid_vec").cast("array<double>"))
        .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
    val full = centMap(Ann.kmeansRefine(e, "vec_id", "embedding", init,
      Schemas.EmbeddingDim, iters = 2))
    val fracOne = centMap(Ann.kmeansRefine(e, "vec_id", "embedding", init,
      Schemas.EmbeddingDim, iters = 2, sampleFrac = 1.0))
    assert(fracOne == full, "sampleFrac = 1.0 must be the identical unsampled path")
    // a genuine fraction: deterministic across runs (hashed sample, no
    // RNG), trains on strictly fewer rows, and still yields a codebook
    // every row can be assigned against
    val half1 = centMap(Ann.kmeansRefine(e, "vec_id", "embedding", init,
      Schemas.EmbeddingDim, iters = 2, sampleFrac = 0.5))
    val half2 = centMap(Ann.kmeansRefine(e, "vec_id", "embedding", init,
      Schemas.EmbeddingDim, iters = 2, sampleFrac = 0.5))
    assert(half1 == half2, "hashed-sample training must be run-deterministic")
    assert(half1 != full, "0.5 sample unexpectedly saw the whole corpus")
    val assigned = Ann.assignCells(e, "vec_id", "embedding",
      Ann.kmeansRefine(e, "vec_id", "embedding", init, Schemas.EmbeddingDim,
        iters = 2, sampleFrac = 0.5),
      "centroid_id", "centroid_vec")
    assert(assigned.count() == e.count())
    intercept[IllegalArgumentException] {
      Ann.kmeansRefine(e, "vec_id", "embedding", init, Schemas.EmbeddingDim,
        iters = 1, sampleFrac = 0.0)
    }
  }

  test("k-means refinement tightens cells (mean assignment sim does not degrade)") {
    val e = embeddings.select("vec_id", "embedding")
    val init = Ann.headCentroids(e, "vec_id", "embedding", 8)
    def meanSim(cents: org.apache.spark.sql.DataFrame): Double =
      Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
        .agg(avg("cell_sim")).head().getDouble(0)
    val before = meanSim(init)
    val refined = Ann.kmeansRefine(e, "vec_id", "embedding", init, Schemas.EmbeddingDim, iters = 2)
    val after = meanSim(refined)
    assert(refined.count() <= 8)
    assert(refined.select("centroid_vec").head().getSeq[Double](0).length == Schemas.EmbeddingDim)
    assert(after >= before - 1e-9, s"refinement degraded assignment: $before -> $after")
    // refined centroids still support exact-recall search at full probe
    val exact = Ann.bruteForceTopK(e, "vec_id", "embedding", queryVec, 5)
      .select("vec_id").as[Long].collect().toSeq
    val assigned = Ann.assignCells(e, "vec_id", "embedding", refined, "centroid_id", "centroid_vec")
    val nCells = refined.count().toInt
    val full = Ann.ivfSearch(assigned, "vec_id", "embedding", refined,
      "centroid_id", "centroid_vec", queryVec, k = 5, nprobe = nCells)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == exact)
  }

  test("sign-LSH search: query bucket contains the query row itself") {
    val e = embeddings.select("vec_id", "embedding")
    val planes = e.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    val hits = Ann.lshSearch(e, "vec_id", "embedding", planes, queryVec, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(hits.contains(0L))
  }

  test("MLlib BRP-LSH: approx neighbors of the query include itself; deterministic under seed") {
    val e = embeddings.select("vec_id", "embedding")
    val (model, transformed) = Ann.fitBrpLsh(e, "embedding", numHashTables = 4, bucketLength = 2.0)
    val nn = Ann.brpApproxNeighbors(model, transformed, queryVec, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(nn.contains(0L))
    val (model2, transformed2) = Ann.fitBrpLsh(e, "embedding", numHashTables = 4, bucketLength = 2.0)
    val nn2 = Ann.brpApproxNeighbors(model2, transformed2, queryVec, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(nn == nn2)
  }

  test("MLlib BRP-LSH top-10 recall >= 0.7 vs brute force (sf0.01, seeded)") {
    import graft.functions.VectorFunctions.withL2Normalized
    // L2-normalize so Euclidean ANN == cosine ANN (d² = 2 − 2·cos) and the
    // recall comparison against the cosine brute force is apples-to-apples
    val e01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val normed = withL2Normalized(e01.select("vec_id", "embedding"), "embedding", "nvec")
      .select(col("vec_id"), col("nvec").as("embedding"))
    val qv = normed.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Double](0)
    val exact = Ann.bruteForceTopK(normed, "vec_id", "embedding", qv, 10)
      .select("vec_id").as[Long].collect().toSet
    val (model, transformed) = Ann.fitBrpLsh(normed, "embedding",
      numHashTables = 4, bucketLength = 2.0, seed = 42L)
    val approx = Ann.brpApproxNeighbors(model, transformed, qv, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"BRP-LSH top-10 recall $recall < 0.7 vs brute force")
  }

  test("MLlib MinHashLSH candidates cover the exact Jaccard pairs (sf0.001)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // exact pairs at τ=0.3 (block = source), recomputed over one block key
    // so the MLlib join (which has no blocking) is comparable
    val oneBlock = docs.withColumn("source", lit("all"))
    val exact = graft.operators.Dedup.jaccardPairs(oneBlock, "doc_id", "text", "source",
        shingleN = 3, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain at least one near-dup pair at τ=0.3")
    // jaccard_dist <= 0.7  <=>  jaccard >= 0.3
    val ml = Ann.mlMinHashJoin(docs, "doc_id", "text",
        shingleN = 3, numHashTables = 8, maxJaccardDistance = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val covered = exact.intersect(ml).size.toDouble / exact.size
    assert(covered >= 0.7, s"MinHashLSH covered only $covered of exact pairs")
  }

  test("fixed-plane BRP: query row is a candidate at dist 0; candidates genuinely pruned") {
    val e = embeddings.select("vec_id", "embedding")
    val planes = e.filter(col("vec_id").between(4, 7)).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq
    val cand = Ann.brpFixedCandidates(e, "embedding", planes, 0.05, queryVec)
    val total = e.count()
    val n = cand.count()
    // every plane puts the query in its own bucket, so vec 0 must survive
    val self = cand.filter(col("vec_id") === 0).select("dist").head().getDouble(0)
    assert(self == 0.0, s"self-distance should be exactly 0, got $self")
    assert(n < total, s"no pruning: $n of $total rows are candidates")
    assert(n >= 10, s"candidate set too small for a top-10: $n")
  }

  test("fixed-plane BRP distances agree with exact Euclidean on the candidate set") {
    val e = embeddings.select("vec_id", "embedding")
    val planes = e.filter(col("vec_id").between(4, 7)).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq
    val got = Ann.brpFixedCandidates(e, "embedding", planes, 0.05, queryVec)
      .select(col("vec_id"), col("dist")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vecs = e.filter(col("vec_id").isin(got.keys.toSeq.map(Long.box): _*))
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    vecs.foreach { case (id, v) =>
      val d = math.sqrt(v.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(math.abs(got(id) - d) < 1e-9, s"vec $id: ${got(id)} vs exact $d")
    }
  }

  test("fixed-plane BRP rejects empty planes and non-positive bucketLength") {
    val e = embeddings.select("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Ann.brpFixedCandidates(e, "embedding", Seq.empty, 0.05, queryVec)
    }
    intercept[IllegalArgumentException] {
      Ann.brpFixedCandidates(e, "embedding", Seq(queryVec), 0.0, queryVec)
    }
  }

  /** The navigable-walk fixture: 8 head-row centroids, an m=8 graph,
    * its bucketed store, and a non-centroid query (vec 9) the walk has
    * to navigate to — centroid -> cell -> node. */
  private final class Navigable {
    val e = embeddings.select("vec_id", "embedding")
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 8)
    val qv = vecOf(e, 9)
    lazy val idx = {
      val dir = java.nio.file.Files.createTempDirectory("graft_knng").toString + "/idx"
      Ann.writeGraphIndex(edges, dir, nBuckets = 16)
      dir
    }
  }
  private lazy val navigable = new Navigable

  private def vecOf(e: DataFrame, id: Long): Seq[Double] =
    e.filter(col("vec_id") === id)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

  /** One query's visited (vec_id, sim) rows: the one Spark walk over a
    * one-row query table. */
  private def walkOne(lookup: Seq[Long] => DataFrame, cents: DataFrame, qv: Seq[Double],
                      beamWidth: Int, hops: Int): DataFrame =
    Ann.graphSearch(spark, lookup, cents, "centroid_id", "centroid_vec",
      Ann.oneQuery(spark, qv), "query_id", "vector", beamWidth, hops).drop("query_id")

  test("graph ANN: bounded degree, navigable walk, recall@10 >= 0.7 vs brute force") {
    val f = navigable
    import f.{e, cents, edges, qv}
    // edge budget: <= |V|(2m+1) + |C|(|C|-1) rows (undirected in-cell
    // doubles the top-m lists; per-node in-degree is heuristic-bounded)
    val nV = e.count()
    assert(edges.count() <= nV * 17 + 56, "edge table exceeds the |V|(2m+1)+|C|^2 budget")
    val exact = Ann.bruteForceTopK(e, "vec_id", "embedding", qv, 10)
      .select("vec_id").as[Long].collect().toSet
    def walk() = Ann.persistedFor(edges)(es =>
        walkOne(Ann.edgeLookup(es), cents, qv, beamWidth = 16, hops = 6))
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    val got = walk()
    assert(got.contains(9L), "walk never reached the query's own row")
    val recall = exact.intersect(got.toSet).size.toDouble / exact.size
    assert(recall >= 0.7, s"graph-ANN top-10 recall $recall < 0.7 vs brute force")
    assert(walk() == got, "graph walk is not deterministic")
    // the bucketed store is a physical-layout change only: same walk
    val partWalk = walkOne(Ann.storeLookup(spark, f.idx, 16), cents, qv, beamWidth = 8, hops = 4)
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    val memWalk = Ann.persistedFor(edges)(es =>
        walkOne(Ann.edgeLookup(es), cents, qv, beamWidth = 8, hops = 4))
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    assert(partWalk == memWalk, "bucketed-store walk diverged from the in-memory walk")
    // the NORMALIZED layout (edge ids + one vec row per node — the
    // O(|V|·dim + |E|) footprint q_ann_graph_warm walks) reproduces the same
    // walk: the hop join reconstructs exactly the denormalized rows
    val edgeIds = edges.select("src", "dst")
    val vecs = edges.select("dst", "dst_vec").dropDuplicates("dst")
    assert(vecs.count() < edges.count(), "one vector row per node, not per edge")
    val normWalk = walkOne(Ann.normalizedLookup(edgeIds, vecs), cents, qv, beamWidth = 8, hops = 4)
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    assert(normWalk == memWalk, "normalized resident walk diverged")
    // several queries: same per-query rows over either resident layout
    val qdf = e.filter(col("vec_id").isin(9L, 17L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batchDenorm = Ann.persistedFor(edges)(es => Ann.graphSearch(spark, Ann.edgeLookup(es),
        cents, "centroid_id", "centroid_vec", qdf, "qid", "qv", 8, 4))
      .select("query_id", "vec_id", "sim")
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val batchNorm = Ann.graphSearch(spark, Ann.normalizedLookup(edgeIds, vecs),
        cents, "centroid_id", "centroid_vec", qdf, "qid", "qv", 8, 4)
      .select("query_id", "vec_id", "sim")
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(batchNorm == batchDenorm, "normalized batched walk diverged")
  }

  /** The single-query Spark walk [[Ann.graphSearch]] replaced, kept as
    * the reference: entry by orderBy/limit over a literal-query cosine
    * column, a driver-side expand-once frontier, and a visited map the
    * hop's scores overwrite. `asked` records every lookup's frontier. */
  private def soloWalk(centroids: DataFrame, queryVec: Seq[Double], beamWidth: Int, hops: Int,
                       lookup: Seq[Long] => DataFrame,
                       asked: scala.collection.mutable.Buffer[Seq[Long]] =
                         scala.collection.mutable.Buffer.empty): Map[Long, Double] = {
    val q = lit(queryVec.toArray)
    var visited = centroids
      .withColumn("_sim", cosine(col("centroid_vec"), q))
      .orderBy(desc("_sim"), col("centroid_id"))
      .limit(beamWidth)
      .select(col("centroid_id").cast("long"), col("_sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expanded = scala.collection.mutable.HashSet.empty[Long]
    for (_ <- 0 until hops) {
      val frontier = visited.toSeq.sortBy { case (id, s) => (-s, id) }
        .take(beamWidth).map(_._1).filter(expanded.add)
      if (frontier.nonEmpty) {
        asked += frontier
        val cand = lookup(frontier)
          .select(col("dst").cast("long"), cosine(col("dst_vec"), q).as("_sim"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1))
        visited = visited ++ cand
      }
    }
    visited
  }

  test("one walk: a one-row query table equals the single-query reference walk on raw bits") {
    val f = navigable
    import f.{cents, edges, qv}
    val edgeIds = edges.select("src", "dst").persist()
    val vecs = edges.select("dst", "dst_vec").dropDuplicates("dst").persist()
    def recording(lookup: Seq[Long] => DataFrame,
                  asked: scala.collection.mutable.Buffer[Seq[Long]]): Seq[Long] => DataFrame =
      frontier => { asked += frontier; lookup(frontier) }
    def check(what: String, lookup: Seq[Long] => DataFrame, centroids: DataFrame,
              query: Seq[Double], beam: Int, hops: Int): Unit = {
      val askedRef, askedGot = scala.collection.mutable.Buffer.empty[Seq[Long]]
      val expect = soloWalk(centroids, query, beam, hops, lookup, askedRef)
      val got = walkOne(recording(lookup, askedGot), centroids, query, beam, hops)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assertSameBits(got, expect, s"$what beam=$beam hops=$hops")
      // the same srcs looked up in the same hops: each expanded once
      assert(askedGot.map(_.toSet) == askedRef.map(_.toSet),
        s"$what: lookups differ — got $askedGot, reference $askedRef")
    }
    Ann.persistedFor(edges) { es =>
      for ((beam, hops) <- Seq((8, 4), (16, 6))) {
        check("store", Ann.storeLookup(spark, f.idx, 16), cents, qv, beam, hops)
        check("in-memory", Ann.edgeLookup(es), cents, qv, beam, hops)
        check("normalized", Ann.normalizedLookup(edgeIds, vecs), cents, qv, beam, hops)
      }
      // a zero query ties every sim at 0.0, so the entry and every
      // frontier fall to the id tie-break; the centroids arrive in
      // descending id order, so arrival order cannot stand in for it
      val zero = Seq.fill(qv.length)(0.0)
      check("in-memory, all sims tied", Ann.edgeLookup(es),
        cents.orderBy(desc("centroid_id")), zero, beam = 3, hops = 3)
    }
    edgeIds.unpersist(); vecs.unpersist()
  }

  test("graph ANN high-recall point: mean recall@10 >= 0.9 at m=16, beam=16, hops=3") {
    // The RecallSweep-chosen setting (ROUND_NOTES round 9 records the
    // full recall-vs-cost surface): the reference runs its HNSW in a
    // high-recall regime (m=64, ef_construction=500, app/main.py:272-277),
    // so the committed bar is >= 0.9, not the navigability-smoke 0.7.
    // Sweep observation: recall rides m and beam; hops saturate at 2-3
    // because the all-centroid entry scan already plays HNSW's
    // upper-layer role (measured 0.96 at this point on this corpus).
    val e = embeddings.select("vec_id", "embedding")
    val n = e.count()
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 16)
    val qids = (0 until 10).map(i => 9L + i * (n / 10))
    val queries = e.filter(col("vec_id").isin(qids.map(Long.box): _*))
    val visited = Ann.persistedFor(edges)(es => Ann.graphSearch(spark, Ann.edgeLookup(es),
        cents, "centroid_id", "centroid_vec",
        queries, "vec_id", "embedding", beamWidth = 16, hops = 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val recalls = qids.map { qid =>
      val qv = e.filter(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val exact = Ann.bruteForceTopK(e, "vec_id", "embedding", qv, 10)
        .select("vec_id").as[Long].collect().toSet
      val got = visited.getOrElse(qid, Array.empty)
        .sortBy { case (_, id, s) => (-s, id) }.take(10).map(_._2).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean < 0.9 at m=16/beam=16/hops=3 " +
      s"(per-query: ${qids.zip(recalls).mkString(", ")})")
  }

  test("batched graph search == solo walks; lookups per hop don't scale with query count") {
    val e = embeddings.select("vec_id", "embedding")
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 4)
    val idx = java.nio.file.Files.createTempDirectory("graft_knng_batch").toString + "/idx"
    Ann.writeGraphIndex(edges, idx, nBuckets = 16)
    val qids = Seq(9L, 17L, 25L)
    val queries = e.filter(col("vec_id").isin(qids.map(Long.box): _*))
    val batch = Ann.graphSearch(spark, Ann.storeLookup(spark, idx, 16),
        cents, "centroid_id", "centroid_vec",
        queries, "vec_id", "embedding", beamWidth = 4, hops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    assert(batch.keySet == qids.toSet, s"batch lost queries: ${batch.keySet}")
    // every query's visited set (ids AND sims) is exactly the solo
    // reference walk's
    for (qid <- qids) {
      val solo = soloWalk(cents, vecOf(e, qid), beamWidth = 4, hops = 3,
        Ann.storeLookup(spark, idx, 16))
      val got = batch(qid).map(t => t._2 -> t._3).toMap
      assert(got == solo, s"batch walk for query $qid diverged from solo walk")
    }
    // the serving claim: a hop issues ONE edge lookup for the union
    // frontier — lookup count is `hops`, independent of query count
    def countLookups(qs: org.apache.spark.sql.DataFrame): Int = {
      var n = 0
      Ann.graphSearch(spark,
        { frontier => n += 1
          edges.filter(col("src").isin(frontier.map(Long.box): _*)) },
        cents, "centroid_id", "centroid_vec",
        qs, "vec_id", "embedding", 4, 3).count()
      n
    }
    val one = countLookups(queries.limit(1))
    val three = countLookups(queries)
    assert(one == 3 && three == 3,
      s"per-hop lookups must not scale with query count: 1-query=$one 3-query=$three")
  }

  test("graph insert: appended batch is searchable; existing edges untouched") {
    val e = embeddings.select("vec_id", "embedding")
    val existing = e.filter(col("vec_id") < 400)
    val batch = e.filter(col("vec_id") >= 400)
    val cents = existing.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val asgE = Ann.assignCells(existing, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val asgB = Ann.assignCells(batch, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val edges0 = Ann.knnGraph(asgE, "vec_id", "embedding", cents, "centroid_id", "centroid_vec", m = 4)
    val idx = java.nio.file.Files.createTempDirectory("graft_knng_ins").toString + "/idx"
    Ann.writeGraphIndex(edges0, idx, nBuckets = 16)
    val n0 = spark.read.parquet(idx).count()
    val newEdges = Ann.graphInsert(asgE, asgB, "vec_id", "embedding", m = 4)
    // insert cost is the batch's: every new edge touches a batch node
    assert(newEdges.filter(col("src") < 400 && col("dst") < 400).count() == 0)
    Ann.appendGraphIndex(newEdges, idx, nBuckets = 16)
    // pure append: old rows still there, exactly the new rows added
    assert(spark.read.parquet(idx).count() == n0 + newEdges.count())
    // an inserted node is reachable by searching for its own vector
    val qv = e.filter(col("vec_id") === 450)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val got = walkOne(Ann.storeLookup(spark, idx, 16), cents, qv, beamWidth = 8, hops = 4)
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.contains(450L), s"inserted node 450 not found; got $got")
  }

  test("compaction repair: orphaned live node gets a centroid down-link, stays reachable") {
    // m=1 cell {c=0, a=1, x=2}: the up-links are DIRECTED node→centroid
    // and c's top-1 is a, so x's ONLY in-edge is a→x — deleting a
    // orphans x unless compaction re-anchors it.
    val e = Seq(
      (0L, Seq(1.0, 0.0)), // centroid c
      (1L, Seq(0.5, 1.0)), // a — nearest neighbor of both c and x
      (2L, Seq(0.4, 1.0))) // x — in-linked only from a
      .toDF("vec_id", "embedding")
    val cents = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 1)
    assert(edges.filter(col("dst") === 2).select("src").as[Long].collect().toSeq == Seq(1L),
      "precondition: x's in-edges must be exactly {a→x} or this test proves nothing")
    val dir = java.nio.file.Files.createTempDirectory("graft_knng_rep").toString
    val idx = dir + "/idx"; val tomb = dir + "/tomb"
    Ann.writeGraphIndex(edges, idx, nBuckets = 4)
    Ann.writeGraphTombstones(Seq(1L).toDF("vec_id"), "vec_id", tomb, nBuckets = 4)
    Ann.compactGraphIndex(spark, idx, 4, tomb, protectedIds = Seq(0L))
    val kept = spark.read.parquet(idx)
    val rep = kept.filter(col("src") === 0 && col("dst") === 2)
    assert(rep.count() == 1,
      s"expected the repair down-link 0→2; store: ${kept.collect().toSeq}")
    assert(rep.select(col("dst_vec").cast("array<double>")).head()
      .getSeq[Double](0) == Seq(0.4, 1.0), "repair edge must carry x's vector")
    val got = walkOne(Ann.storeLookup(spark, idx, 4), cents, Seq(0.4, 1.0), beamWidth = 2, hops = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got.contains(2L), s"orphaned node 2 unreachable after compaction: $got")
  }

  test("compacting a fully-tombstoned store deletes it, never leaves an unreadable dir") {
    val e = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.5, 1.0))).toDF("vec_id", "embedding")
    val cents = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_knng_empty").toString
    val idx = dir + "/idx"; val tomb = dir + "/tomb"
    Ann.writeGraphIndex(edges, idx, nBuckets = 4)
    Ann.writeGraphTombstones(Seq(0L, 1L).toDF("vec_id"), "vec_id", tomb, nBuckets = 4)
    Ann.compactGraphIndex(spark, idx, 4, tomb, protectedIds = Nil)
    assert(!new java.io.File(idx).exists,
      "empty store must be deleted outright — a _SUCCESS-only dir poisons later reads")
    assert(!new java.io.File(tomb).exists, "no marks survive a full physical purge")
  }

  test("projected coarse search + exact re-rank: recall@10 >= 0.7 at 4x cheaper scans") {
    import graft.functions.VectorFunctions.{rademacherPlanes, withRandomProjection}
    val e01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    val planes = rademacherPlanes(Schemas.EmbeddingDim, 16)
    val proj = withRandomProjection(e01, "embedding", "proj", planes)
    val qv = e01.filter(col("vec_id") === 9)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    // project the query with the SAME matrix (scalar-side arithmetic)
    val qp = planes.map(p => p.zip(qv).map { case (a, b) => a * b }.sum / math.sqrt(16.0)).toSeq
    val exact = Ann.bruteForceTopK(e01, "vec_id", "embedding", qv, 10)
      .select("vec_id").as[Long].collect().toSet
    // stage 1: top-100 candidates in 16-dim (4x fewer floats scanned),
    // stage 2: exact cosine re-rank in the original 64-dim space
    val cand = Ann.bruteForceTopK(proj.select(col("vec_id"), col("proj").as("embedding")),
      "vec_id", "embedding", qp, 100).select("vec_id")
    val reranked = Ann.bruteForceTopK(e01.join(cand, "vec_id"),
      "vec_id", "embedding", qv, 10).select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(reranked).size.toDouble / exact.size
    assert(recall >= 0.7, s"projected-search recall $recall < 0.7 vs brute force")
  }

  test("MLlib MinHashLSH join finds planted near-duplicates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "some wholly unrelated words about distributed query engines"))
      .toDF("doc_id", "text")
    val pairs = Ann.mlMinHashJoin(docs, "doc_id", "text", maxJaccardDistance = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  // ---------------------------------------------------------------- //
  // The gated serving build's scoring and training passes against     //
  // test-local copies of the formulas they replaced, compared on      //
  // doubleToRawLongBits: the per-dimension posexplode/avg Lloyd round //
  // and corpus mean against the one-pass vector-mean aggregate, the   //
  // batched walk's broadcast-join scoring against the driver-held     //
  // query table (partitioned and warm-normalized lookups, on queries  //
  // whose frontiers repeat across hops), measureRecall's crossJoin    //
  // exact side against the probe-table pass, and the IVF gate's join  //
  // measurement against its query-table measurement.                  //
  // ---------------------------------------------------------------- //

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  // several input partitions, pinned, so partial sums really merge and
  // both sides of each comparison read the same rows in the same order
  private lazy val pinned =
    embeddings.select("vec_id", "embedding").repartition(3).localCheckpoint()

  // ---------------- the replaced formulas ---------------- //

  /** kmeansRefine's Lloyd round before the vector-mean aggregate. */
  private def refineByDims(index: DataFrame, initial: DataFrame, dim: Int,
                           iters: Int): DataFrame = {
    var cents = initial
    for (_ <- 0 until iters) {
      val assigned = Ann.assignCells(index, "vec_id", "embedding", cents,
        "centroid_id", "centroid_vec")
      cents = assigned
        .select(col("cell_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("_dim", "_x")))
        .groupBy("cell_id", "_dim").agg(avg("_x").as("_m"))
        .groupBy("cell_id")
        .agg(map_from_entries(collect_list(struct(col("_dim"), col("_m")))).as("_mm"))
        .select(col("cell_id").as("centroid_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            j => coalesce(element_at(col("_mm"), j), lit(0.0))).as("centroid_vec"))
    }
    cents
  }

  /** The batched walk before the query table: per hop, the union
    * frontier's edges join the broadcast (query_id, src) pairs and then
    * the broadcast query vectors; every frontier node is re-expanded.
    * Returns the visited sims and the (query, src) pairs of each hop. */
  private def joinWalk(centroids: DataFrame, queries: DataFrame, beamWidth: Int, hops: Int,
                       lookup: Seq[Long] => DataFrame)
      : (Map[(Long, Long), Double], Seq[Seq[(Long, Long)]]) = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").cast("array<double>").as("_qv"))
    val perQuery = Window.partitionBy("query_id").orderBy(desc("sim"), col("id"))
    var visited: Map[Long, Map[Long, Double]] = centroids
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("centroid_id").cast("long").as("id"),
        cosine(col("centroid_vec"), col("_qv")).as("sim"))
      .withColumn("_rn", row_number().over(perQuery))
      .filter(col("_rn") <= beamWidth)
      .select("query_id", "id", "sim")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) => qid -> rows.map(r => r.getLong(1) -> r.getDouble(2)).toMap }
    val perHop = (0 until hops).map { _ =>
      val frontierPairs = visited.toSeq.flatMap { case (qid, vs) =>
        vs.toSeq.sortBy { case (id, s) => (-s, id) }
          .take(beamWidth).map { case (id, _) => (qid, id) }
      }
      val fDf = frontierPairs.toDF("query_id", "src")
      val cand = lookup(frontierPairs.map(_._2).distinct)
        .join(broadcast(fDf), "src")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("dst").cast("long").as("id"),
          cosine(col("dst_vec"), col("_qv")).as("sim"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val byQid = cand.groupBy(_._1)
      visited = visited.map { case (qid, vs) =>
        qid -> (vs ++ byQid.getOrElse(qid, Array.empty).map { case (_, id, s) => id -> s })
      }
      frontierPairs
    }
    val sims = for ((qid, vs) <- visited; (id, s) <- vs) yield (qid, id) -> s
    (sims, perHop)
  }

  private def visitedOf(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def assertSameBits[K](got: Map[K, Double], expect: Map[K, Double], what: String): Unit = {
    assert(got.keySet == expect.keySet, s"$what: different key sets")
    val diff = expect.collect { case (k, s) if bits(got(k)) != bits(s) => (k, got(k), s) }
    assert(diff.isEmpty, s"$what: ${diff.size} values differ in raw bits, e.g. ${diff.take(3)}")
  }

  // ---------------- the parity checks ---------------- //

  test("QueryCosines equals the cosine column bit-for-bit, zero-norm and non-finite rows included") {
    val rows = Seq(
      (1L, Seq(0.5f, -0.25f, 0.0f, 3.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(1e-30f, -0.0f, 7.5f, 1.0f)),
      (4L, Seq(Float.NaN, 1.0f, 0.0f, 2.0f)),
      (5L, Seq(Float.PositiveInfinity, 0.0f, 1.0f, 0.0f)))
      .toDF("id", "v")
    val table = Array(
      Array(1.0, 0.0, 0.0, 2.0),
      Array(0.0, 0.0, 0.0, 0.0),
      Array(-0.0, 3.0, 1e-300, 0.5),
      Array(0.25, -0.5, 0.75, -1.0))
    val expect = table.indices.flatMap { qi =>
      rows.select(col("id"), cosine(col("v"), lit(table(qi))).as("sim")).collect()
        .map(r => (r.getLong(0), qi) -> r.getDouble(1))
    }.toMap
    def scored(c: org.apache.spark.sql.Column) =
      rows.select(col("id"), explode(c).as("_s"))
        .select(col("id"), col("_s.qi"), col("_s.sim")).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // where a NaN row meets a query: NaN either way, whatever payload
    def sameOrNaN(got: Map[(Long, Int), Double]) = {
      assert(got.keySet == expect.keySet)
      expect.foreach { case (k, s) =>
        assert(bits(got(k)) == bits(s) || (got(k).isNaN && s.isNaN), s"$k: ${got(k)} vs $s")
      }
    }
    sameOrNaN(scored(QueryCosines.all(col("v"), table)))
    // keyed: only the named queries score a row, in the listed order
    val targets = Map(1L -> Array(0, 2), 3L -> Array(1, 2, 3), 5L -> Array(3))
    val keyed = scored(QueryCosines.keyed(col("v"), col("id"), table, targets))
    assert(keyed.keySet == targets.toSeq.flatMap { case (id, qs) => qs.map(id -> _) }.toSet)
    keyed.foreach { case (k, s) =>
      assert(bits(s) == bits(expect(k)) || (s.isNaN && expect(k).isNaN), s"$k") }
    // a dimension mismatch refuses, as the dot product does
    val err = intercept[Exception] {
      rows.select(explode(QueryCosines.all(col("v"), Array(Array(1.0, 2.0))))).collect()
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("dimension mismatch")))
  }

  test("kmeansRefine and centeredPlanes: the vector-mean aggregate equals posexplode/avg bit-for-bit") {
    val e = pinned
    val init = Ann.headCentroids(e, "vec_id", "embedding", 8)
    def vecs(df: DataFrame): Map[Any, Seq[Long]] =
      df.select(col("centroid_id"), col("centroid_vec").cast("array<double>")).collect()
        .map(r => r.get(0) -> r.getSeq[Double](1).map(bits)).toMap
    for (iters <- Seq(1, 3)) {
      val expect = vecs(refineByDims(e, init, Schemas.EmbeddingDim, iters))
      val got = vecs(Ann.kmeansRefine(e, "vec_id", "embedding", init,
        Schemas.EmbeddingDim, iters = iters))
      assert(got.keySet == expect.keySet, s"iters=$iters: different cells")
      got.foreach { case (c, v) =>
        assert(v == expect(c), s"iters=$iters: centroid $c differs in raw bits") }
    }
    // centeredPlanes' corpus mean is the same aggregate with no grouping
    val meanByDims = e
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("_dim", "_x")))
      .groupBy("_dim").agg(avg("_x").as("_m"))
      .orderBy("_dim").select("_m").collect().map(_.getDouble(0))
    val heads = e.orderBy("vec_id").limit(3)
      .select(col("embedding").cast("array<double>")).collect().map(_.getSeq[Double](0))
    assert(Ann.centeredPlanes(e, "vec_id", "embedding", 3).map(_.map(bits)) ==
      heads.toSeq.map(_.zip(meanByDims).map { case (x, m) => bits(x - m) }),
      "centeredPlanes differs in raw bits from the per-dimension avg mean")
    // a vector of the wrong width refuses instead of training on it
    intercept[Exception] {
      Ann.kmeansRefine(e, "vec_id", "embedding", init, Schemas.EmbeddingDim + 1).collect()
    }
  }

  test("batched walk: query-table scoring equals the join-based walk, partitioned and warm-normalized") {
    val e = pinned
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val edges = Ann.knnGraph(assigned, "vec_id", "embedding",
      cents, "centroid_id", "centroid_vec", m = 4)
    val idx = java.nio.file.Files.createTempDirectory("graft_walk_parity").toString + "/idx"
    Ann.writeGraphIndex(edges, idx, nBuckets = 16)
    val edgeIds = spark.read.parquet(idx).select("src", "dst").persist()
    val vecs = e.select(col("vec_id").as("dst"), col("embedding").as("dst_vec")).persist()
    val queries = e.filter(col("vec_id").isin(9L, 17L, 25L, 33L, 120L, 301L))
    val (beam, hops) = (4, 5)
    val partitioned: Seq[Long] => DataFrame = frontier =>
      spark.read.parquet(idx)
        .filter(col("src_bucket").isin(frontier.map(id => Long.box(((id % 16) + 16) % 16)).distinct: _*))
        .filter(col("src").isin(frontier.map(Long.box): _*))
    val normalized: Seq[Long] => DataFrame = frontier =>
      edgeIds.filter(col("src").isin(frontier.map(Long.box): _*)).join(vecs, "dst")
    val (expect, perHop) = joinWalk(cents, queries, beam, hops, partitioned)
    // the fixture must exercise expand-once: some (query, src) pair sits
    // in the frontier of more than one hop
    val pairs = perHop.flatten
    assert(pairs.distinct.length < pairs.length,
      "no frontier repeats across hops — the fixture does not test expand-once")
    assertSameBits(visitedOf(Ann.graphSearch(spark, Ann.storeLookup(spark, idx, 16),
      cents, "centroid_id", "centroid_vec", queries, "vec_id", "embedding", beam, hops)),
      expect, "partitioned")
    assertSameBits(visitedOf(Ann.graphSearch(spark, Ann.normalizedLookup(edgeIds, vecs),
      cents, "centroid_id", "centroid_vec", queries, "vec_id", "embedding", beam, hops)),
      expect, "warm-normalized")
    val (expectNorm, _) = joinWalk(cents, queries, beam, hops, normalized)
    assertSameBits(expectNorm, expect, "join walk, normalized vs partitioned lookup")
    // every lookup the new walk issues is for srcs no earlier hop expanded
    val asked = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    Ann.graphSearch(spark, { frontier => asked += frontier; partitioned(frontier) },
      cents, "centroid_id", "centroid_vec",
      queries, "vec_id", "embedding", beam, hops).count()
    val reExpanded = perHop.map(_.map(_._2).distinct.length).sum
    assert(asked.length <= hops)
    assert(asked.map(_.length).sum < reExpanded,
      s"expand-once looked up ${asked.map(_.length).sum} srcs, the re-expanding walk $reExpanded")
    edgeIds.unpersist(); vecs.unpersist()
  }

  test("measureRecall: the probe-table exact side equals the crossJoin exact side") {
    val e = pinned
    val dir = java.nio.file.Files.createTempDirectory("graft_recall_parity").toString
    val h = GraphIndex.build(spark, e, Seq("vec_id"), "embedding", dir,
      nCentroids = 8, m = 8, nBuckets = 8, beamWidth = 8, hops = 2)
    val withUid = e.withColumn("_muid", GraphIndex.uidFor(Seq("vec_id")))
    val probes = withUid.orderBy("_muid").limit(12)
      .select(col("_muid").as("query_id"), col("embedding").cast("array<double>").as("_qv"))
    val qRows = probes.collect()
    val table = qRows.map(_.getSeq[Double](1).toArray)
    // every (probe, row) score, on raw bits
    val expect = withUid.crossJoin(broadcast(probes))
      .select(col("query_id"), col("_muid"), cosine(col("embedding"), col("_qv")).as("_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = GraphIndex.probeScores(withUid, Seq("vec_id"), "embedding", table)
      .select("_qi", "_muid", "_sim").collect()
      .map(r => (qRows(r.getInt(0)).getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assertSameBits(got, expect, "exact side")
    // and the measured recall equals the crossJoin-side measurement's,
    // default (leave-self-out) probes and a caller workload alike
    def crossJoinRecall(qDf: DataFrame, leaveSelfOut: Boolean, k: Int): Double = {
      import org.apache.spark.sql.expressions.Window
      def topK(df: DataFrame, sim: String, id: String) = df
        .withColumn("_rn", row_number().over(
          Window.partitionBy("query_id").orderBy(desc(sim), col(id))))
        .filter(col("_rn") <= k).select("query_id", "vec_id").collect()
        .groupBy(_.get(0)).map { case (q, rs) => q -> rs.map(_.get(1)).toSet }
      val exactBase = withUid.crossJoin(broadcast(qDf))
        .withColumn("_sim", cosine(col("embedding"), col("_qv")))
      val exact = topK(if (leaveSelfOut) exactBase.filter(col("_muid") =!= col("query_id"))
        else exactBase, "_sim", "_muid")
      val gotBase = h.searchBatch(spark, qDf, "query_id", "_qv")
      val walked = topK(if (leaveSelfOut) gotBase.filter(col("uid") =!= col("query_id"))
        else gotBase, "sim", "uid")
      val rs = exact.toSeq.map { case (q, truth) =>
        truth.intersect(walked.getOrElse(q, Set.empty)).size.toDouble /
          math.max(1, math.min(k, truth.size))
      }
      rs.sum / rs.length
    }
    val rDefault = GraphIndex.measureRecall(spark, h, e, Seq("vec_id"), "embedding",
      nQueries = 12, k = 5)
    assert(bits(rDefault) == bits(crossJoinRecall(probes, leaveSelfOut = true, k = 5)))
    val workload = e.filter(col("vec_id") % 50 === 7)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("_qv"))
    val rWork = GraphIndex.measureRecall(spark, h, e, Seq("vec_id"), "embedding",
      k = 5, queries = Some(workload))
    assert(bits(rWork) == bits(crossJoinRecall(workload, leaveSelfOut = false, k = 5)))
  }

  /** writeIvfIndexGated's measurement before the query table: the exact
    * side a crossJoin of the broadcast workload, the probe side a
    * broadcast (query, cell) join carrying each query vector onto every
    * candidate row. Per-query top-k id sets, keyed by query id. */
  private def ivfGateByJoins(assigned: DataFrame, cents: DataFrame, store: String,
                             qDf: DataFrame, nprobe: Int, k: Int)
      : (Map[Any, Set[Any]], Map[Any, Set[Any]]) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("_qid").orderBy(desc("_sim"), col("vec_id"))
    def topkOf(scored: DataFrame): Map[Any, Set[Any]] = scored
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("_qid"), col("vec_id"))
      .collect().groupBy(_.get(0)).map { case (q, rs) => q -> rs.map(_.get(1)).toSet }
    val exact = topkOf(assigned.crossJoin(broadcast(qDf))
      .withColumn("_sim", cosine(col("embedding"), col("_qv"))))
    val wc = Window.partitionBy("_qid").orderBy(desc("_csim"), col("centroid_id"))
    val probeCells = cents.crossJoin(broadcast(qDf))
      .withColumn("_csim", cosine(col("centroid_vec"), col("_qv")))
      .withColumn("_crn", row_number().over(wc)).filter(col("_crn") <= nprobe)
      .select(col("_qid"), col("_qv"), col("centroid_id").as("cell_id"))
    val got = topkOf(spark.read.parquet(store)
      .join(broadcast(probeCells), "cell_id")
      .withColumn("_sim", cosine(col("embedding"), col("_qv"))))
    (exact, got)
  }

  test("IVF gate: query-table scoring equals the join-based measurement on raw bits") {
    val e = pinned
    val cents = Ann.headCentroids(e, "vec_id", "embedding", 8)
    val assigned = Ann.assignCells(e, "vec_id", "embedding", cents, "centroid_id", "centroid_vec")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_parity").toString
    Ann.writeIvfIndex(assigned, s"$dir/store")
    val workload = e.filter(col("vec_id") % 40 === 9)
      .select(col("vec_id").as("_qid"), col("embedding").cast("array<double>").as("_qv"))
    val qRows = workload.collect()
    val table = qRows.map(_.getSeq[Double](1).toArray)
    val k = 10
    def byQid(m: Map[Any, Set[Any]]): Map[Any, Set[Any]] =
      m.map { case (qi, ids) => qRows(qi.asInstanceOf[Int]).get(0) -> ids }
    val recalls = for (nprobe <- Seq(1, 2, 8)) yield {
      val (expExact, expGot) = ivfGateByJoins(assigned, cents, s"$dir/store", workload, nprobe, k)
      val (exact, got) = Ann.ivfGateTopK(spark, assigned, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", s"$dir/store", table, nprobe, k)
      assert(byQid(exact) == expExact, s"nprobe=$nprobe: exact top-k sets differ")
      assert(byQid(got) == expGot, s"nprobe=$nprobe: probed top-k sets differ")
      val perQuery = expExact.toSeq.map { case (q, truth) =>
        truth.intersect(expGot.getOrElse(q, Set.empty)).size.toDouble /
          math.max(1, math.min(k, truth.size))
      }
      val expRecall = perQuery.sum / perQuery.length
      val recall = Ann.writeIvfIndexGated(spark, assigned, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", s"$dir/gated$nprobe", workload,
        nprobe, k, recallFloor = 0.0)
      assert(bits(recall) == bits(expRecall), s"nprobe=$nprobe: recall $recall vs $expRecall")
      recall
    }
    assert(recalls.head < 1.0 && recalls.last == 1.0,
      s"the fixture must probe both a lossy and an exhaustive width: $recalls")
  }

  test("assign* of each kind equal the old nearest-centroid scans on raw bits") {
    val e = pinned
    val cents = Ann.headCentroids(e, "vec_id", "embedding", 22)
    val cRows = cents.orderBy("centroid_id")
      .select(col("centroid_id"), col("centroid_vec").cast("array<double>")).collect()
    val cids = cRows.map(_.get(0))
    val codebook = cRows.map(_.getSeq[Double](1).toArray)
    val vecs = e.select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val (superBook, membersOf) = OldNearest.routing(codebook, 4, Nil)
    def rows(df: DataFrame, cols: String*) =
      df.select("vec_id", cols: _*).collect().map(r => (vecs(r.getLong(0)), r))
    for ((v, r) <- rows(Ann.assignCells(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec"), "cell_id", "cell_sim")) {
      val (i, sim) = OldNearest.centroid(v, codebook)
      assert(r.get(1) == cids(i) && bits(r.getDouble(2)) == bits(sim))
    }
    for ((v, r) <- rows(Ann.assignCellsHier(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", nSupers = 4, superProbes = 2), "cell_id", "cell_sim")) {
      val (i, sim) = OldNearest.hier(v, codebook, superBook, membersOf, 2)
      assert(r.get(1) == cids(i) && bits(r.getDouble(2)) == bits(sim))
    }
    var runnerUps = 0
    for ((v, r) <- rows(Ann.assignCellsMulti(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec", cellProbes = 3, nSupers = 4, superProbes = 2,
        probeMargin = 0.05), "cell_ids", "cell_id")) {
      val old = OldNearest.cells(v, codebook, superBook, membersOf, 2, 3, 0.05).map(cids(_)).toSeq
      assert(r.getSeq[Any](1) == old && r.get(2) == old.head)
      runnerUps += old.length - 1
    }
    assert(runnerUps > 0, "the margin must keep some runner-up probes")
    for ((v, r) <- rows(Ann.assignCellGaps(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid_vec"), "cell_gap"))
      assert(bits(r.getDouble(1)) == bits(OldNearest.gap(v, codebook, Array.empty, Array.empty, 1)))
  }
}
