package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AskPipeline, CosineKernel, GraphIndex, ResidentLfuCache}

/** The sparse-query fold of the resident serving tiers
  * ([[operators.CosineKernel]]: [[ResidentLfuCache]]'s scan and
  * [[GraphIndex.walkArrays]]) against test-local copies of the dense
  * code it replaced, compared on `doubleToRawLongBits`. The edge cases
  * are the ones the sparse rule's argument turns on: ±0.0 and NaN query
  * components, all-zero and fully dense queries, stored vectors holding
  * NaN or ±Inf (which must fold dense), repeated walk entries, and the
  * dimension-mismatch refusal. No Spark. */
class SparseFoldSpec extends AnyFunSuite {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Raw-bit equality, except where two different NaNs meet in one fold
    * (a NaN query component and a NaN/±Inf stored component: q·v is
    * Double.NaN's payload, 0·Inf the hardware default NaN). Which payload
    * survives `a + b` then depends on the operand order the JIT picks,
    * so it is not a property of either fold; both must still be NaN. */
  private def sameValue(got: Double, expect: Double, twoNaNs: Boolean): Boolean =
    bits(got) == bits(expect) || (twoNaNs && got.isNaN && expect.isNaN)

  private def hasNaN(q: Array[Double]): Boolean = q.exists(_.isNaN)

  // ---------------- the dense reference code ---------------- //

  /** The cache's per-entry cosine before the sparse fold. */
  private def denseCacheCosine(vf: Array[Float], q: Array[Double]): Double = {
    require(vf.length == q.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < vf.length) {
      val a = vf(i).toDouble
      dot += a * q(i)
      na += a * a
      nb += q(i) * q(i)
      i += 1
    }
    val sa = math.sqrt(na)
    val sb = math.sqrt(nb)
    if (sa == 0.0 || sb == 0.0) 0.0 else dot / (sa * sb)
  }

  /** The beam walk before the sparse fold and primitive bookkeeping. */
  private def denseWalk(g: GraphIndex.GraphArrays, entryIdxs: Array[Int],
                        q: Array[Double], beam: Int, hops: Int): Map[Long, Double] = {
    var qn = 0.0
    var i = 0
    while (i < q.length) { qn += q(i) * q(i); i += 1 }
    val qnorm = math.sqrt(qn)
    def simOf(idx: Int): Double = {
      val v = g.vecs(idx)
      require(v.length == q.length)
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += q(j) * v(j); j += 1 }
      if (qnorm == 0.0 || g.norms(idx) == 0.0) 0.0
      else dot / (qnorm * g.norms(idx))
    }
    val visited = new java.util.HashMap[Long, Double]()
    entryIdxs.map(ci => (g.ids(ci), ci, simOf(ci)))
      .sortBy { case (id, _, s) => (-s, id) }
      .take(beam)
      .foreach { case (id, _, s) => visited.put(id, s) }
    var hop = 0
    while (hop < hops) {
      import scala.jdk.CollectionConverters._
      val frontier = visited.entrySet().asScala.toSeq
        .map(e => (e.getKey.longValue(), e.getValue.doubleValue()))
        .sortBy { case (id, s) => (-s, id) }
        .take(beam)
      frontier.foreach { case (id, _) =>
        val ns = g.adjOf(g.idToIdx.get(id).intValue())
        ns.foreach { nIdx =>
          val nId = g.ids(nIdx)
          if (!visited.containsKey(nId)) visited.put(nId, simOf(nIdx))
        }
      }
      hop += 1
    }
    import scala.jdk.CollectionConverters._
    visited.asScala.map { case (k, v) => (k, v) }.toMap
  }

  // ---------------- inputs ---------------- //

  private val dim = 64
  private val rnd = new scala.util.Random(20261018L)

  /** Values with repeats (cosine ties), signed zeros and subnormals. */
  private def value(): Double = rnd.nextInt(8) match {
    case 0 => 0.0
    case 1 => -0.0
    case 2 => java.lang.Double.MIN_VALUE * (1 + rnd.nextInt(4))
    case 3 => (rnd.nextInt(5) - 2).toDouble
    case _ => rnd.nextGaussian()
  }

  /** A hashed-BoW-like query: a few nonzeros, the rest +0.0 or −0.0. */
  private def sparseQuery(nonzeros: Int, negZeros: Boolean): Array[Double] = {
    val q = Array.fill(dim)(if (negZeros && rnd.nextBoolean()) -0.0 else 0.0)
    (0 until nonzeros).foreach(_ => q(rnd.nextInt(dim)) = rnd.nextGaussian())
    q
  }

  private val queries: Seq[(String, Array[Double])] = Seq(
    "sparse" -> sparseQuery(6, negZeros = false),
    "sparse with -0.0 components" -> sparseQuery(6, negZeros = true),
    "sparse with a NaN component" -> { val q = sparseQuery(6, negZeros = true); q(5) = Double.NaN; q },
    "all +0.0" -> Array.fill(dim)(0.0),
    "all -0.0" -> Array.fill(dim)(-0.0),
    "fully dense" -> Array.fill(dim)(rnd.nextGaussian()),
    "dense with repeats and zeros" -> Array.fill(dim)(value()))

  private def finiteVec(): Array[Double] = Array.fill(dim)(value())

  /** Non-finite stored vectors; each puts its NaN/Inf where the sparse
    * queries above are mostly zero, so a missing dense fallback shows. */
  private def nonFiniteVecs: Seq[(String, Array[Double])] = Seq(
    "NaN" -> { val v = finiteVec(); v(dim - 1) = Double.NaN; v },
    "+Inf" -> { val v = finiteVec(); v(dim - 2) = Double.PositiveInfinity; v },
    "-Inf" -> { val v = finiteVec(); v(dim - 3) = Double.NegativeInfinity; v })

  // ---------------- the kernel as the cache composes it ---------------- //

  private def cacheInsert(rc: ResidentLfuCache, v: Array[Float]): Unit =
    rc.applyEffect(AskPipeline.InsertEffect(v.toSeq, "only"))

  test("cache scan: sparse fold is the dense cosine bit-for-bit; non-finite entries fold dense") {
    val stored: Seq[(String, Array[Float])] =
      (Seq.fill(20)("finite" -> finiteVec()) ++ nonFiniteVecs ++
        Seq("all zero" -> Array.fill(dim)(0.0)))
        .map { case (n, v) => (n, v.map(_.toFloat)) }
    for ((qn, q) <- queries; (vn, vf) <- stored) {
      val expect = denseCacheCosine(vf, q)
      val nz = CosineKernel.nonzeros(q)
      val got = CosineKernel.cosine(
        CosineKernel.dot(q, nz, vf, CosineKernel.allFinite(vf)),
        CosineKernel.norm(vf), CosineKernel.norm(q))
      val twoNaNs = hasNaN(q) && !CosineKernel.allFinite(vf)
      assert(sameValue(got, expect, twoNaNs), s"query '$qn' × stored '$vn': $got vs $expect")
      // through the public lookup: a one-entry cache hits at threshold
      // = the dense cosine and misses one ulp above it
      if (!expect.isNaN) {
        val rc = new ResidentLfuCache(1)
        cacheInsert(rc, vf)
        assert(rc.lookup(q, expect).isDefined, s"'$qn' × '$vn' must hit at its own cosine")
        assert(rc.lookup(q, Math.nextUp(expect)).isEmpty, s"'$qn' × '$vn' must miss one ulp above")
      }
    }
  }

  test("the dense fallback is load-bearing: a sparse fold over a non-finite vector differs") {
    // q is zero where v is infinite: 0·Inf = NaN is in the dense fold only
    val q = Array.fill(dim)(0.0); q(0) = 1.0
    val v = Array.fill(dim)(1.0); v(1) = Double.PositiveInfinity
    val nz = CosineKernel.nonzeros(q)
    assert(!CosineKernel.allFinite(v))
    assert(CosineKernel.dot(q, nz, v, vFinite = true) == 1.0)
    assert(CosineKernel.dot(q, nz, v, vFinite = false).isNaN)
  }

  test("nonzeros: ascending, NaN counts as nonzero, both zeros do not") {
    val q = Array(0.0, -0.0, 2.0, Double.NaN, 0.0, -1.0)
    assert(CosineKernel.nonzeros(q).toSeq == Seq(2, 3, 5))
  }

  test("cache lookup still refuses a dimension mismatch") {
    val rc = new ResidentLfuCache(2)
    cacheInsert(rc, Array.fill(dim)(1f))
    val e = intercept[IllegalArgumentException](rc.lookup(Array.fill(dim + 1)(1.0)))
    assert(e.getMessage.contains("dimension mismatch"))
  }

  // ---------------- the walk ---------------- //

  /** A random graph with shuffled, partly negative ids (id order ≠
    * index order), repeated vector values (sim ties), and optional
    * non-finite node vectors. */
  private def graph(n: Int, m: Int, extra: Seq[Array[Double]] = Nil): GraphIndex.GraphArrays = {
    val vecs = (Array.fill(n - extra.length)(finiteVec()) ++ extra).map(_.clone())
    // duplicate a few vectors outright so exact sim ties occur
    (0 until 5).foreach(i => vecs(i + 10) = vecs(i).clone())
    val ids = rnd.shuffle((0 until n).map(i => (i * 7919L) - 3000L)).toArray
    val adj = Array.fill(n)(Array.fill(m)(rnd.nextInt(n)))
    new GraphIndex.GraphArrays(ids, vecs, vecs.map(CosineKernel.norm), adj)
  }

  private def assertWalkEqual(g: GraphIndex.GraphArrays, entries: Array[Int],
                              q: Array[Double], beam: Int, hops: Int, clue: String): Unit = {
    val expect = denseWalk(g, entries, q, beam, hops)
    val got = GraphIndex.walkArrays(g, entries, q, beam, hops)
    assert(got.map(_._1).distinct.length == got.length, s"$clue: duplicate visited ids")
    assert(got.map(_._1).toSet == expect.keySet, s"$clue: visited sets differ")
    val twoNaNs = hasNaN(q) && !g.finite
    got.foreach { case (id, s) =>
      assert(sameValue(s, expect(id), twoNaNs), s"$clue: node $id sim $s vs ${expect(id)}")
    }
  }

  test("walkArrays equals the dense walk bit-for-bit on every query shape") {
    val g = graph(300, 6)
    assert(g.finite)
    val entries = Array.fill(24)(rnd.nextInt(300)).distinct
    for ((qn, q) <- queries; (beam, hops) <- Seq((5, 3), (8, 2), (1, 4), (0, 2), (12, 0)))
      assertWalkEqual(g, entries, q, beam, hops, s"'$qn' beam=$beam hops=$hops")
  }

  test("walkArrays: repeated entry indices take a slot each and are visited once") {
    val g = graph(120, 5)
    val best = (0 until 120).maxBy(i => g.vecs(i).sum)
    // the repeats crowd the entry beam exactly as sortBy.take(beam) does
    val entries = Array(best, best, best, 3, 3, 7, 11, best, 40, 41)
    for ((qn, q) <- queries; beam <- Seq(1, 2, 3, 4, 6); hops <- Seq(0, 1, 3))
      assertWalkEqual(g, entries, q, beam, hops, s"repeats, '$qn' beam=$beam hops=$hops")
  }

  test("walkArrays: a graph holding NaN or ±Inf folds dense and still matches") {
    val g = graph(150, 6, nonFiniteVecs.map(_._2))
    assert(!g.finite)
    // the non-finite nodes are entries, so every walk scores them
    val entries = Array(149, 148, 147) ++ Array.fill(12)(rnd.nextInt(150))
    for ((qn, q) <- queries; (beam, hops) <- Seq((4, 3), (16, 2)))
      assertWalkEqual(g, entries, q, beam, hops, s"non-finite graph, '$qn' beam=$beam")
  }

  test("walkArrays still refuses a dimension mismatch") {
    val g = graph(40, 4)
    val e = intercept[IllegalArgumentException](
      GraphIndex.walkArrays(g, Array(0, 1), Array.fill(dim - 1)(1.0), 4, 2))
    assert(e.getMessage.contains("dimension mismatch"))
  }
}
