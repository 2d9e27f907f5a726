package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NearestCells
import graft.operators.Ann

/** The four nearest-centroid scans the cell assignment used to be
  * written as (flat argmax, two-level argmax, multi-probe top-p, argmax
  * gap) and the driver-side centroid→super routing loop, kept here as
  * test-local copies of the dense code [[NearestCells]] replaced. */
object OldNearest {

  private def norm(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  private def simTo(v: Array[Double], vnorm: Double, cent: Array[Double]): Double = {
    require(cent.length == v.length, "dimension mismatch")
    var dot = 0.0
    var j = 0
    while (j < v.length) { dot += v(j) * cent(j); j += 1 }
    val cnorm = norm(cent)
    if (vnorm == 0.0 || cnorm == 0.0) 0.0 else dot / (vnorm * cnorm)
  }

  private def insertTop(p: Int, topIdx: Array[Int], topSim: Array[Double],
                        filled0: Int, c: Int, sim: Double): Int = {
    var filled = filled0
    var pos = filled
    while (pos > 0 && (sim > topSim(pos - 1) ||
      (sim == topSim(pos - 1) && c < topIdx(pos - 1)))) pos -= 1
    if (pos < p) {
      var t = math.min(filled, p - 1)
      while (t > pos) { topIdx(t) = topIdx(t - 1); topSim(t) = topSim(t - 1); t -= 1 }
      topIdx(pos) = c; topSim(pos) = sim
      if (filled < p) filled += 1
    }
    filled
  }

  /** The old flat `NearestCentroid`: (argmax index, its cosine). */
  def centroid(v: Array[Double], codebook: Array[Array[Double]]): (Int, Double) = {
    val vnorm = norm(v)
    var bestIdx = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < codebook.length) {
      val sim = simTo(v, vnorm, codebook(c))
      if (sim > bestSim) { bestSim = sim; bestIdx = c }
      c += 1
    }
    (bestIdx, bestSim)
  }

  /** The old `NearestCentroidHier`. */
  def hier(v: Array[Double], codebook: Array[Array[Double]], superBook: Array[Array[Double]],
           membersOf: Array[Array[Int]], superProbes: Int): (Int, Double) = {
    val vnorm = norm(v)
    val p = math.min(superProbes, superBook.length)
    val topIdx = new Array[Int](p)
    val topSim = new Array[Double](p)
    var filled = 0
    var k = 0
    while (k < superBook.length) {
      val sim = simTo(v, vnorm, superBook(k))
      var pos = filled
      while (pos > 0 && sim > topSim(pos - 1)) pos -= 1
      if (pos < p) {
        var t = math.min(filled, p - 1)
        while (t > pos) { topIdx(t) = topIdx(t - 1); topSim(t) = topSim(t - 1); t -= 1 }
        topIdx(pos) = k; topSim(pos) = sim
        if (filled < p) filled += 1
      }
      k += 1
    }
    var bestIdx = -1
    var bestSim = Double.NegativeInfinity
    for (pi <- 0 until filled; c <- membersOf(topIdx(pi))) {
      val sim = simTo(v, vnorm, codebook(c))
      if (sim > bestSim || (sim == bestSim && c < bestIdx)) { bestSim = sim; bestIdx = c }
    }
    require(bestIdx >= 0, "probed supers have no member centroids")
    (bestIdx, bestSim)
  }

  /** The old `NearestCells`: top-p indices after the margin trim. */
  def cells(v: Array[Double], codebook: Array[Array[Double]], superBook: Array[Array[Double]],
            membersOf: Array[Array[Int]], superProbes: Int, cellProbes: Int,
            probeMargin: Double): Array[Int] = {
    val vnorm = norm(v)
    val p = math.min(cellProbes, codebook.length)
    val topIdx = new Array[Int](p)
    val topSim = new Array[Double](p)
    var filled = 0
    if (superBook.isEmpty) {
      for (c <- codebook.indices)
        filled = insertTop(p, topIdx, topSim, filled, c, simTo(v, vnorm, codebook(c)))
    } else {
      val ps = math.min(superProbes, superBook.length)
      val sTopIdx = new Array[Int](ps)
      val sTopSim = new Array[Double](ps)
      var sFilled = 0
      for (k <- superBook.indices)
        sFilled = insertTop(ps, sTopIdx, sTopSim, sFilled, k, simTo(v, vnorm, superBook(k)))
      for (pi <- 0 until sFilled; c <- membersOf(sTopIdx(pi)))
        filled = insertTop(p, topIdx, topSim, filled, c, simTo(v, vnorm, codebook(c)))
      require(filled > 0, "probed supers have no member centroids")
    }
    var keep = 1
    while (keep < filled && topSim(keep) >= topSim(0) - probeMargin) keep += 1
    topIdx.take(keep)
  }

  /** The old `NearestCellGap`. */
  def gap(v: Array[Double], codebook: Array[Array[Double]], superBook: Array[Array[Double]],
          membersOf: Array[Array[Int]], superProbes: Int): Double = {
    val vnorm = norm(v)
    var best = Double.NegativeInfinity
    var bestIdx = Int.MaxValue
    var second = Double.NegativeInfinity
    var seen = 0
    def offer(c: Int, sim: Double): Unit = {
      seen += 1
      if (sim > best || (sim == best && c < bestIdx)) {
        if (seen > 1) second = best
        best = sim; bestIdx = c
      } else if (sim > second) second = sim
    }
    if (superBook.isEmpty) codebook.indices.foreach(c => offer(c, simTo(v, vnorm, codebook(c))))
    else {
      val ps = math.min(superProbes, superBook.length)
      val sTopIdx = new Array[Int](ps)
      val sTopSim = new Array[Double](ps)
      var sFilled = 0
      for (k <- superBook.indices)
        sFilled = insertTop(ps, sTopIdx, sTopSim, sFilled, k, simTo(v, vnorm, superBook(k)))
      for (pi <- 0 until sFilled; c <- membersOf(sTopIdx(pi)))
        offer(c, simTo(v, vnorm, codebook(c)))
      require(seen > 0, "probed supers have no member centroids")
    }
    if (seen < 2) Double.PositiveInfinity else best - second
  }

  /** The old `Ann.hierRouting` loop: (live super book, members). */
  def routing(codebook: Array[Array[Double]], nSupers: Int,
              superVecs: Seq[Seq[Double]]): (Array[Array[Double]], Array[Array[Int]]) = {
    val nS = math.min(math.max(nSupers, 1), codebook.length)
    val superBook =
      if (superVecs.nonEmpty) superVecs.map(_.toArray).toArray else codebook.take(nS)
    val membersOf = Array.fill(superBook.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    codebook.indices.foreach { c =>
      val a = codebook(c)
      val an = norm(a)
      var bestIdx = 0
      var bestSim = Double.NegativeInfinity
      for (k <- superBook.indices) {
        val sim = simTo(a, an, superBook(k))
        if (sim > bestSim) { bestSim = sim; bestIdx = k }
      }
      membersOf(bestIdx) += c
    }
    val live = superBook.zip(membersOf).filter(_._2.nonEmpty)
    (live.map(_._1), live.map(_._2.toArray))
  }
}

/** [[NearestCells]] (the one nearest-centroid scan, over
  * [[operators.CosineKernel]]) against the old scans in [[OldNearest]],
  * on `doubleToRawLongBits`, plus the non-finite input rule. No Spark
  * session: the expression is evaluated interpreted over literals. */
class NearestCellsSpec extends AnyFunSuite {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def eval(e: NearestCells, v: Array[Double]): Seq[(Int, Double)] = {
    val lit = Literal(new GenericArrayData(v.map(x => x: Any)), ArrayType(DoubleType))
    val out = e.withNewChildren(Seq(lit)).eval(InternalRow.empty).asInstanceOf[ArrayData]
    (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 2)
      (r.getInt(0), r.getDouble(1))
    }
  }

  private def cells(codebook: Array[Array[Double]], routing: (Array[Array[Double]], Array[Array[Int]]),
                    superProbes: Int, cellProbes: Int,
                    margin: Double = Double.PositiveInfinity): NearestCells =
    NearestCells(Literal.create(null, ArrayType(DoubleType)), codebook, routing._1, routing._2,
      superProbes, cellProbes, margin)

  private val flat = (Array.empty[Array[Double]], Array.empty[Array[Int]])

  /** Dim-12 codebook: random dense and sparse centroids, a zero-norm
    * centroid, and duplicates (tied sims at every row). Rows: dense,
    * sparse TF-IDF-like, float-widened, zero-norm, and copies of
    * centroids. */
  private val dim = 12
  private val rnd = new scala.util.Random(20260419L)
  private def dense(): Array[Double] = Array.fill(dim)(rnd.nextGaussian())
  private def sparse(): Array[Double] =
    Array.fill(dim)(if (rnd.nextDouble() < 0.25) rnd.nextDouble() * 3 else 0.0)
  private def floats(): Array[Double] = Array.fill(dim)(rnd.nextGaussian().toFloat.toDouble)

  private val codebook: Array[Array[Double]] = {
    val base = Array.fill(4)(dense()) ++ Array.fill(3)(sparse()) ++ Array.fill(2)(floats())
    // index 9 duplicates 2, 10 is zero-norm, 11 duplicates 6
    base ++ Array(base(2).clone(), new Array[Double](dim), base(6).clone())
  }
  private val rows: Seq[Array[Double]] =
    Seq.fill(20)(dense()) ++ Seq.fill(20)(sparse()) ++ Seq.fill(20)(floats()) ++
      Seq(new Array[Double](dim)) ++ codebook.map(_.clone())

  private val superVariants: Seq[(String, Int, Seq[Seq[Double]])] = Seq(
    ("head-1", 1, Nil), ("head-3", 3, Nil), ("head-|C|", codebook.length, Nil),
    ("trained", 3, Seq.fill(4)(dense().toSeq)))

  test("flat and two-level routing, every probe count and margin: equal to the old scans on raw bits") {
    val margins = Seq(0.0, 0.05, 0.3, Double.PositiveInfinity)
    var loneMembers = 0
    for ((name, nSupers, superVecs) <- ("flat", 0, Nil) +: superVariants) {
      val routing =
        if (nSupers == 0) flat
        else {
          val old = OldNearest.routing(codebook, nSupers, superVecs)
          val now = Ann.hierRouting(codebook, nSupers, superVecs, "spec")
          assert(now._1.length == old._1.length && now._1.indices.forall(k =>
            now._1(k).sameElements(old._1(k)) && now._2(k).sameElements(old._2(k))),
            s"$name: centroid→super routing differs")
          loneMembers += now._2.count(_.length == 1)
          now
        }
      val superCounts = if (nSupers == 0) Seq(1) else 1 to routing._1.length
      for (sp <- superCounts; v <- rows) {
        val head = eval(cells(codebook, routing, sp, 1), v)
        assert(head.length == 1)
        val (oi, os) =
          if (nSupers == 0) OldNearest.centroid(v, codebook)
          else OldNearest.hier(v, codebook, routing._1, routing._2, sp)
        assert(head.head._1 == oi && bits(head.head._2) == bits(os), s"$name sp=$sp head")
        val top2 = eval(cells(codebook, routing, sp, 2), v)
        val gap = if (top2.length < 2) Double.PositiveInfinity else top2(0)._2 - top2(1)._2
        assert(bits(gap) == bits(OldNearest.gap(v, codebook, routing._1, routing._2, sp)),
          s"$name sp=$sp gap")
        for (p <- 1 to codebook.length; m <- margins) {
          val got = eval(cells(codebook, routing, sp, p, m), v)
          val old = OldNearest.cells(v, codebook, routing._1, routing._2, sp, p, m)
          assert(got.map(_._1) == old.toSeq, s"$name sp=$sp p=$p margin=$m")
          // every sim is the old scan's cosine of that centroid
          got.foreach { case (c, s) =>
            assert(bits(s) == bits(OldNearest.centroid(v, Array(codebook(c)))._2))
          }
        }
      }
    }
    assert(loneMembers > 0, "the fixture must hold a lone-member super")
  }

  test("non-finite input: a NaN sim never enters, an empty row is refused, widths are checked") {
    val nanCent = Array.fill(dim)(Double.NaN)
    val book = nanCent +: codebook
    val v = rows.head
    // flat: the NaN centroid holds no slot, so the multi-probe head is the
    // one-probe argmax and every sim is a number
    val all = eval(cells(book, flat, 1, book.length), v)
    assert(all.length == codebook.length && all.forall(!_._2.isNaN))
    assert(all.head == eval(cells(book, flat, 1, 1), v).head)
    assert(all.head._1 == OldNearest.centroid(v, codebook)._1 + 1)
    val top2 = eval(cells(book, flat, 1, 2), v)
    assert(!(top2(0)._2 - top2(1)._2).isNaN)
    // a NaN super is never probed: with only the NaN super and one real
    // super, superProbes = 2 still scans the real super's members only
    val routing = (Array(nanCent, codebook(0)), Array(Array(0), Array(1, 2)))
    assert(eval(cells(book, routing, 2, 3), v).map(_._1).toSet.subsetOf(Set(1, 2)))
    // a row whose every sim is NaN is refused, naming the expression (a
    // zero-norm centroid would still score it 0.0, so none is in reach)
    val nanRow = Array.fill(dim)(Double.NaN)
    for (r <- Seq(flat, routing)) {
      val e = intercept[IllegalArgumentException](
        eval(cells(book.take(5), r, 1, 2), nanRow))
      assert(e.getMessage.contains("graft_nearest_cells"))
    }
    // so is a row of the wrong width
    val w = intercept[IllegalArgumentException](eval(cells(codebook, flat, 1, 1), v.take(5)))
    assert(w.getMessage.contains("dimension mismatch"))
    // a codebook or super book of mixed widths is refused when built
    intercept[IllegalArgumentException](cells(codebook :+ Array(1.0), flat, 1, 1))
    intercept[IllegalArgumentException](
      cells(codebook, (Array(Array(1.0)), Array(Array(0))), 1, 1))
    // the driver-side routing refuses a centroid with no finite super sim
    val r = intercept[IllegalArgumentException](Ann.hierRouting(book, 2, Nil, "spec"))
    assert(r.getMessage.contains("spec"))
  }
}
