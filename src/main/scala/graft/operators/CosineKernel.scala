package graft.operators

/** The ascending-fold cosine arithmetic of the driver-resident serving
  * tiers, in one place: [[GraphIndex.walkArrays]] (hence
  * [[GraphIndex.Hot]] and every [[GraphIndex.HotSharded]] shard) scores
  * with it, and [[ResidentLfuCache]]'s dim-major scan performs the same
  * adds per entry, in the same order, over its columns.
  *
  * SPARSE-QUERY FOLD. `dot` folds q(i)·v(i) over ascending i from +0.0.
  * Where q(i) is ±0.0 and v(i) is finite the term is ±0.0, and adding
  * ±0.0 leaves the accumulator bit-for-bit unchanged: x + ±0 = x for
  * x ≠ 0, and +0 + −0 = +0, so an accumulator that starts at +0.0 is
  * never −0.0. Folding over only the query's nonzero indices
  * ([[nonzeros]], ascending) is therefore the dense fold bit-for-bit
  * whenever the stored vector is FINITE. A TF-IDF or hashed-BoW query
  * has a handful of nonzeros out of 1,024, so the fold costs per query
  * term, not per dimension. 0·Inf and 0·NaN are NaN, so a stored vector
  * holding a NaN or ±Inf keeps the dense fold; callers decide that once
  * per stored vector ([[allFinite]]), never per query.
  *
  * NaN PAYLOADS. "Bit-for-bit" holds for every result except a NaN one.
  * Where two different NaNs meet in one add (a NaN query component
  * against a NaN or ±Inf stored component: Double.NaN is 0x7ff8…, 0·Inf
  * the hardware default 0xfff8…), the JIT's operand order picks the
  * surviving payload, in the dense fold as in the sparse one, so only
  * NaN-ness is guaranteed. Ordering is unaffected: `Double.compare` and
  * Spark order every NaN alike.
  */
private[graft] object CosineKernel {

  /** Ascending indices i where q(i) != 0.0 (NaN is nonzero; ±0.0 is not). */
  def nonzeros(q: Array[Double]): Array[Int] = {
    var n = 0
    var i = 0
    while (i < q.length) { if (q(i) != 0.0) n += 1; i += 1 }
    val nz = new Array[Int](n)
    n = 0
    i = 0
    while (i < q.length) { if (q(i) != 0.0) { nz(n) = i; n += 1 }; i += 1 }
    nz
  }

  def allFinite(v: Array[Double]): Boolean = {
    var i = 0
    while (i < v.length) {
      if (java.lang.Double.isNaN(v(i)) || java.lang.Double.isInfinite(v(i))) return false
      i += 1
    }
    true
  }

  def allFinite(v: Array[Float]): Boolean = {
    var i = 0
    while (i < v.length) {
      if (java.lang.Float.isNaN(v(i)) || java.lang.Float.isInfinite(v(i))) return false
      i += 1
    }
    true
  }

  /** sqrt of the ascending fold of v(i)·v(i). */
  def norm(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** [[norm]] over float entries widened element-wise to double. */
  def norm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { val a = v(i).toDouble; s += a * a; i += 1 }
    math.sqrt(s)
  }

  /** Ascending fold of q(i)·v(i): over `nz` = [[nonzeros]](q) when
    * `vFinite`, over every index otherwise. */
  def dot(q: Array[Double], nz: Array[Int], v: Array[Double], vFinite: Boolean): Double = {
    var d = 0.0
    if (vFinite) {
      var k = 0
      while (k < nz.length) { val i = nz(k); d += q(i) * v(i); k += 1 }
    } else {
      var i = 0
      while (i < v.length) { d += q(i) * v(i); i += 1 }
    }
    d
  }

  /** [[dot]] over float entries widened element-wise to double. */
  def dot(q: Array[Double], nz: Array[Int], v: Array[Float], vFinite: Boolean): Double = {
    var d = 0.0
    if (vFinite) {
      var k = 0
      while (k < nz.length) { val i = nz(k); d += v(i).toDouble * q(i); k += 1 }
    } else {
      var i = 0
      while (i < v.length) { d += v(i).toDouble * q(i); i += 1 }
    }
    d
  }

  /** The cosine both tiers pin: 0.0 when either norm is 0.0. */
  def cosine(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
}
