package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AskPipeline, CosineKernel, ResidentLfuCache, Retrieval}

/** [[ResidentLfuCache]]'s dim-major scan against a row-major model of
  * the same cache: entries in arrival order, each scored by
  * [[CosineKernel.dot]] over its own row, evicted by removing the
  * victim and appending the arrival. Every sim must equal the model's
  * on raw bits (NaN-ness only where the result is NaN), and the argmax,
  * the threshold test, the LFU victim and `toDF`'s row order must
  * follow, through inserts that evict and reuse slots, touches of live
  * and evicted ids, and an over-capacity `fromDF` load. */
class ResidentCacheSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  private val dim = 40
  private val rnd = new scala.util.Random(20261019)

  private final class Row(val id: Long, val vec: Array[Float], val response: String, var freq: Int)

  /** The row-major cache: the layout the dim-major one replaced. */
  private final class RowModel(capacity: Int) {
    val rows = ArrayBuffer.empty[Row]
    def sims(q: Array[Double]): Seq[(Long, Double)] = {
      val nz = CosineKernel.nonzeros(q)
      rows.toSeq.map(r => (r.id, CosineKernel.cosine(
        CosineKernel.dot(q, nz, r.vec, CosineKernel.allFinite(r.vec)),
        CosineKernel.norm(r.vec), CosineKernel.norm(q))))
    }
    def lookup(q: Array[Double], threshold: Double): Option[(Long, String)] = {
      var best = -1
      var bestSim = 0.0
      sims(q).zipWithIndex.foreach { case ((id, s), i) =>
        val c = if (best < 0) 1 else Retrieval.cmpSparkDouble(s, bestSim)
        if (c > 0 || (c == 0 && id > rows(best).id)) { best = i; bestSim = s }
      }
      if (best >= 0 && Retrieval.cmpSparkDouble(bestSim, threshold) >= 0)
        Some((rows(best).id, rows(best).response))
      else None
    }
    def victim: Int = rows.indices.reduce { (v, i) =>
      if (rows(i).freq < rows(v).freq ||
          (rows(i).freq == rows(v).freq && rows(i).id > rows(v).id)) i else v
    }
    def insert(vec: Array[Float], answer: String): Unit = {
      val id = if (rows.isEmpty) 1L else rows.map(_.id).max + 1
      if (rows.length >= capacity) rows.remove(victim)
      rows += new Row(id, vec, answer, 1)
    }
    def touch(id: Long): Unit = rows.find(_.id == id).foreach(_.freq += 1)
    def load(all: Seq[Row]): Unit = {
      rows ++= all.sortBy(_.id)
      while (rows.length > capacity) rows.remove(victim)
    }
  }

  private def sparseVec(nnz: Int): Array[Double] = {
    val v = Array.fill(dim)(0.0)
    (0 until nnz).foreach(_ => v(rnd.nextInt(dim)) = rnd.nextGaussian())
    v
  }

  private def storedVec(): Array[Float] = rnd.nextInt(10) match {
    case 0 => Array.tabulate(dim)(_ => rnd.nextGaussian().toFloat) // dense
    case 1 => Array.fill(dim)(0f) // zero norm: cosine 0.0
    case 2 => val v = sparseVec(4).map(_.toFloat); v(rnd.nextInt(dim)) = Float.NaN; v
    case 3 => val v = sparseVec(4).map(_.toFloat); v(rnd.nextInt(dim)) = Float.PositiveInfinity; v
    case 4 => val v = sparseVec(6).map(_.toFloat); v(rnd.nextInt(dim)) = -0f; v
    case _ => sparseVec(1 + rnd.nextInt(6)).map(_.toFloat) // a TF-IDF-like query
  }

  private val queries: Seq[(String, Array[Double])] =
    Seq.tabulate(4)(i => s"sparse$i" -> sparseVec(1 + 2 * i)) ++ Seq(
      "dense" -> Array.tabulate(dim)(_ => rnd.nextGaussian()),
      "one-hot" -> { val q = Array.fill(dim)(0.0); q(3) = 1.0; q },
      "zero" -> Array.fill(dim)(0.0),
      "NaN" -> { val q = sparseVec(3); q(5) = Double.NaN; q })

  private def sameSim(got: Double, want: Double): Boolean =
    if (want.isNaN) got.isNaN
    else java.lang.Double.doubleToRawLongBits(got) == java.lang.Double.doubleToRawLongBits(want)

  private def assertSame(rc: ResidentLfuCache, m: RowModel, clue: String,
                         qs: Seq[(String, Array[Double])] = queries): Unit = {
    assert(rc.size == m.rows.length, clue)
    for ((qn, q) <- qs) {
      val got = rc.sims(q)
      val want = m.sims(q)
      assert(got.map(_._1) == want.map(_._1), s"$clue, '$qn': arrival order")
      got.zip(want).foreach { case ((id, g), (_, w)) =>
        assert(sameSim(g, w), s"$clue, '$qn', entry $id: $g vs $w")
      }
      // the threshold test is inclusive: a hit at the best sim, a miss
      // one ulp above it, and the same answer at a fixed threshold
      val best = want.map(_._2).filterNot(_.isNaN).maxOption
      best.foreach { b =>
        if (!want.exists(_._2.isNaN)) {
          assert(rc.lookup(q, b) == m.lookup(q, b), s"$clue, '$qn' at its best sim")
          assert(rc.lookup(q, b).isDefined, s"$clue, '$qn' must hit at its best sim")
          assert(rc.lookup(q, Math.nextUp(b)).isEmpty, s"$clue, '$qn' must miss one ulp above")
        }
      }
      assert(rc.lookup(q, 0.25) == m.lookup(q, 0.25), s"$clue, '$qn' at 0.25")
    }
  }

  private def assertRows(rc: ResidentLfuCache, m: RowModel, clue: String): Unit = {
    val got = rc.toDF(spark).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits),
        r.getString(2), r.getInt(3))).toSeq
    val want = m.rows.toSeq.map(r =>
      (r.id, r.vec.toSeq.map(java.lang.Float.floatToRawIntBits), r.response, r.freq))
    assert(got == want, s"$clue: toDF rows or their order differ")
  }

  /** Random inserts (some repeating an earlier vector, so sims tie),
    * touches of live and evicted ids, checked after every step. */
  private def drive(rc: ResidentLfuCache, m: RowModel, steps: Int, clue: String,
                    qs: Seq[(String, Array[Double])] = queries): Unit = {
    (1 to steps).foreach { step =>
      if (rnd.nextInt(10) < 6) {
        val vec = if (m.rows.nonEmpty && rnd.nextInt(5) == 0)
          m.rows(rnd.nextInt(m.rows.length)).vec.clone() else storedVec()
        val answer = s"answer $step"
        rc.applyEffect(AskPipeline.InsertEffect(vec.toSeq, answer))
        m.insert(vec, answer)
      } else if (m.rows.nonEmpty) {
        val id = m.rows.map(_.id).max - rnd.nextInt(2 * m.rows.length)
        rc.applyEffect(AskPipeline.TouchEffect(id))
        m.touch(id)
      }
      assertSame(rc, m, s"$clue step $step", qs)
      if (step % 40 == 0) assertRows(rc, m, s"$clue step $step")
    }
    assertRows(rc, m, s"$clue end")
  }

  test("dim-major scan equals the row-major fold on raw bits through inserts, evictions and slot reuse") {
    val rc = new ResidentLfuCache(9)
    val m = new RowModel(9)
    drive(rc, m, 160, "capacity 9")
    val one = new ResidentLfuCache(1)
    drive(one, new RowModel(1), 20, "capacity 1")
  }

  test("an over-capacity fromDF load trims like the row-major model, ties included, then serves") {
    import spark.implicits._
    // 30 rows into capacity 8, not in id order. Three ids arrive twice
    // with one vector and a high freq, so both copies outlive the trim;
    // their sims and ids tie, and arrival order alone decides which copy
    // a lookup answers and a touch bumps. 7777 is the highest id, so the
    // trim's first move puts its second copy in a lower slot.
    val base = Seq.tabulate(24)(i => new Row(i * 37L % 101 - 20, storedVec(), s"r$i", 1 + rnd.nextInt(3)))
    val dups = Seq(7777L, 500L, -300L).flatMap { id =>
      val v = sparseVec(4).map(_.toFloat)
      Seq(new Row(id, v, s"$id first", 10), new Row(id, v.clone(), s"$id second", 10))
    }
    val all = rnd.shuffle(base) ++ dups
    val df = all.map(r => (r.id, r.vec.toSeq, r.response, r.freq))
      .toDF("entry_id", "embedding", "response", "freq")
    val rc = ResidentLfuCache.fromDF(df, 8)
    val m = new RowModel(8)
    m.load(all)
    val dupQueries = dups.grouped(2).map(p => s"dup ${p.head.id}" -> p.head.vec.map(_.toDouble)).toSeq
    assert(dupQueries.forall { case (_, q) => rc.lookup(q, 0.99).exists(_._2.endsWith("first")) },
      "a tie between two copies of one id answers the earlier arrival")
    assertSame(rc, m, "after the load", queries ++ dupQueries)
    assertRows(rc, m, "after the load")
    dups.grouped(2).foreach(p => rc.applyEffect(AskPipeline.TouchEffect(p.head.id)))
    dups.grouped(2).foreach(p => m.touch(p.head.id))
    assertRows(rc, m, "after touching the tied ids")
    drive(rc, m, 60, "after the load", queries ++ dupQueries)
  }
}
