package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import graft.operators.CosineKernel

/** Nearest-centroid cell assignment against a driver-held codebook, as
  * one codegen'd map-side expression — the only one: the primary cell
  * (`Ann.assignCells`, `Ann.assignCellsHier`), the multi-probe cell
  * list (`Ann.assignCellsMulti`) and the argmax gap
  * (`Ann.assignCellGaps`) are all projections of its output.
  *
  * OUTPUT. array<struct<idx:int, sim:double>>: the top-`cellProbes`
  * codebook indices with their cosines, in (sim DESC, index ASC) order
  * — the oracle's window order, so element 0 is the argmax with the
  * lowest index on ties, and a SQL oracle replays every list with one
  * windowed rank (rn <= p). Runner-ups are trimmed by `probeMargin`.
  *
  * ARITHMETIC. [[CosineKernel]]'s: ascending-fold norms and dots,
  * zero-norm → 0.0, the row as the sparse operand (its nonzeros are
  * folded, bit-for-bit the dense fold, against every codebook entry
  * that is finite; an entry holding a NaN or ±Inf folds dense). Each
  * entry's norm and finiteness are computed once per codebook.
  *
  * WHY A REFERENCE OBJECT. The codebook rides along as a deserialized
  * reference object — the executor-local equivalent of a broadcast — so
  * assignment is a pure projection: zero shuffle, zero join. The
  * round-1 crossJoin + row_number form shuffled |index| × |codebook|
  * scored rows through an Exchange; `array_min` over an array of
  * (−sim, id) structs falls back to interpreted struct ordering and
  * re-evaluates the literal-array cosine tree per element (measured
  * ~3 s for 5k rows × 8 centroids at sf0.1, vs milliseconds for this
  * loop); and a when-chain fold is exponential in codebook size.
  *
  * TWO-LEVEL ROUTING. With |C| = ⌊√N⌋ a flat scan is N^1.5 dots
  * corpus-wide (3·10^13 at N = 10^9). A non-empty `superBook` scores
  * the row against the |S| supers first, keeps the top-`superProbes`
  * (FAISS's nprobe: measured on the real PMC corpus, one probe loses
  * the rows whose true centroid hides under the runner-up super), and
  * takes the top-p over only the probed supers' members (`membersOf`,
  * routed on the driver with this same arithmetic by `Ann.hierRouting`):
  * N·(|S| + p·|C|/|S|) dots, ≈ 2·N^1.25 at |S| = ⌊√|C|⌋ and p = 1.
  * Approximate by design (a row whose true nearest centroid lives under
  * an unprobed super takes its in-probe best), but deterministic: the
  * oracle replays it with two windowed ranks.
  *
  * MULTI-PROBE AND THE MARGIN. Cell-confined pair stages lose exactly
  * the pairs that straddle a cell boundary (SemDeDup's recipe on the
  * real PMC corpus finds 89/200 planted cross-cell near-dups — SCALE.md
  * "Confined-pair recall"); probing the runner-up cells lets them meet.
  * The top-p is kept in the scan the argmax already pays, so per-row
  * cost does not grow with `cellProbes`. But unbounded top-p probing
  * is p×-bounded only on the exploded side, not on the pair term when
  * runner-up choices concentrate on hub cells (measured on PMC:
  * unbounded p = 2 cost 28× the confined build). The margin keeps a
  * runner-up only while its sim is within `probeMargin` of the
  * primary's, confining probing to boundary vectors — the only ones
  * whose pairs the single-cell build can lose. +Infinity = pure top-p;
  * 0.0 = primary only, plus exact ties.
  *
  * THE GAP. sim₀ − sim₁ of the top-2 (no margin) is how close a row
  * sits to a cell boundary — the margin is a threshold on it, so its
  * quantiles derive a margin (`SemanticDedup.deriveProbeMargin`). A
  * single candidate (|C| = 1, or a lone-member probed super) has no
  * runner-up: its gap is +Infinity, as such a row is never a boundary
  * row.
  *
  * NON-FINITE INPUT. A NaN sim never enters a top-p, at either level;
  * a row left with no candidate is refused (IllegalArgumentException),
  * as is a row whose width differs from the codebook's. A codebook or
  * super book whose vectors differ in width is refused when the
  * expression is built. */
case class NearestCells(child: Expression,
                        codebook: Array[Array[Double]],
                        superBook: Array[Array[Double]],
                        membersOf: Array[Array[Int]],
                        superProbes: Int,
                        cellProbes: Int,
                        probeMargin: Double = Double.PositiveInfinity)
    extends UnaryExpression {

  NearestCells.validate(codebook, superBook, membersOf, superProbes, cellProbes,
    probeMargin, prettyName)

  @transient private lazy val scorer = new NearestCells.Scorer(codebook, superBook,
    membersOf, superProbes, cellProbes, probeMargin, prettyName)

  override def dataType: DataType = ArrayType(NearestCells.ElemType, containsNull = false)

  override def prettyName: String = "graft_nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cells requires array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    evalArray(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCells", this,
      classOf[NearestCells].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (${classOf[ArrayData].getName}) $self.evalArray($c);")
  }

  /** Entry point for generated code. */
  def evalArray(input: ArrayData): ArrayData = {
    val v = new Array[Double](input.numElements())
    var i = 0
    while (i < v.length) { v(i) = input.getDouble(i); i += 1 }
    val top = scorer.top(v)
    val out = new Array[Any](top.size)
    i = 0
    while (i < top.size) {
      out(i) = new GenericInternalRow(Array[Any](top.idx(i), top.sim(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCells {
  val ElemType: StructType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  private def validate(codebook: Array[Array[Double]], superBook: Array[Array[Double]],
                       membersOf: Array[Array[Int]], superProbes: Int,
                       cellProbes: Int, probeMargin: Double, name: String): Unit = {
    require(codebook.nonEmpty, s"$name: empty codebook")
    require(superBook.isEmpty || membersOf.length == superBook.length,
      s"$name: membersOf must have one member list per super-centroid")
    require(superProbes >= 1, s"$name: superProbes must be >= 1")
    require(cellProbes >= 1, s"$name: cellProbes must be >= 1")
    require(probeMargin >= 0.0, s"$name: probeMargin must be >= 0")
    val width = codebook(0).length
    require(codebook.forall(_.length == width) && superBook.forall(_.length == width),
      s"$name: codebook vectors differ in width")
  }

  /** A codebook with each entry's norm and finiteness, computed once. */
  private final class Book(val vecs: Array[Array[Double]]) {
    val norms: Array[Double] = vecs.map(CosineKernel.norm)
    val finite: Array[Boolean] = vecs.map(CosineKernel.allFinite)
    def sim(q: Array[Double], nz: Array[Int], qn: Double, c: Int): Double =
      CosineKernel.cosine(CosineKernel.dot(q, nz, vecs(c), finite(c)), qn, norms(c))
  }

  /** A bounded top-p of (index, sim), ordered (sim DESC, index ASC)
    * whatever order candidates arrive in; a NaN sim never enters. */
  private[graft] final class Top(p: Int) {
    val idx = new Array[Int](p)
    val sim = new Array[Double](p)
    var size = 0

    def offer(c: Int, s: Double): Unit = if (!java.lang.Double.isNaN(s)) {
      var pos = size
      while (pos > 0 && (s > sim(pos - 1) || (s == sim(pos - 1) && c < idx(pos - 1)))) pos -= 1
      if (pos < p) {
        var t = math.min(size, p - 1)
        while (t > pos) { idx(t) = idx(t - 1); sim(t) = sim(t - 1); t -= 1 }
        idx(pos) = c
        sim(pos) = s
        if (size < p) size += 1
      }
    }
  }

  /** The scan behind [[NearestCells]], Spark-free: `Ann.hierRouting`
    * routes each centroid to its super through one of these too. */
  private[graft] final class Scorer(codebook: Array[Array[Double]],
                                    superBook: Array[Array[Double]],
                                    membersOf: Array[Array[Int]],
                                    superProbes: Int, cellProbes: Int,
                                    probeMargin: Double, name: String) {
    validate(codebook, superBook, membersOf, superProbes, cellProbes, probeMargin, name)

    private val width = codebook(0).length
    private val cells = new Book(codebook)
    private val supers = new Book(superBook)

    /** The row's top cells after the margin trim; refuses a row of the
      * wrong width and a row left with no candidate. */
    def top(q: Array[Double]): Top = {
      if (q.length != width) throw new IllegalArgumentException(
        s"$name: dimension mismatch ($width vs ${q.length})")
      val nz = CosineKernel.nonzeros(q)
      val qn = CosineKernel.norm(q)
      val top = new Top(math.min(cellProbes, codebook.length))
      if (superBook.isEmpty) {
        var c = 0
        while (c < codebook.length) { top.offer(c, cells.sim(q, nz, qn, c)); c += 1 }
      } else {
        val probed = new Top(math.min(superProbes, superBook.length))
        var k = 0
        while (k < superBook.length) { probed.offer(k, supers.sim(q, nz, qn, k)); k += 1 }
        k = 0
        while (k < probed.size) {
          val members = membersOf(probed.idx(k))
          var m = 0
          while (m < members.length) {
            top.offer(members(m), cells.sim(q, nz, qn, members(m)))
            m += 1
          }
          k += 1
        }
      }
      if (top.size == 0) throw new IllegalArgumentException(
        s"$name: no candidate cell has a non-NaN cosine to this row")
      var keep = 1
      while (keep < top.size && top.sim(keep) >= top.sim(0) - probeMargin) keep += 1
      top.size = keep
      top
    }
  }
}
