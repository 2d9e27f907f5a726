package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import graft.operators.CosineKernel

/** Cosines of a row vector against a DRIVER-HELD query table, as one
  * codegen'd map-side expression: returns array<struct<qi, sim>> — one
  * element per scored query, `qi` its index in `queries`, in ascending
  * `qi` order. The table rides along as a deserialized reference object
  * (the [[NearestCells]] pattern), so scoring a row against many
  * queries is a projection: no broadcast join that copies each query
  * vector onto every candidate row, no crossJoin.
  *
  * `targets` picks which queries score a row: the queries `targets(key)`
  * names, none for a key it lacks — the batched beam walk's frontier
  * map, src → the queries whose frontier holds that src. [[QueryCosines.all]]
  * scores every query through a one-entry map under a constant key.
  *
  * Arithmetic is `VectorFunctions.cosine(vec, lit(query))` bit-for-bit:
  * ascending-fold dots and norms, zero-norm → 0.0. The builders cast
  * the row vector to array<double> (exact for float and integer
  * elements, a no-op for double). The dot folds over only the query's
  * nonzero dimensions while the row vector is finite — the
  * [[graft.operators.CosineKernel]] sparse rule, equal to the dense
  * fold under that precondition; a row holding a NaN or ±Inf folds
  * dense. As there, where two different NaN payloads meet in one add
  * only NaN-ness is defined, and every ordering treats all NaNs alike.
  * Dimension mismatches throw, as the dot product does. */
case class QueryCosines(vec: Expression, key: Expression,
                        queries: Array[Array[Double]],
                        targets: Map[Long, Array[Int]])
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = key

  @transient private lazy val qnorms: Array[Double] = queries.map(CosineKernel.norm)
  @transient private lazy val qnz: Array[Array[Int]] = queries.map(CosineKernel.nonzeros)

  override def dataType: DataType = ArrayType(QueryCosines.ElemType, containsNull = false)

  override def prettyName: String = "graft_query_cosines"

  // the tables can be large: plans print their sizes, not their contents
  override protected def stringArgs: Iterator[Any] =
    Iterator(vec, key, s"${queries.length} queries", s"${targets.size} keys")

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType, key.dataType) match {
    case (ArrayType(DoubleType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (v, k) => TypeCheckResult.TypeCheckFailure(
      s"graft_query_cosines needs (array<double>, bigint), got " +
        s"(${v.simpleString}, ${k.simpleString})")
  }

  override def nullSafeEval(v: Any, k: Any): Any =
    evalRow(v.asInstanceOf[ArrayData], k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("queryCosines", this, classOf[QueryCosines].getName)
    nullSafeCodeGen(ctx, ev, (v, k) =>
      s"${ev.value} = (${classOf[ArrayData].getName}) $self.evalRow($v, $k);")
  }

  /** Entry point for generated code. */
  def evalRow(input: ArrayData, k: Long): ArrayData = {
    val qis = targets.getOrElse(k, Array.emptyIntArray)
    if (qis.isEmpty) return new GenericArrayData(Array.empty[Any])
    val n = input.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) { v(i) = input.getDouble(i); i += 1 }
    val vn = CosineKernel.norm(v)
    val finite = CosineKernel.allFinite(v)
    val out = new Array[Any](qis.length)
    var j = 0
    while (j < qis.length) {
      val qi = qis(j)
      val q = queries(qi)
      DotProduct.checkedLength(n, q.length)
      val sim = CosineKernel.cosine(CosineKernel.dot(q, qnz(qi), v, finite), vn, qnorms(qi))
      out(j) = new GenericInternalRow(Array[Any](qi, sim))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(vec = newLeft, key = newRight)
}

object QueryCosines {
  val ElemType: StructType = StructType(Seq(
    StructField("qi", IntegerType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  private val DoubleVec = ArrayType(DoubleType)

  /** `vec` scored against every query of the table. */
  def all(vec: Column, queries: Array[Array[Double]]): Column =
    keyed(vec, lit(0L), queries, Map(0L -> queries.indices.toArray))

  /** `vec` scored against the queries `targets(key)` names. Each
    * target list must be ascending (the output order is its order). */
  def keyed(vec: Column, key: Column, queries: Array[Array[Double]],
            targets: Map[Long, Array[Int]]): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(QueryCosines(expression(vec.cast(DoubleVec)), expression(key.cast(LongType)), queries,
      targets))
  }
}
