package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, HashedBow, SimHash, WordShingles}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions for SQL use, so `spark.sql("SELECT graft_dot(a, b)")`
  * (and the cosine built on it) work from pure SQL sessions.
  *
  * Every graft entry point's session has it ([[GraftSession]]); a
  * foreign session wires it up with:
  * {{{
  *   builder.withExtensions(new GraftExtensions)       // programmatic
  *   // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.allFunctions.foreach(ext.injectFunction)
    // ANN bucket-prune rewrite (opt-in via spark.graft.ann.rewrite).
    // Post-hoc resolution: fires right after analysis, before column
    // pruning can drop a bucket column the final select doesn't keep.
    // Optimizer rule: covers plans that reach optimization without the
    // resolution pass (e.g. cached logical plans). Both are idempotent.
    ext.injectPostHocResolutionRule(_ => graft.plans.AnnBucketPrune)
    ext.injectOptimizerRule(_ => graft.plans.AnnBucketPrune)
  }
}

object GraftExtensions {

  private def castDouble(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))

  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_dot(a, b) takes exactly 2 arguments")
      DotProduct(castDouble(children.head), castDouble(children(1)))
    })

  /** graft_cosine(a, b): the full cosine (0-norm guard included) built
    * as a resolved Catalyst tree over the codegen dot — the registry
    * builder must return resolved expressions (a Column round-trip would
    * leave UnresolvedFunction nodes the analyzer never visits). */
  val cosineFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_cosine"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_cosine(a, b) takes exactly 2 arguments")
      import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Divide, EqualTo, Literal, Multiply, Or, Sqrt}
      val a = castDouble(children.head)
      val b = castDouble(children(1))
      val na = Sqrt(DotProduct(a, a))
      val nb = Sqrt(DotProduct(b, b))
      val zero = Literal(0.0)
      CaseWhen(
        Seq((Or(EqualTo(na, zero), EqualTo(nb, zero)), zero)),
        Some(Divide(DotProduct(a, b), Multiply(na, nb))))
    })

  /** Fold a literal argument down to an Int (dims, shingle n, bits —
    * structural parameters that must be known at plan time). */
  private def litInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: parameter must be a literal")
    e.eval().asInstanceOf[Number].intValue
  }

  /** graft_shingles(tokens, n): word n-grams; graft_shingle_set dedups. */
  val shinglesFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_shingles(tokens, n) takes exactly 2 arguments")
      WordShingles(children.head, litInt(children(1), "graft_shingles"), distinct = false)
    })

  val shingleSetFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_shingle_set"),
    new ExpressionInfo(classOf[WordShingles].getName, "graft_shingle_set"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_shingle_set(tokens, n) takes exactly 2 arguments")
      WordShingles(children.head, litInt(children(1), "graft_shingle_set"), distinct = true)
    })

  /** graft_simhash(tokens, bits): majority-vote md5 SimHash. */
  val simhashFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash"),
    new ExpressionInfo(classOf[SimHash].getName, "graft_simhash"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_simhash(tokens, bits) takes exactly 2 arguments")
      SimHash(children.head, litInt(children(1), "graft_simhash"))
    })

  /** graft_hashed_bow(tokens, dim): raw hashed bag-of-words vector. */
  val hashedBowFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hashed_bow"),
    new ExpressionInfo(classOf[HashedBow].getName, "graft_hashed_bow"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_hashed_bow(tokens, dim) takes exactly 2 arguments")
      HashedBow(children.head, litInt(children(1), "graft_hashed_bow"))
    })

  /** THE md5-derived uniform in [0,1) — single source of truth for both
    * `Sampling.uniformByHash` (Column form) and the `graft_uniform` SQL
    * function, so the two can never drift apart. Built as a resolved
    * Catalyst tree (registry builders must not emit unresolved nodes —
    * see [[cosineFunction]]). */
  def uniformByHashExpr(child: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Divide, Literal, Md5, Substring}
    import org.apache.spark.sql.types.{BinaryType, DoubleType, StringType}
    val hex = Md5(Cast(Cast(child, StringType), BinaryType))
    val four = Substring(hex, Literal(1), Literal(4))
    Divide(Cast(Conv(four, Literal(16), Literal(10)), DoubleType), Literal(65536.0))
  }

  /** graft_uniform(id): `WHERE graft_uniform(doc_id) < 0.1` is a
    * reproducible 10% sample from pure SQL. */
  val uniformFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_uniform"),
    new ExpressionInfo(classOf[org.apache.spark.sql.catalyst.expressions.Md5].getName, "graft_uniform"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_uniform(id) takes exactly 1 argument")
      uniformByHashExpr(children.head)
    })

  val allFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(dotFunction, cosineFunction, shinglesFunction, shingleSetFunction,
      simhashFunction, hashedBowFunction, uniformFunction)

  /** Register on an existing session (useful when the session was built
    * without extensions — e.g. notebook / driver-provided sessions). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    allFunctions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "scala_udf")
    }
    ensureAnnRewrite(spark)
  }

  /** Attach the ANN bucket-prune rule to a session built WITHOUT
    * extensions, via the public experimental hook. This path runs after
    * the main optimizer batches (so a bucket column must survive into
    * the query's output to be seen); sessions built with
    * `withExtensions(new GraftExtensions)` get the stronger post-hoc
    * resolution placement instead. Idempotent. */
  def ensureAnnRewrite(spark: org.apache.spark.sql.SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(graft.plans.AnnBucketPrune))
      spark.experimental.extraOptimizations = cur :+ graft.plans.AnnBucketPrune
  }
}
