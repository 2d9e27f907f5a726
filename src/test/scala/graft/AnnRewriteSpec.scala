package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann
import graft.plans.AnnBucketPrune

/** The AnnBucketPrune optimizer rewrite: an exact top-k-by-cosine query
  * over a plane-tagged bucket column becomes a bucket-pruned (ANN) scan.
  * Covers both injection placements — post-hoc resolution (withExtensions
  * session) and experimental extraOptimizations (foreign session) — plus
  * the partitionBy(bucket) store where the injected predicate must turn
  * into Catalyst partition pruning. */
class AnnRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  /** A second session over the same SparkContext, built WITH the
    * extensions (the post-hoc resolution placement Verify uses). Suites
    * run sequentially in the forked test JVM, so the clear/restore
    * around getOrCreate cannot race another suite. */
  private lazy val extSpark: SparkSession = {
    val base = spark // force shared context creation first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  private def embeddings(s: SparkSession) =
    s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def planesOf(s: SparkSession): Seq[Seq[Double]] =
    embeddings(s).filter(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq

  private def queryVecOf(s: SparkSession): Seq[Double] =
    embeddings(s).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

  /** Count bucket-membership predicates (In/InSet/EqualTo over any
    * expression) inside Filter nodes of the optimized plan. */
  private def bucketFilterValueCount(df: DataFrame): Option[Int] =
    df.queryExecution.optimizedPlan.collectFirst {
      case Filter(cond, _) =>
        cond.collectFirst {
          case In(_, vs)    => vs.length
          case InSet(_, vs) => vs.size
          case _: EqualTo   => 1
        }
    }.flatten

  private def withRewrite[T](s: SparkSession, probes: Int = 1)(f: => T): T = {
    s.conf.set(AnnBucketPrune.EnabledConf, "true")
    s.conf.set(AnnBucketPrune.ProbesConf, probes.toString)
    try f finally {
      s.conf.set(AnnBucketPrune.EnabledConf, "false")
      s.conf.set(AnnBucketPrune.ProbesConf, "1")
    }
  }

  /** The exact form the rule rewrites: no bucket filter written anywhere. */
  private def exactTopK(s: SparkSession, keepBucket: Boolean): DataFrame = {
    val e = embeddings(s)
    val out = Ann.withLshBucket(e.select("vec_id", "embedding"), "embedding", planesOf(s))
      .withColumn("sim", graft.functions.VectorFunctions.cosine(
        col("embedding"), lit(queryVecOf(s).toArray)))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(5)
    if (keepBucket) out.select("vec_id", "lsh_bucket", "sim")
    else out.select("vec_id", "sim")
  }

  test("probeBuckets: base bucket first, then hamming-1 flips, all distinct") {
    val planes = Seq(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0))
    val q = Array(0.9, -0.1)
    val all = AnnBucketPrune.probeBuckets(planes, q, probes = 4)
    assert(all.length == 4)
    assert(all.distinct.length == 4)
    assert(all.head == AnnBucketPrune.bucketOf(planes, q))
    // every extra probe is hamming distance 1 from the base
    all.tail.foreach(b => assert(java.lang.Long.bitCount(b ^ all.head) == 1))
    // closest-margin plane is flipped first: q is nearly ON plane 1 (y≈0)
    assert((all(1) ^ all.head) == 2L)
  }

  test("foreign session (extraOptimizations): rewrite fires and equals explicit LSH search") {
    GraftExtensions.ensureAnnRewrite(spark)
    val expected = Ann.lshSearch(embeddings(spark).select("vec_id", "embedding"),
      "vec_id", "embedding", planesOf(spark), queryVecOf(spark), 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    withRewrite(spark) {
      val df = exactTopK(spark, keepBucket = true)
      assert(bucketFilterValueCount(df).contains(1),
        s"no bucket filter in plan:\n${df.queryExecution.optimizedPlan}")
      // collect from THIS frame: a derived `.select("vec_id")` would
      // re-optimize from the analyzed plan, and under the late
      // extraOptimizations placement column pruning drops lsh_bucket
      // before the rule can see it — the documented reason Verify uses
      // the withExtensions (post-hoc) placement instead
      assert(df.collect().map(_.getAs[Long]("vec_id")).toSeq == expected)
    }
  }

  test("conf off: no filter injected, result is the exact top-k") {
    GraftExtensions.ensureAnnRewrite(spark)
    val df = exactTopK(spark, keepBucket = true)
    assert(bucketFilterValueCount(df).isEmpty)
    val exact = Ann.bruteForceTopK(embeddings(spark).select("vec_id", "embedding"),
      "vec_id", "embedding", queryVecOf(spark), 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(df.select("vec_id").collect().map(_.getLong(0)).toSeq == exact)
  }

  test("withExtensions session (post-hoc): fires even when the bucket column is not in the output") {
    val expected = Ann.lshSearch(embeddings(extSpark).select("vec_id", "embedding"),
      "vec_id", "embedding", planesOf(extSpark), queryVecOf(extSpark), 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    withRewrite(extSpark) {
      // final select drops lsh_bucket — the late extraOptimizations
      // placement could not see it; post-hoc resolution fires first
      val df = exactTopK(extSpark, keepBucket = false)
      assert(bucketFilterValueCount(df).contains(1),
        s"no bucket filter in plan:\n${df.queryExecution.optimizedPlan}")
      assert(df.select("vec_id").collect().map(_.getLong(0)).toSeq == expected)
    }
  }

  test("multi-probe widens the filter and recall never drops") {
    GraftExtensions.ensureAnnRewrite(spark)
    val exact = Ann.bruteForceTopK(embeddings(spark).select("vec_id", "embedding"),
      "vec_id", "embedding", queryVecOf(spark), 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def recallAt(probes: Int): (Int, Double) = withRewrite(spark, probes) {
      val df = exactTopK(spark, keepBucket = true)
      val nBuckets = bucketFilterValueCount(df).getOrElse(0)
      val got = df.collect().map(_.getAs[Long]("vec_id")).toSet
      (nBuckets, got.intersect(exact).size.toDouble / exact.size)
    }
    val (b1, r1) = recallAt(1)
    val (b3, r3) = recallAt(3)
    assert(b1 == 1 && b3 == 3)
    assert(r3 >= r1)
    assert(r1 > 0.0) // the query's own row is always in its bucket
  }

  test("multi-probe recall curve vs brute force at sf0.01: monotone, with measured payoff") {
    GraftExtensions.ensureAnnRewrite(spark)
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    // the sf0.01 vectors form 10 tight label clusters: a data-point query's
    // true top-10 is its own cluster, which one bucket usually holds whole —
    // recall would be 1.0 at every probe count and the curve flat. Seeded
    // random planes + MIDPOINT queries (between members of two different
    // clusters) make the true neighbor set straddle buckets, so the probes
    // knob has something to recover.
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val rng = new scala.util.Random(1234)
    val planes: Seq[Seq[Double]] =
      Seq.fill(5)(Seq.fill(dim)(rng.nextGaussian()))
    val byId = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val queries: Map[Long, Seq[Double]] = (0 until 8).map { i =>
      val a = byId((i * 61L) % 500)
      val b = byId((i * 61L + 250) % 500)
      i.toLong -> a.zip(b).map { case (x, y) => (x + y) / 2.0 }
    }.toMap
    def topIds(df: DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val k = 10
    val tagged = Ann.withLshBucket(e, "embedding", planes)
    val exact = queries.map { case (qid, qv) =>
      qid -> topIds(Ann.bruteForceTopK(e, "vec_id", "embedding", qv, k))
    }
    def avgRecall(probes: Int): Double = withRewrite(spark, probes) {
      // sanity: the rewrite must actually fire on this shape
      val probe0 = tagged
        .withColumn("sim", graft.functions.VectorFunctions.cosine(
          col("embedding"), lit(queries(0L).toArray)))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(k)
        .select("vec_id", "lsh_bucket", "sim")
      assert(bucketFilterValueCount(probe0).contains(probes),
        s"rewrite did not inject $probes buckets:\n${probe0.queryExecution.optimizedPlan}")
      info(s"probes=$probes bucket histogram: " +
        tagged.groupBy("lsh_bucket").count().orderBy(desc("count")).limit(5)
          .collect().map(r => s"${r.get(0)}→${r.getLong(1)}").mkString(" ") +
        s"; qbucket=${AnnBucketPrune.bucketOf(planes.map(_.toArray), queries(0L).toArray)}")
      queries.map { case (qid, qv) =>
        // bucket stays in the collected output: the foreign-session
        // placement of the rule requires the tagged column to survive
        // column pruning (a select("vec_id") on top would prune it away
        // and silently disable the rewrite)
        val got = tagged
          .withColumn("sim", graft.functions.VectorFunctions.cosine(
            col("embedding"), lit(qv.toArray)))
          .orderBy(desc("sim"), col("vec_id"))
          .limit(k)
          .select("vec_id", "lsh_bucket", "sim")
          .collect().map(_.getAs[Long]("vec_id")).toSet
        got.intersect(exact(qid)).size.toDouble / k
      }.sum / queries.size
    }
    val curve = Seq(1, 2, 4).map(p => p -> avgRecall(p))
    info(s"multi-probe recall curve: ${curve.map { case (p, r) => f"probes=$p → $r%.3f" }.mkString(", ")}")
    val Seq(r1, r2, r4) = curve.map(_._2)
    // probes=N's bucket set is a prefix-extension of probes=M<N's, so
    // per-query recall is monotone; with 32 buckets over 500 vectors and
    // cross-cluster midpoint queries the curve must also actually move
    assert(r1 <= r2 && r2 <= r4, s"recall curve not monotone: $curve")
    assert(r4 > r1, s"multi-probe shows no payoff: $curve")
    // absolute floor: probes=4 reads 4/32 = 12.5% of the corpus and must
    // recover ≥ 30% of the true top-k (≈ 2.5× random) on this unclustered
    // worst-case data; measured ≈ 0.39
    assert(r4 >= 0.3, s"probes=4 recall too low: $curve")
  }

  test("partitioned LSH store: injected predicate becomes partition pruning") {
    val planes = planesOf(extSpark)
    val dir = TestDirs.create("graft_lshidx").toString
    Ann.writeLshIndex(
      Ann.withLshBucket(embeddings(extSpark).select("vec_id", "embedding"),
        "embedding", planes), dir)
    val index = Ann.readLshIndex(extSpark, dir, planes)
    val expected = Ann.lshSearch(embeddings(extSpark).select("vec_id", "embedding"),
      "vec_id", "embedding", planes, queryVecOf(extSpark), 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    withRewrite(extSpark) {
      val df = index
        .withColumn("sim", graft.functions.VectorFunctions.cosine(
          col("embedding"), lit(queryVecOf(extSpark).toArray)))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(5)
        .select("vec_id", "sim")
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.matches("(?s).*PartitionFilters: \\[[^\\]]*lsh_bucket.*"),
        s"no partition pruning in:\n$physical")
      assert(df.select("vec_id").collect().map(_.getLong(0)).toSeq == expected)
    }
  }
}
