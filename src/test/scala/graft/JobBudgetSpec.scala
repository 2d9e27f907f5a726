package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark-job budgets for the batch benchmark's five queries (perfbench's
  * `BatchBench.Queries`) at sf0.001. Each query runs once untimed (the
  * memoized BM25 store build and the first schema inferences land
  * there), then once under [[JobTrace]]; its job count must not exceed
  * the checked-in budget. A change that adds jobs has to raise a number
  * here, visibly; a change that removes some lowers it. On failure the
  * message lists every job with the operator frame that issued it. */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  private val sf0001 = sys.props("user.home") + "/testdata/sf0.001"

  /** Jobs per execution, measured on the four-core test session. */
  private val Budget: Seq[(String, Int)] = Seq(
    "q_bm25_compact" -> 30,
    "q_cm_stream" -> 19,
    "q_simhash_pairs" -> 5,
    "q_join_revenue" -> 7,
    "q_skew_join" -> 5)

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf0001).write.mode("overwrite").format("noop").save()

  Budget.foreach { case (name, budget) =>
    test(s"$name runs at most $budget Spark jobs") {
      run(name)
      val (_, trace) = JobTrace.of(spark.sparkContext)(run(name))
      val listed = trace.jobs.map(j => f"  job ${j.id}%4d tasks=${j.tasks}%3d ${j.site}").mkString("\n")
      assert(trace.jobs.size <= budget,
        s"$name ran ${trace.jobs.size} jobs, budget $budget:\n$listed")
    }
  }
}
