package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The seams of the Verify and Bench mains: what the driver grades and
  * what it parses. */
class EntryPointsSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  private val mapper = new ObjectMapper()

  test("Verify.dump: a query that throws leaves no output, never an older run's parquet") {
    val out = TestDirs.create("graft_verify").toString
    spark.range(5).toDF("stale").coalesce(1).write.parquet(s"$out/q_throws")
    assert(Files.exists(Paths.get(s"$out/q_throws")))
    val failed = Verify.dump(spark, "/unused", out, Seq(
      "q_throws" -> ((_, _) => throw new IllegalStateException("boom")),
      "q_ok" -> ((s, _) => s.range(3).toDF("id"))))
    assert(failed == Seq("q_throws"))
    assert(!Files.exists(Paths.get(s"$out/q_throws")),
      "check.py would grade the previous run's parquet as this run's answer")
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
  }

  test("Verify.writeOracleSql: control characters survive a JSON round trip") {
    val out = TestDirs.create("graft_oracle").toString
    val sql = Seq(
      "q_tab" -> "SELECT 1\tAS a",
      "q_cr" -> "SELECT 2\r\nAS \"b\\c\"",
      "q_ctl" -> "SELECT '\u0001' AS c")
    Verify.writeOracleSql(out, sql)
    val back = mapper.readTree(Paths.get(out, "oracle_sql.json").toFile)
    assert(back.size() == sql.size)
    sql.foreach { case (name, q) => assert(back.path(name).asText() == q, name) }
  }

  test("a registry declaring one query name twice refuses to build") {
    val q = queries.Q("q_twice", (s, _) => s.range(1).toDF(), "SELECT 1")
    val e = intercept[IllegalArgumentException](
      queries.Q.registry(Seq(q), Seq(q.copy(oracle = "SELECT 2"))))
    assert(e.getMessage.contains("q_twice"))
  }

  test("every driver query carries a non-blank oracle") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 137)
    SparkEntry.oracleSql.foreach { case (name, sql) => assert(sql.trim.nonEmpty, name) }
  }

  test("file-writing queries leave no graft_* path directly under java.io.tmpdir") {
    val s = spark // its own warehouse dir is made before the snapshot
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftPaths = tmp.listFiles().filter(_.getName.startsWith("graft_"))
      .map(f => f.getName -> f.lastModified).toMap
    val before = graftPaths
    Seq("q_upload_scan", "q_corpus_scan", "q_cm_stream").foreach { name =>
      assert(SparkEntry.queries(name)(s, "/root/testdata/sf0.001").count() > 0, name)
    }
    val after = graftPaths
    assert(after == before,
      s"added or rewritten: ${(after.toSet -- before.toSet).map(_._1).toSeq.sorted}")
  }

  test("Bench's stdout line stays under 1 KB and parses, whatever the query count") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size > 100)
    val total = 123.456 * names.size
    val line = Bench.summaryLine(total, runs = 3,
      policy = "warmup+min-of-3-interleaved+subsec-min-of-5+budget-600s",
      spreadP90 = 0.25, wallS = 987.654, calibJvm = 1.234, calibSpark = 2.345,
      failed = Nil, fullArtifact = "BENCH_FULL.json", baseline = "BENCH_BASELINE.json",
      sf = "testdata/sf0.1")
    assert(line.length <= 1024, s"${line.length} chars")
    assert(!line.contains('\n'))
    val n = mapper.readTree(line)
    assert(n.path("metric").asText() == "total")
    assert(math.abs(n.path("value").asDouble() - total) < 1e-3)
    assert(n.path("full_artifact").asText() == "BENCH_FULL.json")
    assert(names.forall(q => !line.contains(q)), "per-query times belong in the full artifact")
  }
}
