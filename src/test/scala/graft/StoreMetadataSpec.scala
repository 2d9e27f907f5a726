package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Retrieval
import graft.sources.{Sidecar, TableLoader}
import graft.streaming.{StreamingDedup, StreamingSketch}

/** The two job-free metadata paths: one-row sidecars written and read on
  * the driver ([[Sidecar]]), and table opens that reuse a schema this
  * session already inferred ([[TableLoader.read]]). Each claims zero
  * Spark jobs, counted by [[JobTrace]]; each must still notice change
  * (a rewritten table re-infers) and still refuse drift. */
class StoreMetadataSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  private def jobs[T](body: => T): (T, Seq[JobTrace.Job]) = {
    val (out, trace) = JobTrace.of(spark.sparkContext)(body)
    (out, trace.jobs)
  }

  test("a sidecar write and read run zero Spark jobs and round-trip every value type") {
    val dir = TestDirs.create("graft_sidecar").toString
    val path = s"$dir/meta.json"
    val (f, js) = jobs {
      Sidecar.write(spark, path, "i" -> 7, "l" -> (1L << 40), "s" -> "doc_id", "n" -> null)
      Sidecar.read(spark, path)
    }
    assert(js.isEmpty, js.mkString("\n"))
    assert(f.int("i") == 7 && f.long("l") == (1L << 40) && f.string("s") == "doc_id")
    assert(f.string("n") == null)
    // refusals name the file and field
    assert(intercept[IllegalArgumentException](f.int("missing")).getMessage.contains("missing"))
    assert(intercept[IllegalArgumentException](f.int("l")).getMessage.contains("overflows"))
    assert(intercept[IllegalArgumentException](f.long("s")).getMessage.contains("not an integer"))
    // write replaces; create-if-absent leaves an existing sidecar alone
    Sidecar.write(spark, path, "i" -> 8)
    assert(Sidecar.read(spark, path).int("i") == 8)
    assert(!Sidecar.createIfAbsent(spark, path, "i" -> 9))
    assert(Sidecar.read(spark, path).int("i") == 8)
    assert(Sidecar.createIfAbsent(spark, s"$dir/other.json", "i" -> 9))
    assert(Sidecar.read(spark, s"$dir/other.json").int("i") == 9)
    // no staging file, and no checksum file, is left beside them
    assert(new java.io.File(dir).list().toSeq.sorted == Seq("meta.json", "other.json"))
  }

  test("the BM25 lifecycle keeps its metadata in JSON sidecars and refuses a foreign corpus") {
    val docs = Seq((1L, "spark join scan"), (2L, "merge join table"), (3L, "fast table scan"))
      .toDF("doc_id", "text")
    val dir = TestDirs.create("graft_bm25json").toString
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, nBuckets = 4)
    val meta = Sidecar.read(spark, s"$dir/meta.json")
    assert(meta.int("n_buckets") == 4 && meta.string("id_col") == "doc_id" &&
      meta.long("n_docs") == 3L)
    val stats = Sidecar.read(spark, s"$dir/stats.json")
    assert(stats.long("_N") == 3L && stats.long("_sumdl") == 9L)
    assert(!new java.io.File(s"$dir/meta").exists() && !new java.io.File(s"$dir/stats").exists())
    // the corpus-identity guard still refuses a different corpus
    Retrieval.requireBm25IndexMatches(spark, dir, docs, "doc_id")
    val e = intercept[IllegalArgumentException] {
      Retrieval.requireBm25IndexMatches(spark, dir, docs.filter(col("doc_id") =!= 2L), "doc_id")
    }
    assert(e.getMessage.contains("different corpus"), e.getMessage)
    // and the segmented store's meta refuses an append keyed differently
    val seg = TestDirs.create("graft_bm25segjson").toString
    Retrieval.appendBm25Segment(docs, "doc_id", "text", seg, "s1", nBuckets = 4)
    assert(new java.io.File(s"$seg/segments/s1/stats.json").isFile)
    val drift = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Segment(Seq((4L, "x")).toDF("id", "text"), "id", "text", seg, "s2")
    }
    assert(drift.getMessage.contains("keyed by id_col"), drift.getMessage)
  }

  test("the streaming loops' _params.json guards still refuse geometry and parameter drift") {
    val grid = TestDirs.create("graft_cmparams").toString + "/grid"
    val toks = Seq("a", "b", "a").toDF("tok")
    StreamingSketch.processCmIncrement(toks, 0L, "tok", grid, 4, 32)
    assert(Sidecar.read(spark, s"$grid/_params.json").int("width") == 32)
    val geo = intercept[IllegalArgumentException] {
      StreamingSketch.processCmIncrement(toks, 1L, "tok", grid, 4, 64)
    }
    assert(geo.getMessage.contains("accumulated with (depth=4, width=32)"), geo.getMessage)

    val root = TestDirs.create("graft_exparams").toString
    val batch = Seq((1L, (0 until 12).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    StreamingDedup.processExciseIncrement(batch, 0L, "doc_id", "text",
      s"$root/grams", s"$root/out", 3, 16)
    val ex = intercept[IllegalArgumentException] {
      StreamingDedup.processExciseIncrement(batch, 1L, "doc_id", "text",
        s"$root/grams", s"$root/out", 4, 16)
    }
    assert(ex.getMessage.contains("accumulated with (n=3, hashHexChars=16)"), ex.getMessage)
  }

  test("re-opening an unchanged table runs zero Spark jobs and yields spark.read.parquet's schema") {
    val dir = TestDirs.create("graft_memo").toString
    val flat = s"$dir/flat"
    val parts = s"$dir/parts"
    val df = Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 1)).toDF("id", "s", "_bucket")
    df.write.parquet(flat)
    df.write.partitionBy("_bucket").parquet(parts)
    for (p <- Seq(flat, parts)) {
      val (_, first) = jobs(TableLoader.read(spark, p).schema)
      assert(first.size == 1, s"the first open of $p infers: ${first.mkString("\n")}")
      val (again, js) = jobs(TableLoader.read(spark, p))
      assert(js.isEmpty, s"re-opening $p ran jobs:\n${js.mkString("\n")}")
      assert(again.schema == spark.read.parquet(p).schema)
      assert(again.orderBy("id").collect().toSeq == spark.read.parquet(p).orderBy("id").collect().toSeq)
    }
  }

  test("an overwrite or append at the same path, or another session, re-infers") {
    val micros = 1704067201234567L
    val path = TestDirs.create("graft_memodrift").toString + "/events.parquet"
    def roundtrip(w: org.apache.spark.sql.DataFrame) = {
      w.write.mode("overwrite").parquet(path)
      val (ev, js) = jobs(TableLoader.loadEvents(spark, new java.io.File(path).getParent))
      assert(js.size == 1, s"a rewritten table must re-infer: ${js.mkString("\n")}")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(unix_micros(col("ts"))).as[Long].head() == micros)
    }
    // TableLoaderSpec's three drift shapes, one after another at ONE path
    val base = Seq(1L).toDF("event_id")
    roundtrip(base.select(col("event_id"), timestamp_micros(lit(micros)).as("ts")))
    roundtrip(base.select(col("event_id"),
      timestamp_micros(lit(micros)).cast(TimestampNTZType).as("ts")))
    roundtrip(Seq((1L, micros * 1000L)).toDF("event_id", "ts"))

    // append: one more file under the same path
    TableLoader.read(spark, path)
    Seq((2L, micros * 1000L)).toDF("event_id", "ts").write.mode("append").parquet(path)
    val (appended, js) = jobs(TableLoader.read(spark, path))
    assert(js.size == 1, s"an append must re-infer: ${js.mkString("\n")}")
    assert(appended.count() == 2)

    // another session infers for itself: its conf may read the same
    // files differently. The testdata events table is not written by
    // Spark, so its untagged `timestamp[us]` reads as TIMESTAMP_NTZ by
    // default and as TIMESTAMP with NTZ inference off.
    val events = sys.props("user.home") + "/testdata/sf0.001/events.parquet"
    assert(TableLoader.read(spark, events).schema == spark.read.parquet(events).schema)
    for ((key, value) <- Seq("spark.sql.legacy.parquet.nanosAsLong" -> "false",
                             "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")) {
      val other = spark.newSession()
      other.conf.set(key, value)
      val (read, ojs) = JobTrace.of(spark.sparkContext)(TableLoader.read(other, events))
      assert(ojs.jobs.size == 1, s"a session with $key=$value must infer for itself")
      assert(read.schema == other.read.parquet(events).schema)
    }
  }
}
