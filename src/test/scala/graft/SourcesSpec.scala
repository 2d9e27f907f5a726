package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CorpusSource, IndexStore}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  test("charset fallback: strict utf-8, latin-1 for invalid byte streams") {
    val dir = TestDirs.create("graft_corpus").toFile
    Files.write(new java.io.File(dir, "PMC_utf8.txt").toPath,
      "café text".getBytes("UTF-8"))
    // 0xE9 alone is invalid UTF-8 but is 'é' in latin-1
    Files.write(new java.io.File(dir, "PMC_latin1.txt").toPath,
      Array[Byte]('c', 'a', 'f', 0xE9.toByte))
    val docs = CorpusSource.scanWithCharsetFallback(spark, dir.getAbsolutePath, "PMC*.txt")
      .collect().map(d => d.doc_id -> d).toMap
    assert(docs("PMC_utf8.txt").text == "café text")
    assert(docs("PMC_utf8.txt").charset == "utf-8")
    assert(docs("PMC_latin1.txt").text == "café")
    assert(docs("PMC_latin1.txt").charset == "latin-1")
  }

  test("corpus scan: whole file per row, filename as doc_id, glob filter") {
    val dir = TestDirs.create("graft_corpus2").toFile
    Files.writeString(new java.io.File(dir, "PMC1.txt").toPath, "line1\nline2")
    Files.writeString(new java.io.File(dir, "skip.csv").toPath, "nope")
    val docs = CorpusSource.scan(spark, dir.getAbsolutePath, "PMC*.txt")
      .as[(String, String)].collect().toMap
    assert(docs == Map("PMC1.txt" -> "line1\nline2"))
  }

  test("tenant index: partitionBy(user_id) layout and partition-pruned read") {
    val idx = TestDirs.create("graft_idx").toString + "/index"
    val rows = Seq(
      ("d1", 0, "text a", Seq(1f, 0f), "alice"),
      ("d2", 0, "text b", Seq(0f, 1f), "bob"))
      .toDF("doc_id", "chunk_idx", "text", "embedding", "user_id")
    IndexStore.appendToIndex(rows, idx)
    // directory layout is the tenant partition scheme
    assert(new java.io.File(s"$idx/user_id=alice").isDirectory)
    val alice = IndexStore.readTenant(spark, idx, "alice")
    assert(alice.select("doc_id").as[String].collect().toSeq == Seq("d1"))
    // the pruned scan must carry a partition filter, not a post-scan filter
    val plan = alice.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("user_id"),
      s"expected partition pruning in:\n$plan")
    // idempotent append keeps tenants isolated
    IndexStore.appendToIndex(
      Seq(("d3", 0, "text c", Seq(1f, 1f), "alice"))
        .toDF("doc_id", "chunk_idx", "text", "embedding", "user_id"), idx)
    assert(IndexStore.readTenant(spark, idx, "alice").count() == 2)
    assert(IndexStore.readTenant(spark, idx, "bob").count() == 1)
  }

  test("tenant upsert: replaced doc's chunks swap, other docs/tenants intact") {
    val idx = TestDirs.create("graft_upsert").toString + "/index"
    IndexStore.appendToIndex(Seq(
      ("d1", 0, "old d1 c0", Seq(1f, 0f), "alice"),
      ("d1", 1, "old d1 c1", Seq(1f, 1f), "alice"),
      ("d2", 0, "keep me", Seq(0f, 1f), "alice"),
      ("d9", 0, "bob doc", Seq(0f, 0f), "bob"))
      .toDF("doc_id", "chunk_idx", "text", "embedding", "user_id"), idx)

    // re-upload d1 with ONE new chunk (the reference's _id upsert)
    IndexStore.upsertTenantDocs(spark, idx, "alice",
      Seq(("d1", 0, "new d1 c0", Seq(2f, 0f)))
        .toDF("doc_id", "chunk_idx", "text", "embedding"))

    val alice = IndexStore.readTenant(spark, idx, "alice")
      .select("doc_id", "chunk_idx", "text").as[(String, Int, String)].collect().toSet
    assert(alice == Set(("d1", 0, "new d1 c0"), ("d2", 0, "keep me")))
    // other tenant untouched
    assert(IndexStore.readTenant(spark, idx, "bob")
      .select("text").as[String].collect().toSeq == Seq("bob doc"))
    // staging dir cleaned up
    assert(!new java.io.File(idx).listFiles().exists(_.getName.startsWith("_staging")), "staging dir cleaned up")

    // first upload from a BRAND-NEW tenant through the same upsert path
    // (the reference's lazy index creation): adds carol, touches no one
    IndexStore.upsertTenantDocs(spark, idx, "carol",
      Seq(("c1", 0, "carol doc", Seq(3f, 0f)))
        .toDF("doc_id", "chunk_idx", "text", "embedding"))
    assert(IndexStore.readTenant(spark, idx, "carol")
      .select("text").as[String].collect().toSeq == Seq("carol doc"))
    assert(IndexStore.readTenant(spark, idx, "alice").count() == 2)
    assert(IndexStore.readTenant(spark, idx, "bob").count() == 1)
  }

  test("tenant delete: named docs drop, last-doc delete purges the partition dir") {
    val idx = TestDirs.create("graft_del").toString + "/index"
    IndexStore.appendToIndex(Seq(
      ("d1", 0, "erase me c0", Seq(1f, 0f), "alice"),
      ("d1", 1, "erase me c1", Seq(1f, 1f), "alice"),
      ("d2", 0, "keep me", Seq(0f, 1f), "alice"),
      ("d9", 0, "bob doc", Seq(0f, 0f), "bob"))
      .toDF("doc_id", "chunk_idx", "text", "embedding", "user_id"), idx)
    IndexStore.deleteTenantDocs(spark, idx, "alice", Seq("d1").toDF("doc_id"))
    assert(IndexStore.readTenant(spark, idx, "alice")
      .select("doc_id").as[String].collect().toSeq == Seq("d2"))
    assert(IndexStore.readTenant(spark, idx, "bob").count() == 1)
    assert(!new java.io.File(idx).listFiles().exists(_.getName.startsWith("_staging")), "staging dir cleaned up")
    // erasing the tenant's LAST doc must remove the partition dir too —
    // dynamic overwrite alone would leave the old files behind
    IndexStore.deleteTenantDocs(spark, idx, "alice", Seq("d2").toDF("doc_id"))
    assert(!new java.io.File(s"$idx/user_id=alice").exists)
    assert(IndexStore.readTenant(spark, idx, "bob").count() == 1)
    // full account erasure is a directory drop
    IndexStore.purgeTenant(spark, idx, "bob")
    assert(!new java.io.File(s"$idx/user_id=bob").exists)
  }

  test("purgeTenant: path-hostile tenant id (Spark percent-escapes the dir) still erases") {
    val idx = TestDirs.create("graft_esc").toString + "/index"
    // ':' and ' ' are in Spark's escapePathName charset — the partition
    // dir on disk is NOT literally "user_id=ten:ant 7"
    val hostile = "ten:ant 7"
    IndexStore.appendToIndex(Seq(
      ("d1", 0, "escape me", Seq(1f, 0f), hostile),
      ("d9", 0, "bob doc", Seq(0f, 1f), "bob"))
      .toDF("doc_id", "chunk_idx", "text", "embedding", "user_id"), idx)
    assert(IndexStore.readTenant(spark, idx, hostile).count() == 1)
    assert(!new java.io.File(s"$idx/user_id=$hostile").exists,
      "precondition: the raw-id dir must not be the on-disk layout, or this test proves nothing")
    IndexStore.purgeTenant(spark, idx, hostile)
    assert(IndexStore.readTenant(spark, idx, hostile).isEmpty, "tenant rows erased")
    assert(IndexStore.readTenant(spark, idx, "bob").count() == 1, "other tenant untouched")
    // last-doc delete routes through purgeTenant — same escaping path
    IndexStore.appendToIndex(Seq(("d2", 0, "again", Seq(1f, 1f), hostile))
      .toDF("doc_id", "chunk_idx", "text", "embedding", "user_id"), idx)
    IndexStore.deleteTenantDocs(spark, idx, hostile, Seq("d2").toDF("doc_id"))
    assert(IndexStore.readTenant(spark, idx, hostile).isEmpty, "last-doc erasure erases")
  }

  test("compactPartitioned: per-append small files merge, content and pruning intact") {
    val idx = TestDirs.create("graft_cmp").toString + "/index"
    // three upload batches = three file sets per tenant dir
    (0 until 3).foreach { i =>
      IndexStore.appendToIndex(Seq(
        (s"a$i", 0, s"alice batch $i", Seq(i.toFloat, 0f), "alice"),
        (s"b$i", 0, s"bob batch $i", Seq(0f, i.toFloat), "bob"))
        .toDF("doc_id", "chunk_idx", "text", "embedding", "user_id"), idx)
    }
    def files(tenant: String): Int =
      new java.io.File(s"$idx/user_id=$tenant")
        .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("alice") == 3 && files("bob") == 3)
    val before = spark.read.parquet(idx)
      .select("doc_id", "chunk_idx", "text", "user_id")
      .as[(String, Int, String, String)].collect().toSet
    IndexStore.compactPartitioned(spark, idx, Seq("user_id"))
    assert(files("alice") == 1 && files("bob") == 1,
      "compaction must leave one file per tenant dir")
    val after = spark.read.parquet(idx)
      .select("doc_id", "chunk_idx", "text", "user_id")
      .as[(String, Int, String, String)].collect().toSet
    assert(after == before, "compaction changed store content")
    assert(!new java.io.File(s"$idx/_compact_staging").exists)
    // tenant pruning still works on the compacted layout
    val plan = IndexStore.readTenant(spark, idx, "alice")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("user_id"))
  }

  test("clustered layout: disjoint per-file key ranges + pushed key filter") {
    val dir = TestDirs.create("graft_clustered").toString + "/tbl"
    val rows = spark.range(0, 10000).toDF("k")
      .withColumn("payload", md5(col("k").cast("string")))
    IndexStore.writeClustered(rows, dir, "k", numFiles = 8)

    // each parquet file covers a non-overlapping key range — that is the
    // property parquet footer stats need to skip whole files/row groups
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length == 8)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("k"), max("k"))
        .as[(Long, Long)].collect().head
      r
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, s"overlapping file ranges: $hi >= $lo")
      case _ =>
    }

    // a key-range probe pushes the predicate to the parquet reader
    val probe = spark.read.parquet(dir).filter(col("k") >= 100 && col("k") < 110)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(k,100"),
      s"expected pushed key filter in:\n$plan")
    assert(probe.count() == 10)
  }

  test("hasAnyData gate: false for missing/empty, true after append") {
    val idx = TestDirs.create("graft_idx2").toString + "/index"
    assert(!IndexStore.hasAnyData(spark, idx))
    IndexStore.appendToIndex(
      Seq(("d1", 0, "t", Seq(1f), "u")).toDF("doc_id", "chunk_idx", "text", "embedding", "user_id"),
      idx)
    assert(IndexStore.hasAnyData(spark, idx))
  }

  test("upload doc_id derivation: stem_unixtime with injected timestamp") {
    val out = Seq(("uploads/alice/paper.final.txt", 1700000000L), ("note", 1700000001L))
      .toDF("file", "ts")
      .select(graft.operators.Ingest.uploadDocId(col("file"), col("ts")).as("doc_id"))
      .as[String].collect().toSeq
    assert(out == Seq("paper.final_1700000000", "note_1700000001"))
  }

  test("auth gate: blank id or email rejects the request (reference semantics)") {
    val users = Seq(("u1", "a@x.com"), ("u2", "  "), ("", "c@x.com"), ("u4", null))
      .toDF("id", "email")
    val requests = Seq("u1", "u2", "u3", "u4", "").toDF("user_id")
    val ok = IndexStore.authorized(requests, users).as[String].collect().toSeq
    assert(ok == Seq("u1"))
  }
}
