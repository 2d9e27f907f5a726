package graft
package queries

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryHelpers._

/** File-surface operators (O-1/O-2/O-4/O-5): each writes real files
  * under the per-JVM scratch root (idempotent overwrite), so the scan
  * and sink code paths run under the driver gate. */
object FileQueries {

  /** The files q_corpus_scan writes, as (file name, text, charset the
    * scan must report): PMC_b's latin-1 bytes are not valid UTF-8, and
    * skip.csv sits outside the PMC*.txt glob. */
  private val CorpusFiles: Seq[(String, String, String)] = Seq(
    ("PMC_a.txt", "alpha beta gamma delta", "utf-8"),
    ("PMC_b.txt", "café x", "latin-1"),
    ("skip.csv", "not scanned", "utf-8"))
  private val Charsets = Map("utf-8" -> StandardCharsets.UTF_8, "latin-1" -> StandardCharsets.ISO_8859_1)

  /** The landing dir q_upload_scan writes, as (tenant, file name, text). */
  private val UploadFiles: Seq[(String, String, String)] = Seq(
    ("tenantA", "a_doc1.txt", "alpha upload one two three"),
    ("tenantA", "a_doc2.txt", "beta upload with\nnewline body"),
    ("tenantB", "b_doc1.txt", "gamma tenant b payload"))

  /** DuckDB: `rows` of string literals as the table `v(cols)`. */
  private def dValues(cols: String, rows: Seq[Seq[String]]): String =
    rows.map(_.map(x => "'" + x.replace("'", "''") + "'").mkString("(", ", ", ")"))
      .mkString("(VALUES ", ", ", s") v($cols)")

  val all: Seq[Q] = Seq(

    // O-1/O-10 + charset fallback: scan a written corpus dir. The oracle
    // replays the written names through the glob, the detected charset,
    // and the decoded text's token count.
    Q("q_corpus_scan", (s, dir) => {
      val tmp = new java.io.File(scratch("corpus_demo", dir))
      tmp.mkdirs()
      CorpusFiles.foreach { case (name, text, charset) =>
        java.nio.file.Files.write(new java.io.File(tmp, name).toPath, text.getBytes(Charsets(charset)))
      }
      graft.sources.CorpusSource.scanWithCharsetFallback(s, tmp.getAbsolutePath, "PMC*.txt")
        .toDF()
        .select(col("doc_id"), col("charset"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }, oracle =
      s"""SELECT doc_id, charset, CAST(len(${dTokens("text")}) AS BIGINT) AS n_tokens
         |FROM ${dValues("doc_id, charset, text", CorpusFiles.map { case (n, t, c) => Seq(n, c, t) })}
         |WHERE doc_id GLOB 'PMC*.txt'
         |ORDER BY doc_id""".stripMargin),

    // O-2 batch form: multi-tenant upload landing-dir scan, two tenants'
    // uploads; the projection is
    // [[graft.streaming.StreamingOps.readUploadBatch]], the batch twin of
    // the live upload stream (ref app/embedding_gen.py:315-409).
    Q("q_upload_scan", (s, dir) => {
      val tmp = new java.io.File(scratch("upload_demo", dir))
      UploadFiles.foreach { case (tenant, name, body) =>
        val td = new java.io.File(tmp, tenant)
        td.mkdirs()
        java.nio.file.Files.write(new java.io.File(td, name).toPath, body.getBytes("UTF-8"))
      }
      graft.streaming.StreamingOps.readUploadBatch(s, tmp.getAbsolutePath)
        .select(col("tenant"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("tenant", "doc_id")
    }, oracle =
      s"""SELECT tenant, doc_id, CAST(len(${dTokens("text")}) AS BIGINT) AS n_tokens
         |FROM ${dValues("tenant, doc_id, text", UploadFiles.map { case (tn, n, b) => Seq(tn, n, b) })}
         |ORDER BY tenant, doc_id""".stripMargin),

    // O-4/O-5: tenant-partitioned index write + pruned read-back; the
    // files are a pass-through so per-tenant counts ARE oracle-checkable.
    Q("q_index_roundtrip", (s, dir) => {
      val idx = scratch("idx_rt", dir)
      val embedded = t(s, dir, "embeddings").select(
        col("vec_id").as("doc_id"), lit(0).as("chunk_idx"),
        col("embedding"),
        concat(lit("user"), pmod(col("label"), lit(3))).as("user_id"))
      embedded.write.mode("overwrite").partitionBy("user_id").parquet(idx)
      s.read.parquet(idx)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_chunks"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("user_id")
    }, oracle =
      """SELECT 'user' || CAST(label % 3 AS VARCHAR) AS user_id,
        |       count(*) AS n_chunks, count(DISTINCT vec_id) AS n_docs
        |FROM embeddings GROUP BY 1 ORDER BY user_id""".stripMargin),

    // O-4 upsert semantics (the reference's bulk `_id` upsert): build a
    // two-tenant index where every doc has chunks {0,1}, then re-upload
    // u0's docs < 10 with a SINGLE chunk_idx=9 chunk. The per-user
    // (n_chunks, n_docs, sum_chunk_idx) signature proves replacement
    // happened (not append) and that u1 was untouched — all derivable
    // from the embeddings table, which is what the oracle does.
    Q("q_index_upsert", (s, dir) => {
      val idx = scratch("idx_up", dir)
      val base = t(s, dir, "embeddings").filter(col("vec_id") < 40)
        .select(col("vec_id").as("doc_id"),
          concat(lit("u"), pmod(col("label"), lit(2))).as("user_id"))
      // static overwrite = full table replace → idempotent initial state
      base.select(col("doc_id"), explode(array(lit(0), lit(1))).as("chunk_idx"),
          col("user_id"))
        .write.mode("overwrite").partitionBy("user_id").parquet(idx)
      val newDocs = base.filter(col("user_id") === "u0" && col("doc_id") < 10)
        .select(col("doc_id"), lit(9).as("chunk_idx"))
      graft.sources.IndexStore.upsertTenantDocs(s, idx, "u0", newDocs)
      s.read.parquet(idx)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("chunk_idx")).cast("long").as("sum_chunk_idx"))
        .orderBy("user_id")
    }, oracle =
      // Post-upsert state derived straight from the embeddings table:
      // u0 docs < 10 were replaced by one chunk_idx=9 chunk; everything
      // else keeps chunks {0,1}.
      """WITH b AS (SELECT vec_id AS doc_id, 'u' || CAST(label % 2 AS VARCHAR) AS user_id
        |           FROM embeddings WHERE vec_id < 40),
        |st AS (SELECT doc_id, user_id,
        |          CASE WHEN user_id = 'u0' AND doc_id < 10 THEN 1 ELSE 2 END AS nch,
        |          CASE WHEN user_id = 'u0' AND doc_id < 10 THEN 9 ELSE 1 END AS sci
        |       FROM b)
        |SELECT user_id, CAST(sum(nch) AS BIGINT) AS n_chunks,
        |       count(DISTINCT doc_id) AS n_docs,
        |       CAST(sum(sci) AS BIGINT) AS sum_chunk_idx
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin),
  )
}
