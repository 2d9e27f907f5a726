package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY.md §2.H S-1, S-3).
  *
  * The reference's streaming is incremental ingest (uploads appended to a
  * live index at any time, app/embedding_gen.py:315-409) and LLM-token
  * egress (app/main.py:616-647). Here:
  *  - incremental ingest = file-source readStream → clean/chunk/embed →
  *    foreachBatch append to partitioned parquet (exactly-once via
  *    checkpoint);
  *  - event-time analytics = watermark + tumbling/sliding windows over the
  *    events stream (the batch twin is SparkEntry q_events_tumbling, so
  *    stream and batch results can be cross-checked).
  *
  * Scale notes: state is bounded by the watermark; sinks append
  * partitioned parquet so downstream readers prune; `maxFilesPerTrigger`
  * caps per-micro-batch work under backlog.
  */
object StreamingOps {

  /** File-source text stream of a landing directory (S-3 upload source). */
  def readDocumentStream(spark: SparkSession, landingDir: String,
                         maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("wholetext", "true")
      .text(landingDir)
      .select(
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("doc_id"),
        col("value").as("text"))

  /** Batch twin of the upload source (O-2): scan a multi-tenant landing
    * directory `landing/<tenant>/<file>` in one pass, deriving the
    * tenant from the parent directory and doc_id from the filename (the
    * same filename rule as [[readDocumentStream]], so batch backfill and
    * the live stream share one contract; ref app/embedding_gen.py:315-409
    * uploads land per-user). Map-only: at 100 TB this is a parallel file
    * scan with no shuffle; downstream writers partition by tenant.
    * The landing dir is listed recursively rather than globbed: a glob
    * path is probed for a streaming-sink metadata dir as a literal name,
    * which logs a spurious `FileNotFoundException`. */
  def readUploadBatch(spark: SparkSession, landingDir: String): DataFrame =
    spark.read
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .text(landingDir)
      .select(
        regexp_extract(input_file_name(), "([^/]+)/[^/]+$", 1).as("tenant"),
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("doc_id"),
        col("value").as("text"))

  /** Incremental ingest: stream → chunk → embed → append to the index
    * store. Returns the configured writer; the caller calls .start(). */
  def incrementalIngest(docs: DataFrame, indexDir: String, checkpointDir: String,
                        chunkSize: Int = graft.Schemas.ChunkSize): DataStreamWriter[org.apache.spark.sql.Row] = {
    // chunking is a stateless streaming transform; embedding runs inside
    // foreachBatch (its agg/join shape — incl. localCheckpoint — needs a
    // batch DataFrame, and per-micro-batch is exactly the right batching)
    val chunked = graft.operators.Ingest.chunk(
      docs.filter(graft.operators.Ingest.nonBlank(col("text"))), "text", chunkSize)
      .select("doc_id", "chunk_idx", "chunk_text")
    chunked.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Embed.withEmbedding(batch, "chunk_text", "embedding")
          .write.mode("append").parquet(indexDir)
      }
  }

  /** Event stream with schema + watermark applied. */
  def readEventStream(spark: SparkSession, dir: String, schema: StructType,
                      watermark: String = "10 minutes"): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", watermark)

  /** Tumbling-window counts/sums — the streaming twin of q_events_tumbling. */
  def tumblingCounts(events: DataFrame, width: String = "10 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** The WS-ask analog (SURVEY §3.2): a stream of queries answered per
    * micro-batch. Each batch of (query_id, query) rows is embedded,
    * broadcast against the index, top-k'd per query, and reduced to an
    * assembled answer — the batch twin of the reference's per-message
    * WebSocket loop (token-level egress is out of scope for a batch
    * engine; answers arrive assembled, app/main.py:724-727 semantics). */
  def answerBatch(queryBatch: DataFrame, index: DataFrame,
                  topK: Int = graft.Schemas.DefaultTopK): DataFrame = {
    val embedded = graft.operators.Embed.withEmbedding(queryBatch, "query", "qvec")
    val hits = graft.operators.Similarity.knnJoin(
      embedded, "query_id", "qvec", index, "doc_id", "embedding", topK,
      tieBreak = Seq("doc_id", "chunk_idx"))
    hits
      .groupBy(col("query_id"), col("query"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("rank").as("r"), col("chunk_text").as("t")))),
          s => s.getField("t")),
        " ").as("context"))
      .withColumn("answer",
        concat(substring(col("context"), 1, 160), lit(" …")))
      .select("query_id", "query", "answer")
  }

  /** S-1 token egress, assembled form (ref app/main.py:616-647,717-727:
    * the WS loop streams answer tokens in seq order and the client
    * concatenates the deltas into the final message): fold token rows
    * (answer_id, seq, token) into the assembled per-answer text.
    * `array_sort(collect_list(struct(seq, token)))` makes the fold
    * shuffle-order-proof — the same trick as context assembly
    * ([[graft.operators.Retrieval]]) and chat memory — so the result is
    * deterministic under any partitioning. One hash-aggregate, partial
    * map-side combine; per-group memory is one answer's tokens (answers
    * are KB-sized by contract, never corpus-sized). In streaming this
    * runs inside foreachBatch, one micro-batch = one set of completed
    * answers. */
  def assembleTokens(tokens: DataFrame, answerIdCol: String, seqCol: String,
                     tokenCol: String, sep: String = " "): DataFrame =
    tokens
      .groupBy(col(answerIdCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col(seqCol).as("s"), col(tokenCol).as("t")))),
            e => e.getField("t")),
          sep).as("answer"),
        count(lit(1)).as("n_tokens"))

  /** Wire answerBatch over a streaming query source via foreachBatch. */
  def askStream(queries: DataFrame, index: DataFrame, checkpointDir: String,
                sink: DataFrame => Unit,
                topK: Int = graft.Schemas.DefaultTopK): DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) sink(answerBatch(batch, index, topK))
      }

  /** Sliding windows (width, slide) over the same stream. */
  def slidingCounts(events: DataFrame, width: String = "10 minutes",
                    slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  /** Session-window counts (30-minute inactivity gap, ref semantics) —
    * the streaming twin of q_events_session. Works on batch and streaming
    * inputs alike; in streaming append mode a watermark on `ts` is
    * required, and a session emits once the watermark passes its end.
    * State per key is one open session struct — bounded, RocksDB-safe. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
}
