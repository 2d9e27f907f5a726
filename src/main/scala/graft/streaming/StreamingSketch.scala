package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sketch
import graft.sources.{Sidecar, TableLoader}

/** The sketch tier as incremental loops — the sixth incremental family
  * (after exact / LSH-band / semantic / graph / span-excision in
  * [[StreamingDedup]]): corpus statistics that accumulate one micro-batch
  * at a time with NO reprocessing of history, because every sketch in
  * [[graft.operators.Sketch]] merges associatively:
  *
  *  - count-min grids add elementwise → each batch writes its own
  *    depth×width partial grid; the merged estimate reads ≤
  *    batches×depth×width counter rows, never any corpus row;
  *  - KMV bottom-k sketches merge by union + re-take the k minimum →
  *    each batch writes ≤ k distinct-hash rows per group;
  *  - Bloom bit sets merge by OR → each batch writes ≤ mBits positions.
  *
  * This is how the 100 TB statistics stay cheap under continuous
  * ingest: the day's partial is bounded by the sketch geometry (a
  * constant), not by the day's data, and "recompute corpus stats" is a
  * metadata-sized merge instead of a corpus scan. Exactly-once machinery
  * is shared with the other loops: batch-keyed partition overwrites
  * (replay rewrites the same path with the same rows — every partial is
  * a pure function of its batch input), Hadoop FileSystem probes
  * (HDFS/S3-safe), and a `_params` sidecar that refuses geometry drift
  * (merging grids of different width, bottom-k of different k, or bit
  * sets of different size is silently wrong, never loudly).
  *
  * Reference scope: the reference recomputes its corpus statistics from
  * scratch per run (app/embedding_gen.py's full-dictionary passes);
  * these loops are the form of the same statistics that survives both
  * 1000 executors and continuous arrival.
  */
object StreamingSketch {

  // ------------------------------------------------------------------ //
  // shared params-sidecar guard                                        //
  // ------------------------------------------------------------------ //

  /** Validate (or, on first write, record) the sketch geometry at
    * `dir/_params.json`. Fields is a (name → value) list; mismatch
    * refuses with the accumulated-vs-probe message the other loops use.
    *
    * The first write publishes by create-if-absent ([[Sidecar]]), and
    * correctness rests on the UNCONDITIONAL re-read below: whichever
    * writer's sidecar exists, every writer validates against it and
    * refuses a geometry mismatch, so there is no exists/write window. */
  private def guardParams(spark: SparkSession, dir: String, loop: String,
                          fields: Seq[(String, Int)]): Unit = {
    val path = s"$dir/_params.json"
    Sidecar.createIfAbsent(spark, path, fields: _*)
    StreamingDedup.requireParams(spark, path, fields) { stored =>
      s"$loop: sketch store at $dir was accumulated with " +
        fields.map(_._1).zip(stored).map { case (n, v) => s"$n=$v" }.mkString("(", ", ", ")") +
        "; this batch uses " +
        fields.map { case (n, v) => s"$n=$v" }.mkString("(", ", ", ")")
    }
  }

  // ------------------------------------------------------------------ //
  // count-min                                                          //
  // ------------------------------------------------------------------ //

  /** Accumulate a count-min grid over an item stream: each micro-batch
    * writes ITS OWN partial grid (≤ depth×width rows, whatever the batch
    * size) under `gridDir/batch_id=N`. [[mergedCmGrid]] is the live
    * corpus-lifetime sketch at any moment. */
  def cmSketchStream(items: DataFrame, itemCol: String, gridDir: String,
                     checkpoint: String, depth: Int = 4,
                     width: Int = 256): StreamingQuery =
    items.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processCmIncrement(batch, batchId, itemCol, gridDir, depth, width)
      }
      .start()

  /** One micro-batch of [[cmSketchStream]] — testable replay contract:
    * same batchId twice leaves the store byte-identical (the partial is
    * a pure function of the batch). */
  private[graft] def processCmIncrement(batch: DataFrame, batchId: Long,
                                        itemCol: String, gridDir: String,
                                        depth: Int, width: Int): Unit = {
    guardParams(batch.sparkSession, gridDir, "cmSketchStream",
      Seq("depth" -> depth, "width" -> width))
    Sketch.cmSketch(batch, itemCol, depth, width)
      .write.mode("overwrite").parquet(s"$gridDir/batch_id=$batchId")
  }

  /** The merged corpus-lifetime grid: elementwise sum of every batch
    * partial (the additive merge SketchSpec proves equals the one-shot
    * grid). Reads ≤ batches×depth×width counter rows and collapses them
    * map-side — a metadata-sized query however much data the batches
    * carried. Feed straight into [[Sketch.cmEstimates]]. */
  def mergedCmGrid(spark: SparkSession, gridDir: String): DataFrame =
    TableLoader.read(spark, gridDir)
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))

  // ------------------------------------------------------------------ //
  // KMV bottom-k                                                       //
  // ------------------------------------------------------------------ //

  /** Accumulate per-group KMV distinct sketches: each micro-batch writes
    * its own bottom-k partial (≤ k rows per group seen in the batch). */
  def kmvSketchStream(items: DataFrame, groupCol: String, itemCol: String,
                      sketchDir: String, checkpoint: String,
                      k: Int = 64): StreamingQuery =
    items.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processKmvIncrement(batch, batchId, groupCol, itemCol, sketchDir, k)
      }
      .start()

  /** One micro-batch of [[kmvSketchStream]]. */
  private[graft] def processKmvIncrement(batch: DataFrame, batchId: Long,
                                         groupCol: String, itemCol: String,
                                         sketchDir: String, k: Int): Unit = {
    guardParams(batch.sparkSession, sketchDir, "kmvSketchStream", Seq("k" -> k))
    Sketch.kmvPerGroup(batch, groupCol, itemCol, k)
      .drop("rk") // ranks are merge-local; recomputed by [[mergedKmv]]
      .write.mode("overwrite").parquet(s"$sketchDir/batch_id=$batchId")
  }

  /** The merged per-group sketch: union every partial, dedup hashes, and
    * re-take the bottom k (the union merge SketchSpec proves equals the
    * one-shot sketch — a hash in the true bottom-k is in its batch's
    * bottom-k). Output matches [[Sketch.kmvPerGroup]] (groupCol, h, rk),
    * so it feeds [[Sketch.kmvEstimate]] unchanged. The read is ≤
    * batches×groups×k rows. */
  def mergedKmv(spark: SparkSession, sketchDir: String, groupCol: String,
                k: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy("h")
    TableLoader.read(spark, sketchDir)
      .select(col(groupCol), col("h")).distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  // ------------------------------------------------------------------ //
  // Bloom bits                                                         //
  // ------------------------------------------------------------------ //

  /** Accumulate a Bloom membership filter over a benchmark-document
    * stream (decontamination against a GROWING bench set): each
    * micro-batch writes the bit positions its docs set (≤ mBits rows). */
  def bloomBitsStream(bench: DataFrame, textCol: String, bitsDir: String,
                      checkpoint: String, shingleN: Int = 3,
                      numHashes: Int = 3, mBits: Int = 16384): StreamingQuery =
    bench.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBloomIncrement(batch, batchId, textCol, bitsDir,
          shingleN, numHashes, mBits)
      }
      .start()

  /** One micro-batch of [[bloomBitsStream]]. */
  private[graft] def processBloomIncrement(batch: DataFrame, batchId: Long,
                                           textCol: String, bitsDir: String,
                                           shingleN: Int, numHashes: Int,
                                           mBits: Int): Unit = {
    guardParams(batch.sparkSession, bitsDir, "bloomBitsStream",
      Seq("shingle_n" -> shingleN, "num_hashes" -> numHashes, "m_bits" -> mBits))
    Sketch.bloomBits(batch, textCol, shingleN, numHashes, mBits)
      .write.mode("overwrite").parquet(s"$bitsDir/batch_id=$batchId")
  }

  /** The merged filter: OR of every partial = distinct union of set
    * positions (SketchSpec's OR-merge property). Feed through
    * [[Sketch.bloomArray]] into [[Sketch.bloomContamination]]. */
  def mergedBloomBits(spark: SparkSession, bitsDir: String): DataFrame =
    TableLoader.read(spark, bitsDir).select("pos").distinct()
}
