package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextFunctions.cleanText
import graft.sources.Sidecar

/** Streaming deduplication for continuous corpus ingest (north-star: the
  * dedup tier of a training-data pipeline run as a stream instead of a
  * nightly batch; batch twins in `operators.Dedup`).
  *
  * Two tiers:
  *  - EXACT: fingerprint = md5(cleaned text), deduplicated with
  *    `dropDuplicatesWithinWatermark` — state holds only fingerprints
  *    younger than the watermark, so at 100 TB/day the state store is
  *    bounded by (ingest rate × watermark), never corpus size. The
  *    trade-off is explicit: a duplicate arriving after the watermark
  *    expires its original is re-admitted (batch dedup sweeps those up).
  *  - NEAR-DUP (simhash): the per-row codegen simhash expression runs as
  *    a stateless stream transform, then `flatMapGroupsWithState` keyed
  *    by the blocking key compares each arrival against the hashes
  *    already seen in its block — the streaming analogue of the batch
  *    block-keyed self-join (`Dedup.simhashPairs`). State per block is a
  *    newest-first (simhash, doc_id) list capped at `maxPerBlock`
  *    (drop-oldest), so a hot block degrades to approximate (recent-only)
  *    matching instead of unbounded state.
  *
  * Equivalence contract (pinned by StreamingDedupSpec): with arrival
  * order = id order and `maxPerBlock` unhit, a doc is flagged dup iff it
  * appears as `id_b` in `Dedup.simhashPairs` over the same docs, and
  * (dup_of, doc_id, hamming) is one of its minimum-hamming batch pairs.
  */
object StreamingDedup {

  /** Exact streaming dedup: first arrival of each fingerprint inside the
    * watermark passes through; later copies are dropped. */
  def exactDedupStream(docs: DataFrame, textCol: String, tsCol: String,
                       watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fingerprint", md5(cleanText(col(textCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** One document arriving at the near-dup filter (simhash precomputed by
    * [[simhashDedup]]'s stateless prefix). `seq` orders arrivals within a
    * micro-batch (iterator order is not guaranteed chronological). */
  case class DocArrival(block: String, seq: Long, doc_id: Long, simhash: Long)

  /** (simhash, doc_id) pairs, newest-first. */
  case class BlockState(entries: List[(Long, Long)])

  /** `dup_of` = kept doc this one duplicates (min hamming, tie → earliest
    * seen); -1 and hamming -1 when unique. */
  case class DedupOutcome(block: String, seq: Long, doc_id: Long,
                          is_dup: Boolean, dup_of: Long, hamming: Long)

  /** Pure transition: compare one arrival against the block's seen set.
    * `matchAll` controls state admission: false (default) keeps only
    * uniques — the greedy keep-one-canonical-per-cluster form; true adds
    * every arrival, so "dup" means "within maxHamming of ANY earlier
    * doc" — the form a single SQL pass (and the DuckDB oracle) can
    * express. */
  private[streaming] def applyDoc(state: BlockState, doc: DocArrival,
                                  maxHamming: Int, maxPerBlock: Int,
                                  matchAll: Boolean)
      : (BlockState, DedupOutcome) = {
    // min-hamming scan over the newest-first list; <= lets later (older)
    // entries take ties, so the winner is the EARLIEST-SEEN minimum —
    // by arrival order, not doc_id (they coincide only when arrivals
    // are id-ordered, as in q_stream_dedup's seq = doc_id)
    var bestId = -1L
    var bestHam = Long.MaxValue
    state.entries.foreach { case (h, id) =>
      val ham = java.lang.Long.bitCount(h ^ doc.simhash).toLong
      if (ham <= bestHam) { bestHam = ham; bestId = id }
    }
    val isDup = bestId >= 0 && bestHam <= maxHamming
    val admit = !isDup || matchAll
    val next =
      if (admit) BlockState(((doc.simhash, doc.doc_id) :: state.entries).take(maxPerBlock))
      else state
    val outcome =
      if (isDup) DedupOutcome(doc.block, doc.seq, doc.doc_id, is_dup = true, bestId, bestHam)
      else DedupOutcome(doc.block, doc.seq, doc.doc_id, is_dup = false, -1L, -1L)
    (next, outcome)
  }

  /** flatMapGroupsWithState update: fold this micro-batch's arrivals (in
    * seq order) through the block state, one outcome per arrival.
    *
    * Memory contract: the group's arrivals are buffered to sort by
    * `seq`, so per-call memory is O(arrivals per block per
    * micro-batch). In streaming, the micro-batch bounds that. In BATCH
    * mode the whole input is one "micro-batch" — use fine-grained
    * blocks (LSH bands, not a handful of coarse sources) when running
    * corpus-sized batch dedup through this operator, or use the batch
    * `Dedup.simhashPairs` path, which never buffers a block. */
  def update(maxHamming: Int, maxPerBlock: Int, matchAll: Boolean)(
      block: String,
      docs: Iterator[DocArrival],
      state: GroupState[BlockState]): Iterator[DedupOutcome] = {
    val sorted = docs.toIndexedSeq.sortBy(_.seq)
    var st = state.getOption.getOrElse(BlockState(Nil))
    val out = sorted.map { d =>
      val (next, outcome) = applyDoc(st, d, maxHamming, maxPerBlock, matchAll)
      st = next
      outcome
    }
    state.update(st)
    out.iterator
  }

  /** Wire the near-dup filter over a (streaming or batch) docs frame:
    * stateless simhash projection, then keyed state per block. */
  def simhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   blockCol: String, seqCol: String,
                   bits: Int = 16, maxHamming: Int = 3,
                   maxPerBlock: Int = 100000,
                   matchAll: Boolean = false): Dataset[DedupOutcome] = {
    implicit val inEnc = Encoders.product[DocArrival]
    implicit val outEnc = Encoders.product[DedupOutcome]
    implicit val stateEnc = Encoders.product[BlockState]
    docs
      .select(col(blockCol).cast("string").as("block"),
        col(seqCol).cast("long").as("seq"),
        col(idCol).cast("long").as("doc_id"),
        graft.operators.Dedup.simhash(col(textCol), bits).as("simhash"))
      .as[DocArrival]
      .groupByKey(_.block)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        update(maxHamming, maxPerBlock, matchAll))
  }

  /** The BATCH-SAFE form of the near-dup filter (matchAll semantics):
    * identical outcomes to `simhashDedup(..., matchAll = true)` under
    * id-ordered arrivals (StreamingDedupSpec pins it), but the state key
    * is (block × simhash band) instead of the raw block, so per-group
    * buffering is docs-per-(block, band value), never docs-per-block —
    * a single coarse block (one source at corpus scale) fans out over
    * up to nBands × 2^(bits/nBands) groups instead of OOMing one task.
    *
    * Why no matches are lost: nBands = maxHamming + 1 equal slices of
    * the simhash; two hashes within hamming ≤ maxHamming differ in at
    * most maxHamming bit positions, so by pigeonhole at least one band
    * is bit-identical — every qualifying pair meets in that band's
    * group, and the per-doc reduce takes the (hamming, dup_of)-minimum
    * across bands (= the global minimum, ties to the smaller id).
    *
    * Caveats: exact duplicates all land in the same groups (run exact
    * dedup first — as the curation pipeline does); the greedy
    * uniques-only admission (matchAll = false) needs cross-group
    * coordination and cannot be banded — use [[simhashDedup]] with
    * fine-grained blocks, or the batch `Dedup.clusters` path, for that
    * form. `maxPerBlock` caps each band group's state. */
  def simhashDedupBanded(docs: DataFrame, idCol: String, textCol: String,
                         blockCol: String, seqCol: String,
                         bits: Int = 16, maxHamming: Int = 3,
                         maxPerBlock: Int = 100000): Dataset[DedupOutcome] = {
    val nBands = maxHamming + 1
    require(bits % nBands == 0,
      s"bits=$bits must divide into nBands=$nBands (= maxHamming + 1) equal bands")
    val bandBits = bits / nBands
    implicit val inEnc = Encoders.product[DocArrival]
    implicit val outEnc = Encoders.product[DedupOutcome]
    implicit val stateEnc = Encoders.product[BlockState]
    val hashed = docs.select(
      col(blockCol).cast("string").as("block"),
      col(seqCol).cast("long").as("seq"),
      col(idCol).cast("long").as("doc_id"),
      graft.operators.Dedup.simhash(col(textCol), bits).as("simhash"))
    // ':'-separated key: band index and value are colon-free numerics,
    // so the rightmost two fields parse unambiguously even if the block
    // string itself contains ':' - distinct (block, band) never collide
    val bandKeys = (0 until nBands).map { i =>
      concat_ws(":", col("block"), lit(i),
        expr(s"(simhash >> ${i * bandBits}) & ${(1L << bandBits) - 1}"))
    }
    val outcomes = hashed
      .select(explode(array(bandKeys: _*)).as("block"),
        col("seq"), col("doc_id"), col("simhash"))
      .as[DocArrival]
      .groupByKey(_.block)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        update(maxHamming, maxPerBlock, matchAll = true))
    // per-doc reduce across bands: dup iff dup in ANY band; the reported
    // partner is the cross-band (hamming, dup_of) minimum
    val best = outcomes.toDF()
      .groupBy("doc_id")
      .agg(max(col("is_dup").cast("int")).as("_dup"),
        min(when(col("is_dup"), struct(col("hamming"), col("dup_of")))).as("_b"))
    hashed.join(best, "doc_id")
      .select(col("block"), col("seq"), col("doc_id"),
        (col("_dup") === 1).as("is_dup"),
        coalesce(col("_b.dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("_b.hamming"), lit(-1L)).as("hamming"))
      .as[DedupOutcome]
  }

  /** The streaming incremental-dedup LOOP — the production shape of
    * [[graft.operators.Dedup.exactIncrement]]: each micro-batch dedups
    * against the accumulated fingerprint index, writes its verdicts to
    * `outDir`, and adds its `new` fingerprints to `indexDir` so the
    * NEXT micro-batch sees them. `foreachBatch` is the honest vehicle:
    * the within-batch canonical needs a per-batch aggregate (not
    * expressible as an unbounded streaming agg in append mode), and the
    * index append must be transactionally AFTER the probe — exactly the
    * read-modify-append cycle a daily-increment job runs, here at
    * micro-batch granularity.
    *
    * Exactly-once: both sinks are batch-keyed partition directories
    * (`<dir>/batch_id=N`) written with OVERWRITE, and the index probe
    * excludes the current batch's own partition — so a checkpoint
    * replay after a crash anywhere inside the batch recomputes the
    * identical verdicts (it sees the same prior-batch index state) and
    * overwrites the same paths. No replay can record a doc twice or
    * with a contradictory status (pinned by StreamingDedupSpec).
    *
    * Scale: per micro-batch this is `exactIncrement` — batch-sized
    * fingerprint computation, fingerprint-only index probe (column
    * pruning; the accumulated text never loads), md5-keyed joins. All
    * filesystem access goes through the Hadoop `FileSystem` resolved
    * from the path, so `indexDir`/`outDir` may live on HDFS/S3/local
    * alike. */
  def incrementalDedupStream(docs: DataFrame, idCol: String, textCol: String,
                             indexDir: String, outDir: String,
                             checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processIncrement(batch, batchId, idCol, textCol, indexDir, outDir)
      }
      .start()

  /** One micro-batch of [[incrementalDedupStream]], factored out so the
    * replay-idempotency contract is directly testable: calling this
    * twice with the same `batchId` leaves both sinks byte-identical. */
  private[graft] def processIncrement(batch: DataFrame, batchId: Long,
                                      idCol: String, textCol: String,
                                      indexDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    // Hadoop FileSystem resolved FROM the path: a java.io.File probe
    // would return false forever on HDFS/S3 and silently mark every
    // doc `new` (round-3/4 verdict item 1)
    val idxPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing: DataFrame =
      if (fs.exists(idxPath))
        // `batch_id < batchId`: a replay must probe the index state the
        // FIRST attempt saw — including this batch's own fingerprints
        // (left by a crash after the index write) would flip its `new`
        // rows to `dup_corpus` on replay
        spark.read.parquet(indexDir)
          .filter(col("batch_id") < batchId)
          .select("fingerprint")
      else spark.emptyDataFrame
        .select(lit("").as("fingerprint")).limit(0)
    val verdicts = graft.operators.Dedup
      .exactIncrement(batch, idCol, textCol, existing)
    // batch-keyed overwrite (partition-style dir, so readers of outDir
    // recover batch_id as a partition column): replay rewrites the same
    // path with the same rows instead of appending a second copy
    verdicts.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // index rows derive from the COMMITTED verdicts (read-back), so the
    // two sinks can never disagree about what this batch admitted
    spark.read.parquet(s"$outDir/batch_id=$batchId")
      .filter(col("status") === "new")
      .select("fingerprint")
      .write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
  }

  /** The NEAR-dup incremental loop — [[incrementalDedupStream]] one
    * tier up, wrapping [[graft.operators.Dedup.minhashIncrement]]:
    * each micro-batch probes the accumulated LSH BAND index, writes
    * its verdicts, and appends the `new` docs' band rows so the next
    * micro-batch sees them. Same exactly-once machinery: batch-keyed
    * partition overwrites, probe excludes the current batch's own
    * partition, Hadoop FileSystem probe (HDFS/S3-safe). */
  def incrementalNearDupStream(docs: DataFrame, idCol: String, textCol: String,
                               bandDir: String, outDir: String, checkpoint: String,
                               shingleN: Int = 3, numHashes: Int = 8,
                               bands: Int = 4): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processNearDupIncrement(batch, batchId, idCol, textCol, bandDir, outDir,
          shingleN, numHashes, bands)
      }
      .start()

  /** One micro-batch of [[incrementalNearDupStream]] — testable replay
    * contract, as with [[processIncrement]]. */
  private[graft] def processNearDupIncrement(batch: DataFrame, batchId: Long,
                                             idCol: String, textCol: String,
                                             bandDir: String, outDir: String,
                                             shingleN: Int, numHashes: Int,
                                             bands: Int): Unit = {
    val spark = batch.sparkSession
    val bandPath = new org.apache.hadoop.fs.Path(bandDir)
    val fs = bandPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // `_params.json` sidecar (underscore prefix → invisible to parquet
    // scans of bandDir): an index built with different (shingleN,
    // numHashes, bands) produces buckets that NEVER collide with this
    // probe's, so a drifted prober would silently mark everything `new`
    // — fail loudly instead of corrupting the audit
    val paramsPath = s"$bandDir/_params.json"
    val params = Seq("shingle_n" -> shingleN, "num_hashes" -> numHashes, "bands" -> bands)
    def guard(): Unit = requireParams(spark, paramsPath, params) { p =>
      s"incrementalNearDupStream: band index at $bandDir was built with " +
        s"(shingleN=${p(0)}, numHashes=${p(1)}, bands=${p(2)}); " +
        s"this probe uses (shingleN=$shingleN, numHashes=$numHashes, bands=$bands)"
    }
    guard()
    val existing: DataFrame =
      if (fs.exists(bandPath))
        spark.read.parquet(bandDir)
          .filter(col("batch_id") < batchId)
          .select("band_id", "bucket", "id")
      else spark.emptyDataFrame
        .select(lit(0).as("band_id"), lit("").as("bucket"), lit(0L).as("id"))
        .limit(0)
    val verdicts = graft.operators.Dedup
      .minhashIncrement(batch, idCol, textCol, existing, shingleN, numHashes, bands)
    verdicts.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // band rows for the COMMITTED `new` docs only (read-back, as above);
    // blank docs have no shingles, so they contribute no bands and are
    // correctly re-reported `new` if they ever reappear
    val newIds = spark.read.parquet(s"$outDir/batch_id=$batchId")
      .filter(col("status") === "new")
      .select(col(idCol))
    val newBands = graft.operators.Dedup.lshBands(
        graft.operators.Dedup.withMinhashSignature(
          batch.join(newIds, Seq(idCol), "left_semi"),
          idCol, textCol, shingleN, numHashes),
        idCol, numHashes, bands)
      .select(col("band_id"), col("bucket"), col(idCol).as("id"))
    newBands.write.mode("overwrite").parquet(s"$bandDir/batch_id=$batchId")
    // persist the parameter tuple once the index exists (idempotent on
    // replay: same call → same params), then validate whichever tuple won
    Sidecar.createIfAbsent(spark, paramsPath, params: _*)
    guard()
  }

  /** The SEMANTIC incremental loop — the third tier of the
    * exact → near-dup → semantic ladder, wrapping
    * [[graft.operators.SemanticDedup.semanticIncrement]]: each
    * micro-batch of embedding vectors probes the accumulated
    * cell-assigned vector index, writes its verdicts, and appends the
    * `new` rows' (id, vec, cell_id) so the next micro-batch sees them.
    * Same exactly-once machinery as the other two loops: batch-keyed
    * partition overwrites, probe excludes the current batch's own
    * partition, Hadoop FileSystem probe (HDFS/S3-safe).
    *
    * Drift guard, one notch stronger than the near-dup tier's `_params`
    * sidecar: a `_codebook` sidecar persists the full (centroid id,
    * vector) table the index was assigned under, and a probe whose
    * codebook differs in ANY id or vector is refused. The inline guard
    * in `semanticIncrement` only catches alien cell IDS — two drifted
    * codebooks with the same id set would silently mis-route probes to
    * the wrong cells; byte-equality on the sidecar catches that too.
    *
    * The production assignment/confinement knobs
    * (`nSupers`/`superProbes`/`superVecs` two-level routing, `bands`
    * OR-confined probes — see [[graft.operators.SemanticDedup]]) pass
    * through, and they widen the drift surface the same way the
    * codebook does: hier routing can assign a vector a DIFFERENT
    * (valid) cell than flat, so an index built at one recipe probed at
    * another silently misses. The `_recipe` sidecar therefore persists
    * the complete recipe (knob values, super vectors, band planes) and
    * any mismatch refuses exactly like codebook drift. */
  def incrementalSemanticStream(vecs: DataFrame, idCol: String, vecCol: String,
                                centroids: DataFrame, cIdCol: String, cVecCol: String,
                                indexDir: String, outDir: String, checkpoint: String,
                                tau: Double, nSupers: Int = 0, superProbes: Int = 1,
                                superVecs: Seq[Seq[Double]] = Nil,
                                bands: Seq[Seq[Seq[Double]]] = Nil,
                                cellProbes: Int = 1): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processSemanticIncrement(batch, batchId, idCol, vecCol,
          centroids, cIdCol, cVecCol, indexDir, outDir, tau,
          nSupers, superProbes, superVecs, bands, cellProbes)
      }
      .start()

  /** Canonical JSON of the assignment/confinement recipe — the value
    * the `_recipe` sidecar stores and every probe must match. Doubles
    * print via Scala's shortest-roundtrip toString with negative zero
    * folded to 0.0 first (−0.0 == 0.0 numerically and hashes/assigns
    * identically, but renders differently — without the fold a recipe
    * re-derived with the opposite zero sign would be spuriously
    * refused forever), so numerically equal recipes always render
    * equal strings. */
  private def semanticRecipeJson(nSupers: Int, superProbes: Int,
                                 superVecs: Seq[Seq[Double]],
                                 bands: Seq[Seq[Seq[Double]]]): String = {
    def a1(xs: Seq[Double]) =
      xs.map(x => if (x == 0.0) 0.0 else x).mkString("[", ",", "]")
    def a2(xs: Seq[Seq[Double]]) = xs.map(a1).mkString("[", ",", "]")
    def a3(xs: Seq[Seq[Seq[Double]]]) = xs.map(a2).mkString("[", ",", "]")
    // inert-knob canonicalization: with nSupers == 0 assignment takes
    // the flat path and superProbes/superVecs have NO effect on any
    // cell id, so two recipes that assign identically must render the
    // same JSON — without the fold, a legacy (no-sidecar) store read
    // as the flat default would be spuriously refused forever by a
    // flat probe that happens to carry superProbes=2
    val (p, sv) = if (nSupers == 0) (1, Nil) else (superProbes, superVecs)
    s"""{"nSupers":$nSupers,"superProbes":$p,""" +
      s""""superVecs":${a2(sv)},"bands":${a3(bands)}}"""
  }

  /** One micro-batch of [[incrementalSemanticStream]] — testable replay
    * contract, as with [[processIncrement]]. */
  private[graft] def processSemanticIncrement(batch: DataFrame, batchId: Long,
                                              idCol: String, vecCol: String,
                                              centroids: DataFrame,
                                              cIdCol: String, cVecCol: String,
                                              indexDir: String, outDir: String,
                                              tau: Double, nSupers: Int = 0,
                                              superProbes: Int = 1,
                                              superVecs: Seq[Seq[Double]] = Nil,
                                              bands: Seq[Seq[Seq[Double]]] = Nil,
                                              cellProbes: Int = 1): Unit = {
    val spark = batch.sparkSession
    val idxPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = centroids.select(col(cIdCol).as("cell_id"), col(cVecCol).as("cvec"))
    val cbPath = new org.apache.hadoop.fs.Path(s"$indexDir/_codebook")
    val recipePath = new org.apache.hadoop.fs.Path(s"$indexDir/_recipe")
    val recipe = semanticRecipeJson(nSupers, superProbes, superVecs, bands)
    if (fs.exists(cbPath)) {
      val stored = spark.read.parquet(cbPath.toString)
      val drift = stored.exceptAll(cur).count() + cur.exceptAll(stored).count()
      require(drift == 0,
        s"incrementalSemanticStream: vector index at $indexDir was assigned " +
          s"under a different codebook than this probe's ($drift centroid " +
          "rows differ) — probing it would mis-route vectors to wrong cells")
      // legacy stores (pre-recipe sidecar) were assigned flat — their
      // missing sidecar means the default recipe, which the canonical
      // JSON of (0, 1, Nil, Nil) IS, so the comparison still applies
      val storedRecipe =
        if (fs.exists(recipePath))
          spark.read.parquet(recipePath.toString).head().getString(0)
        else semanticRecipeJson(0, 1, Nil, Nil)
      require(storedRecipe == recipe,
        s"incrementalSemanticStream: vector index at $indexDir was assigned " +
          s"under a different RECIPE than this probe's (stored $storedRecipe " +
          s"vs probe $recipe) — hier routing/banding can place the same " +
          "vector in a different cell or bucket, so probing would silently " +
          "miss stored near-duplicates")
    }
    val existing: DataFrame =
      if (fs.exists(idxPath))
        spark.read.parquet(indexDir)
          .filter(col("batch_id") < batchId)
          .select(col(idCol), col(vecCol), col("cell_id"))
      else {
        val cType = centroids.schema(centroids.schema.fieldIndex(cIdCol)).dataType
        batch.select(col(idCol), col(vecCol)).limit(0)
          .withColumn("cell_id", lit(null).cast(cType))
      }
    val verdicts = graft.operators.SemanticDedup.semanticIncrement(
      batch, idCol, vecCol, existing, centroids, cIdCol, cVecCol, tau,
      nSupers, superProbes, superVecs, bands)
    verdicts.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // index rows for the COMMITTED `new` rows only (read-back, as in the
    // other tiers): the verdict sink's cell_id rides along so the index
    // never re-assigns — its cells are exactly what the probe decided on
    val newRows = spark.read.parquet(s"$outDir/batch_id=$batchId")
      .filter(col("status") === "new")
      .select(col(idCol), col("cell_id"))
    batch.select(col(idCol), col(vecCol))
      .join(newRows, Seq(idCol))
      .write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
    // persist the recipe + codebook once the index exists (idempotent
    // on replay: same call → same codebook/recipe, validated above).
    // RECIPE FIRST: the drift guard triggers on the codebook sidecar's
    // existence and reads a missing recipe as the flat legacy default,
    // so writing the codebook first would open a crash window where a
    // non-default-recipe stream's own checkpoint replay is refused
    // forever; recipe-without-codebook just skips the guard and the
    // replay rewrites both. Both sidecars publish by STAGE-AND-RENAME:
    // a crash mid-write must leave no sidecar (replay rewrites it),
    // never a torn parquet dir that fs.exists treats as present and
    // the guard then fails to read forever — the same window the BM25
    // compaction marker closes the same way.
    def publishSidecar(target: org.apache.hadoop.fs.Path)(write: String => Unit): Unit =
      if (!fs.exists(target)) {
        val staged = new org.apache.hadoop.fs.Path(
          target.getParent, s"${target.getName}_tmp_${java.util.UUID.randomUUID}")
        write(staged.toString)
        if (!fs.rename(staged, target)) fs.delete(staged, true)
      }
    publishSidecar(recipePath) { staged =>
      val sess = spark; import sess.implicits._
      Seq(recipe).toDF("recipe")
        .coalesce(1).write.mode("overwrite").parquet(staged)
    }
    publishSidecar(cbPath) { staged =>
      cur.coalesce(1).write.mode("overwrite").parquet(staged)
    }
    // sweep stagings orphaned by a crash mid-write (inert — reads only
    // ever touch the published names)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$indexDir/_codebook_tmp_*")))
      .getOrElse(Array.empty).foreach(s => fs.delete(s.getPath, true))
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$indexDir/_recipe_tmp_*")))
      .getOrElse(Array.empty).foreach(s => fs.delete(s.getPath, true))
  }

  /** The GRAPH incremental loop — live maintenance of the HNSW-analog
    * k-NN graph (the reference appends uploads to its OpenSearch HNSW
    * index at any time, app/embedding_gen.py:315-409): each micro-batch
    * cell-assigns its vectors under the pinned codebook, links them via
    * [[graft.operators.Ann.graphInsert]] against the accumulated node
    * index (the batch is self-aware — intra-batch near-dups link), and
    * writes (a) its node rows and (b) its new edge rows, both
    * batch-keyed partition overwrites for exactly-once replay. Edges
    * nest `src_bucket` partitions INSIDE each batch partition, so
    * [[graft.operators.Ann.graphSearch]] over
    * [[graft.operators.Ann.storeLookup]]`(edgeDir)` keeps its per-hop
    * partition pruning through the batch layout.
    * Codebook drift is refused via the same `_codebook` sidecar as the
    * semantic loop (byte-equality on ids AND vectors).
    *
    * Maintenance: the batch-keyed dirs accrue one file set per input
    * partition per batch. Compact with
    * `IndexStore.compactPartitioned(edgeDir, Seq("batch_id", "src_bucket"))`
    * — a FILE-level merge that keeps the batch_id layout, so the
    * exactly-once replay contract (a re-run batch overwrites its own
    * `batch_id=N` dir) survives compaction. Do NOT fold batch dirs
    * together: a crash-replayed batch would then re-add its rows next
    * to the folded copy. */
  def incrementalGraphStream(vecs: DataFrame, idCol: String, vecCol: String,
                             centroids: DataFrame, cIdCol: String, cVecCol: String,
                             nodeDir: String, edgeDir: String, checkpoint: String,
                             m: Int, nBuckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processGraphIncrement(batch, batchId, idCol, vecCol,
          centroids, cIdCol, cVecCol, nodeDir, edgeDir, m, nBuckets)
      }
      .start()

  /** One micro-batch of [[incrementalGraphStream]] — testable replay
    * contract, as with the other three loops. */
  private[graft] def processGraphIncrement(batch: DataFrame, batchId: Long,
                                           idCol: String, vecCol: String,
                                           centroids: DataFrame,
                                           cIdCol: String, cVecCol: String,
                                           nodeDir: String, edgeDir: String,
                                           m: Int, nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val nodePath = new org.apache.hadoop.fs.Path(nodeDir)
    val fs = nodePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = centroids.select(col(cIdCol).as("cell_id"), col(cVecCol).as("cvec"))
    val cbPath = new org.apache.hadoop.fs.Path(s"$nodeDir/_codebook")
    if (fs.exists(cbPath)) {
      val stored = spark.read.parquet(cbPath.toString)
      val drift = stored.exceptAll(cur).count() + cur.exceptAll(stored).count()
      require(drift == 0,
        s"incrementalGraphStream: graph at $nodeDir was built under a " +
          s"different codebook than this batch's ($drift centroid rows " +
          "differ) — linking into it would mis-route nodes to wrong cells")
    }
    val existing: DataFrame =
      if (fs.exists(nodePath))
        spark.read.parquet(nodeDir)
          .filter(col("batch_id") < batchId)
          .select(col(idCol), col(vecCol), col("cell_id"))
      else {
        val cType = centroids.schema(centroids.schema.fieldIndex(cIdCol)).dataType
        batch.select(col(idCol), col(vecCol)).limit(0)
          .withColumn("cell_id", lit(null).cast(cType))
      }
    val asgB = graft.operators.Ann.assignCells(
        batch.select(col(idCol), col(vecCol)), idCol, vecCol,
        centroids, cIdCol, cVecCol)
      .select(col(idCol), col(vecCol), col("cell_id"))
    val newEdges = graft.operators.Ann.graphInsert(existing, asgB, idCol, vecCol, m)
    newEdges
      .withColumn("src_bucket", pmod(col("src"), lit(nBuckets)))
      .write.mode("overwrite").partitionBy("src_bucket")
      .parquet(s"$edgeDir/batch_id=$batchId")
    asgB.write.mode("overwrite").parquet(s"$nodeDir/batch_id=$batchId")
    if (!fs.exists(cbPath))
      cur.coalesce(1).write.mode("overwrite").parquet(cbPath.toString)
  }

  /** Streaming SPAN EXCISION — [[graft.operators.Dedup.exciseDuplicateSpans]]'s
    * prefix-consistent incremental loop (Lee et al. substring dedup as
    * arriving batches): each micro-batch excises spans duplicated
    * against the accumulated GRAM index (hash strings only — never
    * gram text) plus the batch's own earlier instances, writes the
    * rebuilt docs to `outDir`, and appends its batch-new gram hashes
    * to `gramDir` so the next micro-batch sees them. Id-ordered
    * batches reproduce the batch operator's output exactly
    * (StreamingDedupSpec pins stream ≡ batch).
    *
    * Exactly-once: the [[processIncrement]] machinery verbatim —
    * batch-keyed partition dirs written with OVERWRITE, the probe
    * excludes the current batch's own partition, Hadoop FileSystem
    * path resolution. A `_params.json` sidecar guards (n, hashHexChars)
    * drift: an index accumulated under different gram parameters
    * would silently excise nothing. */
  def incrementalExciseStream(docs: DataFrame, idCol: String, textCol: String,
                              gramDir: String, outDir: String, checkpoint: String,
                              n: Int = 10, hashHexChars: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processExciseIncrement(batch, batchId, idCol, textCol, gramDir, outDir,
          n, hashHexChars)
      }
      .start()

  /** One micro-batch of [[incrementalExciseStream]] — testable replay
    * contract, as with the other loops. */
  private[graft] def processExciseIncrement(batch: DataFrame, batchId: Long,
                                            idCol: String, textCol: String,
                                            gramDir: String, outDir: String,
                                            n: Int, hashHexChars: Int): Unit = {
    val spark = batch.sparkSession
    val gramPath = new org.apache.hadoop.fs.Path(gramDir)
    val fs = gramPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paramsPath = s"$gramDir/_params.json"
    val params = Seq("gram_n" -> n, "hash_hex_chars" -> hashHexChars)
    def guard(): Unit = requireParams(spark, paramsPath, params) { p =>
      s"incrementalExciseStream: gram index at $gramDir was accumulated " +
        s"with (n=${p(0)}, hashHexChars=${p(1)}); this " +
        s"probe uses (n=$n, hashHexChars=$hashHexChars)"
    }
    guard()
    val existing: DataFrame =
      if (fs.exists(gramPath))
        spark.read.parquet(gramDir)
          .filter(col("batch_id") < batchId)
          .select("_h")
      else spark.emptyDataFrame
        .select(lit("").as("_h")).limit(0)
    val out = graft.operators.Dedup
      .exciseIncrement(batch, idCol, textCol, existing, n, hashHexChars)
    out.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // index rows: the batch's grams not already known — hash-only.
    // Derived deterministically from the batch input, so a replay
    // writes byte-identical rows over its own partition
    graft.operators.Dedup.gramHashes(batch, idCol, textCol, n, hashHexChars)
      .join(existing, Seq("_h"), "left_anti")
      .write.mode("overwrite").parquet(s"$gramDir/batch_id=$batchId")
    Sidecar.createIfAbsent(spark, paramsPath, params: _*)
    guard()
  }

  /** Refuse a batch whose parameters differ from the store's
    * `_params.json` sidecar, when the store has one; `msg` renders the
    * stored values. The streaming sketch loops share it. */
  private[streaming] def requireParams(spark: SparkSession, path: String, fields: Seq[(String, Int)])(
      msg: Seq[Int] => String): Unit =
    if (Sidecar.exists(spark, path)) {
      val p = Sidecar.read(spark, path)
      val stored = fields.map(f => p.int(f._1))
      require(stored == fields.map(_._2), msg(stored))
    }
}
