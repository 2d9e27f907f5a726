package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Sidecar, TableLoader}

/** Context assembly + prompt build + the end-to-end ask pipeline
  * (SURVEY.md §2 O-14, F-8; lifecycle §3.1).
  *
  * Reference: hits grouped by doc_id, chunk texts concatenated with "\n"
  * in retrieval-score order, rendered as "--- Document ID: X ---" blocks
  * (app/main.py:498-513), then a prompt of system rules + query + context
  * (app/main.py:519-535).
  *
  * Ordered string-agg in Spark: `collect_list` order is nondeterministic
  * after a shuffle, so we collect `struct(rank, text)` and `array_sort`
  * inside the row before joining — deterministic regardless of
  * partitioning, and still a single hash-aggregate (one shuffle).
  */
object Retrieval {

  /** Group ranked hits by doc, concatenate texts in rank order. */
  def assembleContext(hits: DataFrame, docCol: String, rankCol: String,
                      textCol: String): DataFrame =
    assembleContextKeyed(hits, Seq(docCol), rankCol, textCol)

  /** [[assembleContext]] under a compound grouping key — the batched
    * ask ([[AskPipeline.askBatch]]) assembles EVERY query's context in
    * one aggregation by keying on (query_id, doc). Same
    * shuffle-order-proof in-row sort. */
  def assembleContextKeyed(hits: DataFrame, keyCols: Seq[String], rankCol: String,
                           textCol: String): DataFrame =
    hits
      .groupBy(keyCols.map(col): _*)
      .agg(
        min(col(rankCol)).as("best_rank"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(rankCol).as("r"), col(textCol).as("t")))),
            s => s.getField("t")),
          "\n").as("context_text"))

  /** Render the per-document context blocks (app/main.py:509-513). */
  def renderContext(assembled: DataFrame, docCol: String): DataFrame =
    assembled.withColumn(
      "context_block",
      format_string("--- Document ID: %s ---\n%s", col(docCol).cast("string"), col("context_text")))

  /** The DRIVER-SIDE twin of the rank → context tail
    * ([[assembleContext]] + [[renderContext]] + the best_rank block
    * ordering) for REQUEST-SIZED hit sets — the solo serving fuse: a
    * top-k ask's hits are ≤ k rows by construction, and running the
    * global rank window + per-doc aggregation + block sort as Spark
    * stages costs stage-count × driver scheduling (measured as most of
    * the solo hot-ask residual, SCALE.md), not data work. Semantics
    * are byte-identical to the DataFrame tail (spec-pinned in
    * AskPipelineSpec): rank = (sim desc, doc_id asc, chunk_idx asc)
    * with StringType compared in UTF-8 BINARY order (Spark's
    * UTF8String ordering — java String compareTo diverges past ASCII)
    * and sim compared in Spark's DOUBLE ordering (NaN is the LARGEST
    * double, so a NaN sim ranks FIRST under desc; -0.0 folds to 0.0 —
    * java.lang.Double.compare alone would put -0.0 below 0.0 where
    * Spark's sort key normalization ties them), texts per doc joined
    * "\n" in rank order, blocks emitted in best_rank order. Input:
    * (doc_id raw value, chunk_idx, chunk_text, sim); doc ids must be
    * string or integral (the serving schemas) and every field NON-NULL
    * — anything else refuses, and the caller keeps the DataFrame tail
    * (AskPipeline pre-checks nulls on the collected rows and falls
    * back rather than trip this). */
  /** Spark's double sort order, driver-side: NaN compares greater than
    * everything (and equal to itself); -0.0 == 0.0. Double.compare
    * gives the NaN behavior; the zero-fold handles the -0.0
    * divergence. Shared by every fused driver tail that must order
    * exactly like a Spark `desc`/`asc` sort. */
  private[graft] def cmpSparkDouble(x: Double, y: Double): Int = {
    val xn = if (x == 0.0d) 0.0d else x
    val yn = if (y == 0.0d) 0.0d else y
    java.lang.Double.compare(xn, yn)
  }

  /** Spark's StringType/integral sort order for doc ids, driver-side:
    * strings compare as UTF-8 BINARY (Spark's UTF8String ordering —
    * java String compareTo diverges past ASCII); integrals as longs.
    * Anything else refuses — callers keep the DataFrame tail. */
  private[graft] def cmpDocId(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      var c = 0
      while (c == 0 && i < xb.length && i < yb.length) {
        c = (xb(i) & 0xff) - (yb(i) & 0xff)
        i += 1
      }
      if (c != 0) c else xb.length - yb.length
    case (x: java.lang.Number, y: java.lang.Number) =>
      java.lang.Long.compare(x.longValue, y.longValue)
    case _ => throw new IllegalArgumentException(
      s"cmpDocId: unsupported doc id type ${a.getClass.getName}")
  }

  /** The total (sim desc, doc_id asc, chunk_idx asc) ordering over
    * (doc_id, chunk_idx, chunk_text, sim) hit tuples — the driver twin
    * of `orderBy(desc("sim"), col("doc_id"), col("chunk_idx"))`, used
    * by [[contextBlocksLocal]] and [[GraphIndex.Hot]]'s resident-text
    * top-k so the two fused tails cannot drift. */
  private[graft] val hitOrdering: Ordering[(Any, Long, String, Double)] =
    new Ordering[(Any, Long, String, Double)] {
      def compare(a: (Any, Long, String, Double), b: (Any, Long, String, Double)): Int = {
        val s = cmpSparkDouble(b._4, a._4) // desc
        if (s != 0) s
        else {
          val c = cmpDocId(a._1, b._1)
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      }
    }

  private[graft] def contextBlocksLocal(hits: Seq[(Any, Long, String, Double)]): Seq[String] = {
    // a total Ordering (not sortWith with !=, which violates the
    // strict-weak contract on NaN: NaN != NaN yet neither ranks above
    // the other, leaving the sort's behavior undefined)
    val ranked = hits.sorted(hitOrdering)
    val byDoc = scala.collection.mutable.LinkedHashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[String]]
    ranked.foreach { h =>
      byDoc.getOrElseUpdate(h._1,
        scala.collection.mutable.ArrayBuffer.empty[String]) += h._3
    }
    // first-occurrence order in the ranked sequence IS best_rank order
    byDoc.iterator.map { case (doc, texts) =>
      s"--- Document ID: ${String.valueOf(doc)} ---\n${texts.mkString("\n")}"
    }.toSeq
  }

  /** [[buildPrompt]] as one driver-side string — identical concat
    * (Spark's concat of string literals/columns is plain string
    * concatenation), for the fused solo tail. */
  private[graft] def promptStringLocal(query: String, contextText: String,
                                       history: Option[String]): String =
    "You are a helpful medical assistant. Use ONLY the provided context to answer.\n\n" +
      history.map(h => s"Conversation so far:\n$h\n\n").getOrElse("") +
      s"User Query:\n$query\n\nContext:\n$contextText\n\nAnswer:"

  /** Prompt projection (F-8): system rules + optional history + query +
    * context — shape of app/main.py:519-535. */
  def buildPrompt(df: DataFrame, queryCol: String, contextCol: String,
                  historyCol: Option[String] = None): DataFrame = {
    val history = historyCol.map(h => concat(lit("Conversation so far:\n"), col(h), lit("\n\n")))
      .getOrElse(lit(""))
    df.withColumn(
      "prompt",
      concat(
        lit("You are a helpful medical assistant. Use ONLY the provided context to answer.\n\n"),
        history,
        lit("User Query:\n"), col(queryCol),
        lit("\n\nContext:\n"), col(contextCol),
        lit("\n\nAnswer:")))
  }

  /** Okapi BM25 document scoring for a query string — the LEXICAL leg
    * of hybrid retrieval (the reference is vector-only; real RAG stacks
    * pair BM25 with cosine and fuse). Lucene's idf variant:
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), and
    * score(q, d) = Σ_t idf·tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    * Returns (idCol, score) for docs matching ≥ 1 query term.
    *
    * Scale shape: doc lengths are a map-only `size(tokens(...))`; the
    * token explode is FILTERED to the query's terms before its
    * hash-agg, so the tf table — and every downstream join — is
    * (matched doc × query term)-sized, never vocabulary-sized. df and
    * the (N, Σdl) corpus stats are tiny broadcasts. Float portability:
    * N and Σdl aggregate as exact LONGS (avgdl derives as one
    * division), and the per-doc term sum folds a SORTED term list —
    * the q_entropy discipline — so addition order is engine-stable. */
  def bm25(docs: DataFrame, idCol: String, textCol: String, queryText: String,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import graft.functions.TextFunctions.alnumTokens
    // alnum-normalized terms on BOTH sides: "Ghrelin?" and "ghrelin"
    // must be the same lexical term, or punctuation silently zeroes
    // the lexical leg (doc lengths count the same normalized stream)
    val terms = queryText.toLowerCase.trim.replace('\n', ' ')
      .split("\\s+").map(_.replaceAll("[^a-z0-9]", ""))
      .filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "query has no terms")
    val toked = docs.select(col(idCol), alnumTokens(col(textCol)).as("_toks"))
    // dl is materialized (r19): it feeds BOTH the corpus stats aggregate
    // and the per-doc join, and each branch otherwise re-tokenizes the
    // whole corpus (the tokenize is the dominant map cost of the ad-hoc
    // form). The checkpoint is (id, long) — 16 bytes/doc, never tokens.
    // Tokenize passes per call drop 3 → 2 (the tf explode still pays
    // its own — fusing it with dl would turn the map-only dl derivation
    // into a corpus-token-sized shuffle, strictly worse).
    val dl = graft.Materialize(
      toked.select(col(idCol), size(col("_toks")).cast("long").as("_dl")))
    val stats = dl.agg(count(lit(1)).as("_N"), sum(col("_dl")).as("_sumdl"))
    val tf = toked
      .select(col(idCol), explode(col("_toks")).as("_t"))
      .filter(col("_t").isin(terms: _*))
      .groupBy(col(idCol), col("_t"))
      .agg(count(lit(1)).as("_tf"))
    val dfT = tf.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    tf
      .join(broadcast(dfT), "_t")
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("_avgdl", col("_sumdl").cast("double") / col("_N"))
      .withColumn("_idf",
        log(lit(1.0) + (col("_N") - col("_df") + lit(0.5)) / (col("_df") + lit(0.5))))
      .withColumn("_s",
        col("_idf") * (col("_tf") * lit(k1 + 1.0)) /
          (col("_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
      .groupBy(col(idCol))
      .agg(aggregate(
        array_sort(collect_list(struct(col("_t").as("t"), col("_s").as("s")))),
        lit(0.0), (acc, x) => acc + x.getField("s")).as("score"))
  }

  /** Spark-side md5 term bucket — engine-portable, in lockstep with the
    * driver-side [[termBucket]] the probe prunes with. */
  private def termBucketCol(t: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"), lit(nBuckets))

  /** Driver-side twin of [[termBucketCol]]: bucket of one query term. */
  private[graft] def termBucket(term: String, nBuckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(term.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % nBuckets
  }

  /** Build the persisted lexical index behind [[bm25]] — the serving
    * answer to bm25()'s per-query corpus cost: called ad hoc, bm25
    * tokenizes the WHOLE corpus for every query (fine for one-shot
    * analytics, wrong for an ask hot path — at 100 TB that is a full
    * scan per request). This is Lucene's layout re-expressed as a
    * partitioned parquet store:
    *
    *  - `postings/`: one row per (term, doc) carrying tf, AND the
    *    denormalized per-doc length and per-term df — so a probe is ONE
    *    pruned read with zero joins (the graph edge store's
    *    denormalize-on-disk discipline);
    *  - partitioned by the md5 term bucket: a query's ≤|terms| buckets
    *    prune at the file listing, the term filter pushes to parquet;
    *  - `meta.json` and `stats.json`: the layout and corpus identity,
    *    and the (N, Σdl) pair, as driver-side [[Sidecar]]s.
    *
    * Denormalizing df/N trades append-ability for probe speed: new docs
    * shift df and N globally, so this index REBUILDS on a cadence (like
    * [[GraphIndex.rebuild]]) rather than appending — the classic
    * Lucene segment-merge trade re-expressed. */
  def writeBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     dir: String, nBuckets: Int = 64): Unit = {
    import graft.functions.TextFunctions.alnumTokens
    // a rebuild starts the delete lifecycle over: stale tombstones from
    // a previous build would silently suppress re-ingested docs
    val tombPath = new org.apache.hadoop.fs.Path(dir + "/tombstones")
    tombPath.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
      .delete(tombPath, true)
    val withDl = docs
      .select(col(idCol), alnumTokens(col(textCol)).as("_toks"))
      .withColumn("_dl", size(col("_toks")).cast("long"))
    // the bucket count is part of the layout: persist it so a probe can
    // NEVER hash terms with a different modulus than the store's
    // partitioning (a mismatch silently prunes every partition away —
    // an empty lexical leg, not an error). The sidecar also records the
    // corpus identity (id column name, row count, order-independent id
    // fingerprint): a probe against a store built over DIFFERENT rows
    // would not error on its own — [[rrfFuse]] scores missing legs 0 —
    // so hybrid callers verify this via [[requireBm25IndexMatches]],
    // the same drift-refusal discipline as the PQ codebook sidecar.
    // One job computes both: N is the doc count.
    val (nDocs, idHash, sumdl) = corpusStats(withDl, idCol)
    Sidecar.write(docs.sparkSession, dir + "/meta.json", "n_buckets" -> nBuckets,
      "id_col" -> idCol, "n_docs" -> nDocs, "id_hash" -> idHash)
    Sidecar.write(docs.sparkSession, dir + "/stats.json", "_N" -> nDocs, "_sumdl" -> sumdl)
    val tf = withDl
      .select(col(idCol), col("_dl"), explode(col("_toks")).as("_t"))
      .groupBy(col(idCol), col("_dl"), col("_t"))
      .agg(count(lit(1)).as("_tf"))
    val dfT = tf.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    tf.join(dfT, "_t")
      .withColumn("_bucket", termBucketCol(col("_t"), nBuckets))
      .repartition(col("_bucket"))
      .write.mode("overwrite").partitionBy("_bucket").parquet(dir + "/postings")
    // doc-id sidecar (the segment stores' discipline): the delete
    // lifecycle validates against it, and compaction recomputes the
    // meta fingerprint from it — postings alone can't carry either
    // (token-less docs produce no posting rows)
    docs.select(col(idCol)).write.mode("overwrite").parquet(dir + "/docs")
  }

  /** (doc count, order-independent id fingerprint, Σdl) of a frame
    * carrying the id column and `_dl`, in one job: the corpus identity
    * [[requireBm25IndexMatches]] checks and the (N, Σdl) a probe scores
    * with. */
  private def corpusStats(withDl: DataFrame, idCol: String): (Long, String, Long) = {
    val r = withDl.agg(
      count(lit(1)).cast("long"),
      sum(xxhash64(col(idCol)).cast("decimal(38,0)")).cast("string"),
      coalesce(sum(col("_dl")), lit(0L))).head()
    (r.getLong(0), r.getString(1), r.getLong(2))
  }

  /** The BM25 score of every (doc, term) posting row, with the corpus
    * (N, Σdl) as literals, folded per doc over its sorted terms. */
  private def bm25Scores(post: DataFrame, idCol: String, n: Long, sumdl: Long,
                         k1: Double, b: Double): DataFrame =
    post
      .withColumn("_avgdl", lit(sumdl).cast("double") / lit(n))
      .withColumn("_idf",
        log(lit(1.0) + (lit(n) - col("_df") + lit(0.5)) / (col("_df") + lit(0.5))))
      .withColumn("_s",
        col("_idf") * (col("_tf") * lit(k1 + 1.0)) /
          (col("_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
      .groupBy(col(idCol))
      .agg(aggregate(
        array_sort(collect_list(struct(col("_t").as("t"), col("_s").as("s")))),
        lit(0.0), (acc, x) => acc + x.getField("s")).as("score"))

  // ------------------------------------------------------------------ //
  // Monolithic BM25 store lifecycle: tombstone delete + compaction     //
  // ------------------------------------------------------------------ //

  private def bm25Tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir + "/tombstones")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(TableLoader.read(spark, dir + "/tombstones"))
    else None
  }

  /** Mark documents DELETED in a [[writeBm25Index]] store — Lucene's
    * delete-until-segment-merge semantics exactly: marked docs vanish
    * from probe results immediately, but df / N / avgdl keep the full
    * corpus' values until [[compactBm25Index]] rewrites the store
    * (Lucene, too, scores against deleted-doc-inflated statistics
    * until a merge). The mark store is an append-only doc-id parquet
    * dir, delete-sized writes — never a postings rewrite on the serve
    * path. Ids are validated against the store's docs sidecar: marking
    * an id the store never held is a caller bug and refuses loudly
    * (the reference's tenant-delete surface 404s unknown docs the same
    * way); re-marking an already-deleted id is a no-op, so retries are
    * idempotent.
    *
    * Concurrency contract: deletes assume a SINGLE WRITER (the
    * maintenance cadence, like Lucene's one-IndexWriter rule). Two
    * concurrent deletes of overlapping id sets can both pass the
    * freshness anti-join and append duplicate tombstone rows — probes
    * stay correct (the serve-path anti-join and [[compactBm25Index]]'s
    * `.distinct()` are multiset-insensitive), but the mark store grows
    * and retry-idempotence only holds under the single-writer
    * assumption. */
  def deleteBm25Docs(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val idCol = Sidecar.read(spark, dir + "/meta.json").string("id_col")
    require(ids.columns.contains(idCol),
      s"deleteBm25Docs: ids must carry the store's id column '$idCol'")
    // one annotated pass instead of three (r19): the old shape ran the
    // distinct + unknown-check anti-join, then RE-RAN the distinct for
    // the freshness anti-join's isEmpty, then a third time for the
    // append — three actions over the same delete batch. Flag both
    // sidecar memberships in one materialized frame; the guard and the
    // emptiness probe become local scans of the checkpointed batch.
    // Semantics unchanged: unknown ⇔ no docs row; fresh ⇔ no tombstone.
    val req = ids.select(col(idCol)).distinct()
    // the docs sidecar carries one row per doc by construction
    // (writeBm25Index/compactBm25Index write it from the unique corpus),
    // so the left join cannot fan out; the tombstone side CAN carry
    // duplicates (append-only retries) and is distinct'd — it is
    // delete-sized, never corpus-sized
    val docsFlag = TableLoader.read(spark, dir + "/docs")
      .withColumn("_known", lit(true))
    val tombFlag = bm25Tombstones(spark, dir)
      .map(_.select(col(idCol)).distinct().withColumn("_dead", lit(true)))
    val annotated = graft.Materialize(
      tombFlag.foldLeft(req.join(docsFlag, Seq(idCol), "left"))(
        (d, t) => d.join(t, Seq(idCol), "left")))
    val unknown = annotated.filter(col("_known").isNull).count()
    require(unknown == 0,
      s"deleteBm25Docs: $unknown id(s) not present in the store at '$dir' — " +
        "deleting unknown docs is a caller bug, not a no-op")
    val fresh =
      if (annotated.columns.contains("_dead")) annotated.filter(col("_dead").isNull)
      else annotated
    if (!fresh.isEmpty)
      fresh.select(col(idCol)).write.mode("append").parquet(dir + "/tombstones")
  }

  /** Fold a store's tombstones into a fresh monolithic store at
    * `outDir` — the segment-merge step of the delete lifecycle. All
    * statistics are recomputed EXACTLY over the survivors: df from the
    * surviving (doc, term) posting rows, N / Σdl / the meta id
    * fingerprint from the surviving docs sidecar (decimal-exact
    * subtraction-free re-aggregation, so [[requireBm25IndexMatches]]
    * against the surviving corpus passes). Probe scores over the
    * compacted store are bitwise what a fresh [[writeBm25Index]] over
    * the survivors would produce. Runs on the maintenance cadence;
    * store-sized, never corpus-text-sized (postings carry tokens and
    * counts, not text). */
  def compactBm25Index(spark: SparkSession, dir: String, outDir: String): Unit = {
    requireDistinctDirs(spark, dir, outDir, "compactBm25Index")
    val meta = Sidecar.read(spark, dir + "/meta.json")
    val idCol = meta.string("id_col")
    val nBuckets = meta.int("n_buckets")
    val docs = TableLoader.read(spark, dir + "/docs")
    // empty fallback takes the docs sidecar's schema, so the anti-join
    // never type-coerces (stores keyed by string chunk ids exist)
    val tombs = bm25Tombstones(spark, dir)
      .map(_.select(col(idCol)).distinct())
      .getOrElse(docs.limit(0))
    val survDocs = docs
      .join(broadcast(tombs), Seq(idCol), "left_anti")
    val survTf = TableLoader.read(spark, dir + "/postings")
      .join(broadcast(tombs), Seq(idCol), "left_anti")
      .select(col(idCol), col("_dl"), col("_t"), col("_tf"))
    // ONE action computes both sidecar aggregates (r19): the doc
    // fingerprint (from the docs sidecar) and Σdl (from the surviving
    // postings) previously ran as two separate head() jobs — a crossJoin
    // of the two one-row aggregates folds them into a single job, and
    // each one-row side is planned as a broadcast. Values are the same
    // aggregates over the same inputs.
    // N counts every surviving doc (token-less ones contribute dl = 0
    // and have no posting rows — the sidecar is the authority)
    val survMeta = survDocs.agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(xxhash64(col(idCol)).cast("decimal(38,0)")).cast("string").as("id_hash"))
      .crossJoin(survTf.select(col(idCol), col("_dl")).distinct()
        .agg(coalesce(sum(col("_dl")), lit(0L)).as("_sumdl")))
      .head()
    Sidecar.write(spark, outDir + "/meta.json", "n_buckets" -> nBuckets, "id_col" -> idCol,
      "n_docs" -> survMeta.getLong(0), "id_hash" -> survMeta.getString(1))
    Sidecar.write(spark, outDir + "/stats.json",
      "_N" -> survMeta.getLong(0), "_sumdl" -> survMeta.getLong(2))
    val dfT = survTf.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    survTf.join(dfT, "_t")
      .withColumn("_bucket", termBucketCol(col("_t"), nBuckets))
      .repartition(col("_bucket"))
      .write.mode("overwrite").partitionBy("_bucket").parquet(outDir + "/postings")
    survDocs.write.mode("overwrite").parquet(outDir + "/docs")
  }

  // ------------------------------------------------------------------ //
  // Segmented BM25 store — append without rebuild                      //
  // ------------------------------------------------------------------ //

  /** Soft cap on uncompacted segments before [[bm25FromSegments]] warns:
    * each probe pays one pruned read per segment, so latency is linear
    * in segment count (measured curve in SCALE.md — the per-segment
    * cost is file-listing + footer overhead, a few ms each locally,
    * object-store round-trips at 100 TB). */
  val MaxSegmentsBeforeCompaction = 32

  /** Append one SEGMENT to a segmented BM25 store — the append-side
    * answer to [[writeBm25Index]]'s rebuild-cadence trade: the
    * monolithic layout denormalizes df and (N, Σdl) onto every posting
    * row, so ANY new document shifts them globally and the store must
    * rebuild. Lucene's actual answer is segments + merge-on-read, and
    * this is that layout on parquet:
    *
    *  - `<dir>/meta.json`: n_buckets + id_col, written by the FIRST append —
    *    every later segment hashes terms with the same modulus (the
    *    layout-drift refusal of the monolithic store, enforced here);
    *  - `<dir>/segments/<name>/postings`: (id, _dl, _t, _tf) bucketed
    *    and partitioned by the md5 term bucket — NO df, NO corpus
    *    stats: nothing global lives on segment rows, which is exactly
    *    what makes the append O(batch);
    *  - `<dir>/segments/<name>/stats.json`: the segment's (_N, _sumdl);
    *  - `<dir>/segments/<name>/meta.json`: (n_docs, id_hash) fingerprint,
    *    summed at compaction into the monolithic guard meta;
    *  - `<dir>/segments/<name>/docs`: the batch's doc ids — the
    *    disjointness source of truth compaction validates against.
    *
    * Segments must carry DISJOINT documents (single-writer batches, the
    * upload model); a violation is refused AT APPEND TIME, before the
    * segment is durably written — an ids-only check of the batch
    * against itself and against the existing segments' doc-id sidecars
    * (ids directly, NOT posting-derived counts: a doc whose text
    * tokenizes to zero alnum tokens contributes no postings rows, so a
    * count-based guard would refuse legal stores and could mask a real
    * duplicate). [[compactBm25Segments]] re-validates the same
    * invariant as a backstop for stores written by older code. A
    * segment name reuse is refused — appends never overwrite.
    *
    * Compact-on-append: when the store crosses `autoCompactAt`
    * segments after this append, the append folds it back to one
    * merged segment via [[compactBm25SegmentsInPlace]] — probe latency
    * is linear in segment count (measured 0.23 s/segment, SCALE.md),
    * so an unbounded append cadence would otherwise accrete an
    * unbounded probe floor. Pass `autoCompactAt <= 0` to opt out and
    * schedule the maintenance call directly.
    *
    * SINGLE-WRITER CONTRACT, made MECHANICAL: each append atomically
    * creates a `_append_lease` marker as its VERY FIRST store access —
    * before the meta bootstrap write, before the segment-exists guard,
    * before any id read — and removes it after its last durable write
    * (refusals release too). Two interleaved appenders deterministically
    * produce one refusal at the lease, BEFORE either reads a guard
    * or writes meta, closing the
    * check-then-write races the r15 design only narrowed (the
    * `_idbloom` fold_seq stamp caught the bloom flavor at the swap;
    * id-level overlap between two in-flight different-named segments
    * had only the compaction backstop). Atomic create-if-absent is
    * exact on HDFS/local filesystems; on object stores without atomic
    * create it narrows the window rather than closing it — keep one
    * ingestion driver per store there. A writer that CRASHES holding
    * the lease leaves a loud blocker, not silent corruption:
    * [[releaseBm25AppendLease]] is the documented recovery (the
    * `_compact_pending` posture — an operator decision, never
    * automatic expiry that could un-lease a live slow writer). */
  def appendBm25Segment(docs: DataFrame, idCol: String, textCol: String,
                        dir: String, segment: String,
                        nBuckets: Int = 64,
                        autoCompactAt: Int = MaxSegmentsBeforeCompaction,
                        idBloom: Boolean = false): Unit = {
    import graft.functions.TextFunctions.alnumTokens
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the single-writer lease (see the scaladoc): taken FIRST — before
    // the meta bootstrap write and the segment-exists guard, not just
    // before the id-disjointness reads — released by the finally at the
    // bottom on success, refusal, or failure; only a crash leaves it,
    // loudly. Ordering matters twice over: two first-appenders racing on
    // a fresh store could otherwise both write meta (the loser's
    // n_buckets/id_col clobbering the holder's, corrupting bucket
    // pruning for every later read), and a same-name appender passing
    // the exists check before the holder publishes could acquire the
    // freed lease later and overwrite the published segment's parquet.
    val leasePath = new org.apache.hadoop.fs.Path(s"$dir/_append_lease")
    acquireAppendLease(fs, leasePath, dir)
    try {
    Sidecar.createIfAbsent(spark, dir + "/meta.json", "n_buckets" -> nBuckets, "id_col" -> idCol)
    val m = Sidecar.read(spark, dir + "/meta.json")
    require(m.string("id_col") == idCol,
      s"segmented bm25 store at '$dir' is keyed by id_col=" +
        s"'${m.string("id_col")}', refusing an append keyed by '$idCol'")
    val buckets = m.int("n_buckets")
    val segDir = s"$dir/segments/$segment"
    require(!fs.exists(new org.apache.hadoop.fs.Path(segDir)),
      s"segment '$segment' already exists in '$dir' — appends never overwrite")
    // Disjointness is checked BEFORE anything durable is written: a
    // batch that repeats an id (within itself, or against any existing
    // segment's docs sidecar) is refused here, while the store is still
    // exactly what it was. Catching it later — at compaction, where
    // validateDisjointSegments remains as the backstop — would leave
    // the duplicate segment durably on disk, silently double-counting
    // df/N in every bm25FromSegments probe (which never runs the
    // guard) until someone hand-deletes it. Ids-only anti-check, ONE
    // job per append: a left join against the prior segments' ids
    // (globally unique by this very invariant, so it never multiplies
    // batch rows) carries both the batch-internal distinctness and the
    // cross-segment overlap counts through a single aggregate.
    val batchIds = docs.select(col(idCol))
    val priorSegs =
      if (fs.exists(new org.apache.hadoop.fs.Path(dir + "/segments")))
        listBm25Segments(spark, dir)
      else Seq.empty
    // At 100 TB the exact check's "read every prior ids sidecar per
    // append" term dominates the append, so `idBloom = true` gates it
    // with an ids-BLOOM sidecar: the common no-duplicate append probes
    // the batch against the store-level filter MAP-SIDE and skips the
    // sidecar join entirely. Correctness NEVER rests on the bloom — it
    // only decides whether the exact join runs, and it is maintained
    // OVER-APPROXIMATE (updated before the segment is written;
    // bootstrap rebuilds it from every live sidecar; unreadable/absent
    // → full exact join), so a stored id can never bloom-miss; false
    // positives just pay the join they would have paid anyway. It is
    // OPT-IN, and the round-14 crossover measurement (SCALE.md "idBloom
    // crossover, measured"; the probe is in commit be29786) corrected
    // the r13 sizing claim: on local storage the ids-only exact scan
    // is ~flat and cheap (column-pruned parallel parquet), and at 2^22
    // bits the filter
    // SATURATES near ~10^6 stored ids — one batch false positive
    // forces the sidecar join anyway, so past saturation the bloom
    // pays its fixed overhead on top of the join it meant to skip
    // (measured 1.4-1.5× the exact append at 10^6-4×10^6 ids even
    // after the words-layout fix). The fast path wins only while the
    // filter stays unsaturated (≲10^5 ids at 2^22 bits ≈ 40+ bits/id)
    // AND the sidecar scan is the expensive term (cold/remote object
    // storage, many segments) — that is its honest win condition.
    //
    // The bloom is a STORE-LEVEL property, not a per-call one: once an
    // _idbloom sidecar exists, every append maintains (and may as well
    // use) it regardless of the caller's flag. The alternative — a
    // default idBloom=false append skipping the fold — would write its
    // segment without its ids in the filter, and a LATER idBloom=true
    // append of those same ids would bloom-miss, skip the exact join,
    // and durably write a duplicate segment (silent df/N double-count
    // until the compaction backstop refuses). An unreadable sidecar
    // degrades THIS append's guard to the full exact join (never a
    // wrong answer); what happens to the FILE depends on why the read
    // failed (the BloomRead taxonomy): a CORRUPT sidecar (torn write,
    // bad layout) is retired — loudly — unless this append rebuilds
    // it, because leaving it while appending unmaintained would let a
    // later append read a then-healthy-but-STALE filter whose missing
    // ids bloom-miss (the superset violation); a TRANSIENT-IO failure
    // says nothing about the on-disk filter's health, so it is never
    // deleted — instead this append REBUILDS the filter from every
    // live sidecar (the bootstrap fold), which both preserves the file
    // and keeps the superset invariant without trusting the unread
    // pre-image.
    val bloomRead = readIdBloom(spark, dir)
    val sidecarBloom = bloomRead match {
      case BloomOk(w, _) => Some(w)
      case _ => None
    }
    val maintainBloom = bloomRead match {
      case BloomAbsent => idBloom
      case BloomCorrupt(why) =>
        if (idBloom)
          System.err.println(s"[bm25] corrupt _idbloom at '$dir' ($why) — " +
            "rebuilding it from the live sidecars this append")
        else {
          System.err.println(s"[bm25] RETIRING corrupt _idbloom at '$dir' " +
            s"($why) — appends use the full exact join until an " +
            "idBloom=true append re-bootstraps the filter")
          dropIdBloom(spark, dir)
        }
        idBloom
      case BloomIoError(why) =>
        System.err.println(s"[bm25] _idbloom at '$dir' unreadable on a " +
          s"transient IO error ($why) — NOT retiring; rebuilding the " +
          "filter from the live sidecars this append")
        true
      case BloomOk(_, _) => true
    }
    val bloomWords = sidecarBloom
    val bloomBc = bloomWords.map(words => spark.sparkContext.broadcast(words))
    val hitCol: Column = bloomBc match {
      case Some(bc) =>
        import org.apache.spark.sql.GraftColumnBridge._
        val pos = Sketch.bloomPositions(col(idCol).cast("string"),
          IdBloomHashes, bc.value.length << 6)
        when(column(graft.functions.BloomAllSet(expression(pos), bc)), lit(1))
          .otherwise(lit(null).cast("int"))
      case None => lit(if (priorSegs.isEmpty) null else 1).cast("int")
    }
    // the try/finally releases the broadcast filter even when a guard
    // REFUSES (a long-running writer retrying a bad batch would
    // otherwise accrue one 512 KiB broadcast per refused attempt — the
    // exact leak the destroy exists to prevent); by the finally, every
    // job that reads it (the guard aggregate, the suspect join's
    // count) has executed
    try {
      val g = batchIds.withColumn("_hit", hitCol)
        .agg(count(lit(1)).as("_n"), count_distinct(col(idCol)).as("_nd"),
          count(col("_hit")).as("_sus")).head()
      require(g.getLong(0) == g.getLong(1),
        s"appendBm25Segment: batch for segment '$segment' repeats doc ids " +
          s"(${g.getLong(0)} rows, ${g.getLong(1)} distinct) — " +
          "df/N would be silently wrong; deduplicate the batch first")
      if (g.getLong(2) > 0L && priorSegs.nonEmpty) {
        // suspects only: bloom hits (or the whole batch when no bloom)
        val nDup = batchIds.withColumn("_hit", hitCol).filter(col("_hit").isNotNull)
          .join(priorSegs.map(s => TableLoader.read(spark, s + "/docs")).reduce(_ unionByName _),
            Seq(idCol), "left_semi")
          .count()
        require(nDup == 0L,
          s"appendBm25Segment: batch for segment '$segment' duplicates $nDup doc " +
            s"id(s) already stored in '$dir' — refusing before the segment is " +
            "written; re-ingest the batch with fresh ids (updates go through " +
            "compaction to the monolithic layout + its delete lifecycle)")
      }
    } finally bloomBc.foreach(_.destroy())
    // bloom maintenance, BEFORE anything durable: fold the batch's bits
    // in (and on first use, every live sidecar's — the one-time
    // bootstrap that makes legacy stores eligible). A crash between
    // this write and the segment write leaves the bloom
    // over-approximate — safe (a re-ingest of the same ids bloom-hits,
    // exact-confirms against the sidecars, and is correctly accepted).
    if (maintainBloom)
      writeIdBloom(spark, dir, idCol, batchIds, priorSegs, bloomRead)
    val withDl = docs
      .select(col(idCol), alnumTokens(col(textCol)).as("_toks"))
      .withColumn("_dl", size(col("_toks")).cast("long"))
    val (nDocs, idHash, sumdl) = corpusStats(withDl, idCol)
    Sidecar.write(spark, segDir + "/stats.json", "_N" -> nDocs, "_sumdl" -> sumdl)
    Sidecar.write(spark, segDir + "/meta.json", "n_docs" -> nDocs, "id_hash" -> idHash)
    // the disjointness source of truth: every doc id in the batch,
    // including token-less docs that produce no postings rows
    docs.select(col(idCol)).write.mode("overwrite").parquet(segDir + "/docs")
    withDl
      .select(col(idCol), col("_dl"), explode(col("_toks")).as("_t"))
      .groupBy(col(idCol), col("_dl"), col("_t"))
      .agg(count(lit(1)).as("_tf"))
      .withColumn("_bucket", termBucketCol(col("_t"), buckets))
      .repartition(col("_bucket"))
      .write.mode("overwrite").partitionBy("_bucket").parquet(segDir + "/postings")
    // compact-on-append: a year of hourly appends must not accrete a
    // segments.length-× probe floor — once the store crosses the cadence
    // cap, fold it back to one segment HERE, where the writer already
    // holds the store (single-writer contract). autoCompactAt <= 0 opts
    // out for callers that schedule [[compactBm25SegmentsInPlace]]
    // themselves.
    if (autoCompactAt > 0 &&
        listBm25Segments(docs.sparkSession, dir).length > autoCompactAt)
      compactBm25SegmentsInPlace(docs.sparkSession, dir)
    } finally fs.delete(leasePath, false)
  }

  /** Take the store's append lease by atomic create-if-absent; an
    * already-present lease means another appender is in flight (or
    * crashed holding it) — refuse LOUDLY with the recovery named. */
  private def acquireAppendLease(fs: org.apache.hadoop.fs.FileSystem,
                                 lease: org.apache.hadoop.fs.Path,
                                 dir: String): Unit = {
    val taken =
      try { fs.create(lease, false).close(); true }
      catch {
        case e: java.io.IOException =>
          // FileAlreadyExists arrives as an IOException subclass; a
          // genuine IO failure with no lease on disk is not "held"
          if (fs.exists(lease)) false else throw e
      }
    if (!taken)
      throw new IllegalStateException(
        s"appendBm25Segment: another appender holds the _append_lease at " +
          s"'$dir' — concurrent appends violate the store's single-writer " +
          "contract, so this append wrote nothing and read no guard. If " +
          "the holder CRASHED (no live appender exists), recover with " +
          s"releaseBm25AppendLease(spark, \"$dir\") and retry.")
  }

  /** Operator recovery for a lease orphaned by a crashed appender (the
    * [[appendBm25Segment]] scaladoc's contract). Removing a LIVE
    * writer's lease re-opens the race the lease closes — only call
    * this when no appender is running against the store. */
  def releaseBm25AppendLease(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_append_lease")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  /** Refuse a compaction whose output path is (or resolves to) its
    * input: the compaction writers are lazy scans over `dir`, so writing
    * into the same path would read files mid-overwrite and leave the
    * store half-rewritten (meta replaced, postings stale). Qualified-path
    * comparison catches `a/b` vs `a/./b` and relative-vs-absolute
    * spellings, not just string equality. */
  private def requireDistinctDirs(spark: SparkSession, dir: String,
                                  outDir: String, op: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): org.apache.hadoop.fs.Path = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      path.makeQualified(fs.getUri, fs.getWorkingDirectory)
    }
    require(qualified(dir) != qualified(outDir),
      s"$op: outDir must differ from dir ('$dir') — compacting a store " +
        "onto itself reads paths being overwritten and corrupts the store")
  }

  /** Id-Bloom sidecar geometry: 2^22 bits = 512 KiB word-packed —
    * bounded regardless of corpus size (that is the point: the filter
    * gates a scan, it doesn't replace the sidecars). At ~300k stored
    * ids with 3 hashes the false-positive rate is <2%; a fuller filter
    * only means more appends pay the exact join they'd have paid
    * without the bloom — correctness is unaffected. Sizing honesty
    * (measured, SCALE.md round 14): for the fast path to actually SKIP
    * the sidecar join, the whole BATCH must bloom-miss, so the per-id
    * FP rate must stay ≲ 1/|batch| — at 2^22 bits that holds to
    * roughly 10^5 stored ids for 1000-row batches; past it the filter
    * saturates and the flag should stay off (or the geometry grow). */
  private val IdBloomBits = 1 << 22
  private[operators] val IdBloomHashes = 3

  /** What a pre-append read of the `_idbloom` sidecar observed. The
    * distinction matters for what the append may do to the file:
    * only a PARSE/SHAPE failure ([[BloomCorrupt]] — a torn write, a
    * wrong layout) is evidence the sidecar itself is broken and
    * retire-eligible; a pure IO failure ([[BloomIoError]] — a
    * transient filesystem error) says nothing about the on-disk
    * filter's health, so deleting on it would destroy a healthy fast
    * path (the round-14 ADVICE case). [[BloomOk]] carries the
    * generation stamp observed, which [[writeIdBloom]] re-checks at
    * publish time to make a concurrent-writer lost-update LOUD. */
  private sealed trait BloomRead
  private case object BloomAbsent extends BloomRead
  private final case class BloomOk(words: Array[Long], foldSeq: Long) extends BloomRead
  private final case class BloomCorrupt(why: String) extends BloomRead
  private final case class BloomIoError(why: String) extends BloomRead

  /** Load the append-guard's ids-bloom as a word-packed bitset (see
    * [[BloomRead]] for the failure taxonomy — IOExceptions classify as
    * transient IO, everything else as corruption). Reads the
    * fixed-size `words` layout (≤ 2^16 nonzero (idx, word) rows however
    * full the filter), falling back to the legacy `positions` list for
    * stores written before round 14 — the next append republishes them
    * in the words layout. Legacy sidecars without a `fold_seq` column
    * read as generation 0. */
  private def readIdBloom(spark: SparkSession, dir: String): BloomRead = {
    val params = new org.apache.hadoop.fs.Path(s"$dir/_idbloom/_params")
    try {
      val fs = params.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(params)) return BloomAbsent
      val p = spark.read.parquet(params.toString).head()
      val mBits = p.getAs[Int]("m_bits")
      require(p.getAs[Int]("num_hashes") == IdBloomHashes && mBits % 64 == 0)
      val seq =
        if (p.schema.fieldNames.contains("fold_seq"))
          p.getAs[Long]("fold_seq")
        else 0L
      val wordsPath = new org.apache.hadoop.fs.Path(s"$dir/_idbloom/words")
      if (fs.exists(wordsPath)) {
        val out = new Array[Long](mBits >>> 6)
        spark.read.parquet(wordsPath.toString)
          .select(col("idx").cast("int"), col("word").cast("long"))
          .collect().foreach { r =>
            val i = r.getInt(0)
            require(i >= 0 && i < out.length, s"bloom word index $i outside bitset")
            out(i) = r.getLong(1)
          }
        BloomOk(out, seq)
      } else BloomOk(Sketch.bloomBitset(
        spark.read.parquet(s"$dir/_idbloom/positions"), mBits), seq)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // Spark wraps executor-side failures — classify by the CAUSE
        // CHAIN: a ChecksumException anywhere is definitive on-disk
        // corruption (the bytes don't match their own crc — exactly
        // what a torn or overwritten sidecar looks like), any other
        // IOException is transient transport/filesystem trouble, and
        // everything else (parquet footer, schema, require) is a
        // parse/shape failure = corruption
        val chain = Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
          .takeWhile(_ != null).take(8).toSeq
        if (chain.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]))
          BloomCorrupt(e.toString)
        else if (chain.exists(_.isInstanceOf[java.io.IOException]))
          BloomIoError(chain.collectFirst {
            case io: java.io.IOException => io.toString }.get)
        else BloomCorrupt(e.toString)
    }
  }

  /** The fold_seq stamp ALONE — a `_params`-only read for
    * [[writeIdBloom]]'s pre-swap verification. The full [[readIdBloom]]
    * collects the entire words parquet, which the stamp check neither
    * needs nor should pay (nor should its failure modes bleed in: a
    * words-read hiccup is irrelevant to whether the stamp moved).
    * Right(None) = no sidecar, Right(Some(seq)) = the live stamp,
    * Left(why) = `_params` itself unreadable right now. */
  private def readIdBloomStamp(spark: SparkSession, dir: String): Either[String, Option[Long]] = {
    val params = new org.apache.hadoop.fs.Path(s"$dir/_idbloom/_params")
    try {
      val fs = params.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(params)) Right(None)
      else {
        val p = spark.read.parquet(params.toString).head()
        Right(Some(
          if (p.schema.fieldNames.contains("fold_seq")) p.getAs[Long]("fold_seq")
          else 0L))
      }
    } catch {
      case scala.util.control.NonFatal(e) => Left(e.toString)
    }
  }

  /** Fold a batch's id bits into the append-guard bloom (plus, when no
    * readable filter exists yet, every live sidecar's — the one-time
    * bootstrap). The sidecar stores the word-packed BITSET itself
    * (nonzero (idx, word) rows — at most 2^16 however many ids are
    * stored), NOT a position list: the round-14 crossover measurement
    * showed the position-list maintenance growing with filter
    * occupancy (≈3·|stored ids| rows re-distincted and rewritten per
    * append — 2.8× slower than the exact join it was meant to beat at
    * 10^6 ids), while the words layout keeps every append's
    * maintenance at one batch-sized aggregate folded into ≤ 2^16 rows.
    * `preImage` is what the caller's guard probe already read, so
    * nothing is read twice: a readable pre-image is FOLDED (one
    * batch-sized aggregate); an absent/corrupt/IO-degraded one
    * triggers the full bootstrap over every live sidecar. Staged to a
    * sibling dir and swapped in; a crash anywhere in the swap leaves
    * either the old filter (under-approximate ONLY by the batch whose
    * segment was also not yet written — still a superset of stored
    * ids) or no filter (full-join fallback).
    *
    * SINGLE-WRITER CONTRACT (shared by every mutable store in this
    * repo — BM25 segments, the graph store's bucket appends, the
    * streaming `_recipe`/`_codebook` sidecars): one appender at a
    * time. Two concurrent appends would each fold only their own
    * batch, and the loser's ids would vanish from the published
    * filter — a later re-append of those ids then bloom-misses, skips
    * the exact join, and durably writes a duplicate segment (silent
    * df/N skew). The `fold_seq` generation stamp turns that silent
    * corruption LOUD: each publish re-reads the live stamp and
    * REFUSES the append (before anything durable — bloom maintenance
    * precedes every segment write) when the pre-image changed since
    * the guard read it. The check-then-swap is not atomic by itself;
    * since r16 the `_append_lease` taken by [[appendBm25Segment]]
    * serializes whole appends, so the stamp is now defense-in-depth
    * (and the refusal for out-of-band writers that bypass the lease). */
  private def writeIdBloom(spark: SparkSession, dir: String, idCol: String,
                           batchIds: DataFrame, priorSegs: Seq[String],
                           preImage: BloomRead): Unit = {
    val oldWords = preImage match {
      case BloomOk(w, _) => Some(w)
      case _ => None
    }
    val ids =
      if (oldWords.isEmpty && priorSegs.nonEmpty)
        priorSegs.map(s => TableLoader.read(spark, s + "/docs")).reduce(_ unionByName _)
          .unionByName(batchIds)
      else batchIds
    // fold at the STORED geometry when a filter exists: an existing
    // sidecar's m_bits wins over the compile-time default, so raising
    // IdBloomBits later re-geometries only fresh bootstraps — folding
    // 2^23-hashed positions into a 2^22 array would throw on every
    // append to every pre-existing store (and silently corrupt the
    // filter the other way)
    val mBits = oldWords.map(_.length << 6).getOrElse(IdBloomBits)
    // batch positions → word contributions: a ≤ mBits/64-row aggregate
    // (bit_or per word index) regardless of batch or store size
    val contrib = ids.select(explode(Sketch.bloomPositions(
        col(idCol).cast("string"), IdBloomHashes, mBits)).as("pos"))
      .select(expr("cast(shiftright(pos, 6) as int) as idx"),
        expr("shiftleft(cast(1 as bigint), cast(pos & 63 as int)) as w"))
      .groupBy("idx").agg(expr("bit_or(w) as w"))
      .collect()
    val words = oldWords.map(_.clone()).getOrElse(new Array[Long](mBits >>> 6))
    contrib.foreach { r => words(r.getInt(0)) |= r.getLong(1) }
    val sess = spark; import sess.implicits._
    val nz = words.iterator.zipWithIndex
      .collect { case (w, i) if w != 0L => (i, w) }.toSeq
    val nextSeq = (preImage match {
      case BloomOk(_, seq) => seq
      case _ => 0L
    }) + 1L
    val tmp = new org.apache.hadoop.fs.Path(
      s"$dir/_idbloom_tmp_${java.util.UUID.randomUUID}")
    nz.toDF("idx", "word")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/words")
    spark.range(1)
      .select(lit(mBits).as("m_bits"), lit(IdBloomHashes).as("num_hashes"),
        lit("words").as("layout"), lit(nextSeq).as("fold_seq"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/_params")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$dir/_idbloom")
    // concurrent-writer detection (see the scaladoc's single-writer
    // contract): the live pre-image must be what the guard read, or a
    // parallel append folded in between and publishing would silently
    // drop its ids from the filter — refuse, before anything durable.
    // The stamp comes from a `_params`-ONLY read (never the whole words
    // parquet), and an UNREADABLE-right-now stamp is its own refusal —
    // a read hiccup must not masquerade as "a CONCURRENT append" and
    // send an operator chasing a phantom writer.
    val expected = preImage match {
      case BloomOk(_, seq) => Some(Some(seq))
      case BloomAbsent => Some(None)
      // corrupt/IO pre-images rebuild from the sidecars; the file's
      // generation is unknowable, so the stamp cannot verify it —
      // accept whatever is live (the single-writer contract carries)
      case _ => None
    }
    expected.foreach { want =>
      readIdBloomStamp(spark, dir) match {
        case Left(why) =>
          fs.delete(tmp, true)
          throw new IllegalStateException(
            s"appendBm25Segment: the _idbloom/_params at '$dir' was " +
              s"UNREADABLE at publish time ($why) — the guard's fold_seq " +
              s"stamp ($want at the guard read) cannot be verified. This is " +
              "a READ failure, not evidence of a concurrent writer; nothing " +
              "durable was written — retry the append, and if it persists " +
              "inspect the sidecar or dropIdBloom() to fall back to the " +
              "exact join.")
        case Right(live) if live != want =>
          fs.delete(tmp, true)
          throw new IllegalStateException(
            s"appendBm25Segment: the _idbloom at '$dir' changed between this " +
              s"append's guard read (fold_seq $want) and its publish " +
              s"(fold_seq $live) — a CONCURRENT append violated the " +
              "store's single-writer contract. This append wrote nothing " +
              "durable; retry it. If the filter is suspect, dropIdBloom() " +
              "and re-bootstrap with an idBloom=true append.")
        case Right(_) => ()
      }
    }
    fs.delete(live, true)
    if (!fs.rename(tmp, live)) {
      // losing the swap only loses the FAST PATH; make that loud-ish
      fs.delete(tmp, true)
      System.err.println(s"[bm25] could not publish _idbloom at '$dir' — " +
        "appends fall back to the full exact join until one succeeds")
    }
  }

  /** Retire a store's append-guard bloom. Once an `_idbloom` sidecar
    * exists every append maintains and probes it (the store-level
    * superset invariant) — which is a net LOSS once the filter
    * saturates (measured ~10^5 ids at the default 2^22 bits: past
    * that, batch false positives force the exact join anyway and the
    * maintenance is pure overhead; SCALE.md crossover table). This is
    * the documented escape: deleting the sidecar is always safe — the
    * guard falls back to the always-correct full exact join, and a
    * later `idBloom = true` append re-bootstraps a fresh filter from
    * every live sidecar (at the then-current geometry). */
  def dropIdBloom(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_idbloom")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def listBm25Segments(spark: SparkSession, dir: String): Seq[String] = {
    val segRoot = new org.apache.hadoop.fs.Path(dir + "/segments")
    val fs = segRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(compactMarkerPath(dir)),
      s"segmented bm25 store at '$dir' has an interrupted compaction " +
        s"(_compact_pending present) — run recoverBm25Compaction(spark, " +
        s"\"$dir\") before reading or appending")
    require(fs.exists(segRoot), s"no segments under '$dir'")
    fs.listStatus(segRoot).filter(_.isDirectory).map(_.getPath.toString).sorted.toSeq
  }

  /** [[bm25]] served from an [[appendBm25Segment]] store, merge-on-read:
    * per-query work is one bucket-pruned, term-filtered postings read
    * PER SEGMENT (unioned; segment count is bounded by the compaction
    * cadence), df comes from a (query-term)-sized aggregate over those
    * matched rows broadcast back, and (N, Σdl) sum over the per-segment
    * stats sidecars. Because segments carry disjoint docs, the merged
    * df/N/Σdl are EXACTLY the union corpus's values — scores are
    * bitwise-identical to [[bm25]] and to a monolithic
    * [[writeBm25Index]] probe over the same rows (same longs, same
    * fold order; RetrievalSpec pins all three equal). */
  def bm25FromSegments(spark: SparkSession, dir: String, idCol: String,
                       queryText: String,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryText.toLowerCase.trim.replace('\n', ' ')
      .split("\\s+").map(_.replaceAll("[^a-z0-9]", ""))
      .filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "query has no terms")
    val meta = Sidecar.read(spark, dir + "/meta.json")
    require(meta.string("id_col") == idCol,
      s"store id_col='${meta.string("id_col")}' != probe '$idCol'")
    val nBuckets = meta.int("n_buckets")
    val buckets = terms.map(termBucket(_, nBuckets)).distinct.map(Long.box)
    val segs = listBm25Segments(spark, dir)
    // probe latency rides segment count (one pruned read per segment per
    // query — measured curve in SCALE.md); past this point compaction is
    // overdue, warn loudly rather than silently degrade
    if (segs.length > MaxSegmentsBeforeCompaction)
      System.err.println(s"[bm25] segmented store at '$dir' has ${segs.length} " +
        s"segments (> $MaxSegmentsBeforeCompaction) — per-query probe cost is " +
        "per-segment; run compactBm25SegmentsInPlace (or leave " +
        "appendBm25Segment's autoCompactAt hook enabled)")
    val post = segs.map { s =>
      TableLoader.read(spark, s + "/postings")
        .filter(col("_bucket").isin(buckets: _*))
        .filter(col("_t").isin(terms: _*))
    }.reduce(_ unionByName _)
    val (n, sumdl) = summedStats(spark, segs)
    // df merge-on-read: segments are doc-disjoint, so the global df of
    // a term is the plain row count of its matched postings
    val dfT = post.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    bm25Scores(post.join(broadcast(dfT), "_t"), idCol, n, sumdl, k1, b)
  }

  /** The union corpus's (N, Σdl): the segments' stats sidecars summed. */
  private def summedStats(spark: SparkSession, segs: Seq[String]): (Long, Long) = {
    val stats = segs.map(s => Sidecar.read(spark, s + "/stats.json"))
    (stats.map(_.long("_N")).sum, stats.map(_.long("_sumdl")).sum)
  }

  /** Fold a segmented store into the MONOLITHIC [[writeBm25Index]]
    * layout at `outDir` (df/N denormalized back onto postings — probe
    * speed restored to one zero-join read) — the segment-merge half of
    * the append story, run on the compaction cadence. Validates the
    * disjoint-documents contract loudly ON DOCUMENT IDS (the per-segment
    * `docs` sidecars): if any document appears in two segments, the
    * unioned id multiset has a repeat and the merge refuses (df would be
    * silently inflated otherwise). Posting-derived counts can't carry
    * this guard — token-less docs have no postings, so they'd flag legal
    * stores and could cancel out a real duplicate. The guard meta
    * (n_docs + id_hash) is the exact decimal sum of the segment
    * fingerprints, so [[requireBm25IndexMatches]] against the union
    * corpus passes. */
  def compactBm25Segments(spark: SparkSession, dir: String, outDir: String): Unit = {
    requireDistinctDirs(spark, dir, outDir, "compactBm25Segments")
    val meta = Sidecar.read(spark, dir + "/meta.json")
    val idCol = meta.string("id_col")
    val nBuckets = meta.int("n_buckets")
    val segs = listBm25Segments(spark, dir)
    val post = segs.map(s => TableLoader.read(spark, s + "/postings"))
      .reduce(_ unionByName _)
    val (nDocs, idHash) = validateDisjointSegments(spark, dir, segs, idCol)
    Sidecar.write(spark, outDir + "/meta.json", "n_buckets" -> nBuckets, "id_col" -> idCol,
      "n_docs" -> nDocs, "id_hash" -> idHash)
    val (n, sumdl) = summedStats(spark, segs)
    Sidecar.write(spark, outDir + "/stats.json", "_N" -> n, "_sumdl" -> sumdl)
    val dfT = post.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    post.join(dfT, "_t")
      .select(col(idCol), col("_dl"), col("_t"), col("_tf"), col("_df"))
      .withColumn("_bucket", termBucketCol(col("_t"), nBuckets))
      .repartition(col("_bucket"))
      .write.mode("overwrite").partitionBy("_bucket").parquet(outDir + "/postings")
    // the monolithic output supports the delete lifecycle
    // (deleteBm25Docs validates against the docs sidecar)
    segs.map(s => TableLoader.read(spark, s + "/docs")).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(outDir + "/docs")
  }

  /** The disjoint-documents guard shared by both segment compactions:
    * if any document appears in two segments, the unioned id multiset
    * has a repeat and the merge refuses (df would be silently inflated
    * otherwise). Returns the summed (n_docs, id_hash) guard meta —
    * the exact decimal sum of the segment fingerprints. */
  private def validateDisjointSegments(spark: SparkSession, dir: String,
                                       segs: Seq[String],
                                       idCol: String): (Long, String) = {
    val segMetas = segs.map(s => Sidecar.read(spark, s + "/meta.json"))
    val nDocs = segMetas.map(_.long("n_docs")).sum
    val idHash = segMetas.map(m => BigDecimal(m.string("id_hash")))
      .sum.toBigInt.toString
    val idAgg = segs.map(s => TableLoader.read(spark, s + "/docs"))
      .reduce(_ unionByName _)
      .agg(count(lit(1)).as("_n"), count_distinct(col(idCol)).as("_nd")).head()
    require(idAgg.getLong(0) == idAgg.getLong(1) && idAgg.getLong(0) == nDocs,
      s"segmented bm25 store at '$dir' violates the disjoint-documents " +
        s"contract: ${idAgg.getLong(1)} distinct ids across segments vs " +
        s"${idAgg.getLong(0)} total (meta says $nDocs) — df/N would be " +
        "silently wrong; re-ingest the duplicated batch instead of compacting")
    (nDocs, idHash)
  }

  /** Fold every current segment into ONE merged segment, IN PLACE —
    * the maintenance step behind [[appendBm25Segment]]'s
    * compact-on-append hook. Unlike [[compactBm25Segments]] (which
    * exits to the monolithic layout and ends the append story), this
    * keeps the store segmented and appendable: probe cost drops back to
    * one segment, the next append is still O(batch).
    *
    * Segment rows carry NO global statistics by construction, so the
    * merge is segment-local: postings union row-for-row (same _bucket
    * values — the store-level meta pins the modulus), stats and the
    * guard meta sum, docs union. [[bm25FromSegments]] scores are
    * bitwise-unchanged: df is a count over the same matched rows, N/Σdl
    * the same long sums, and the per-doc fold sorts by term
    * (RetrievalSpec pins scores across the compaction).
    *
    * The merged segment is STAGED outside `segments/` and swapped in
    * after the old segment dirs are removed. A crash mid-swap leaves a
    * loudly-missing store, never a silently doubled one — and the swap
    * is bracketed by a `_compact_pending` marker (written AFTER the
    * staging completes, removed AFTER publish) naming the merged
    * segment, its staging path, and the input segments, so
    * [[recoverBm25Compaction]] can finish an interrupted swap
    * MECHANICALLY: marker present + target absent means the staging is
    * complete by construction, so recovery just re-runs
    * delete-inputs-then-rename. Probes refuse a marked store
    * (listBm25Segments) instead of reading a half-swapped one.
    * Single-writer, probes quiesced — the same maintenance contract as
    * the delete surface. */
  def compactBm25SegmentsInPlace(spark: SparkSession, dir: String): Unit = {
    recoverBm25Compaction(spark, dir) // finish any interrupted prior swap first
    val idCol = Sidecar.read(spark, dir + "/meta.json").string("id_col")
    val segs = listBm25Segments(spark, dir)
    if (segs.length <= 1) return
    val (nDocs, idHash) = validateDisjointSegments(spark, dir, segs, idCol)
    // deterministic merged-segment name from the inputs (previous merge
    // names feed the next digest, so repeated compactions never collide)
    val segNames = segs.map(p => new org.apache.hadoop.fs.Path(p).getName)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(segNames.mkString("|").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)
    val merged = s"cmp_$digest"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpRoot = new org.apache.hadoop.fs.Path(s"$dir/_compact_tmp")
    fs.delete(tmpRoot, true)
    val tmp = s"$dir/_compact_tmp/$merged"
    segs.map(s => TableLoader.read(spark, s + "/postings")).reduce(_ unionByName _)
      .repartition(col("_bucket"))
      .write.mode("overwrite").partitionBy("_bucket").parquet(tmp + "/postings")
    val (n, sumdl) = summedStats(spark, segs)
    Sidecar.write(spark, tmp + "/stats.json", "_N" -> n, "_sumdl" -> sumdl)
    Sidecar.write(spark, tmp + "/meta.json", "n_docs" -> nDocs, "id_hash" -> idHash)
    segs.map(s => TableLoader.read(spark, s + "/docs")).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(tmp + "/docs")
    // swap: all reads above are materialized (the writes completed), so
    // deleting the inputs is safe. The marker goes down FIRST — from
    // here until publish the store is transiently inconsistent, and the
    // marker is what lets recoverBm25Compaction finish the job after a
    // crash anywhere in the window.
    writeCompactMarker(fs, dir, merged, tmp, segNames)
    segs.foreach(s => fs.delete(new org.apache.hadoop.fs.Path(s), true))
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(s"$dir/segments/$merged")),
      s"compactBm25SegmentsInPlace: failed to publish merged segment '$merged' " +
        s"into '$dir/segments' — run recoverBm25Compaction(spark, \"$dir\") " +
        "to retry the publish from the staged copy")
    fs.delete(tmpRoot, true)
    fs.delete(compactMarkerPath(dir), false)
    // sweep marker stagings orphaned by a crash mid-write (inert — the
    // recovery path only ever reads the published marker name)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$dir/_compact_pending_tmp_*")))
      .getOrElse(Array.empty).foreach(s => fs.delete(s.getPath, false))
  }

  private def compactMarkerPath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/_compact_pending")

  /** One line per field, newline-separated: merged segment name, staged
    * tmp path, then the input segment names. Plain text so a human can
    * also read what an interrupted swap was doing. Staged to a sibling
    * path and RENAMED into place: a crash mid-write must leave either
    * no marker (store untouched — input deletion only starts after
    * this returns) or a complete one, never a truncated marker that
    * recovery rejects as "needs manual repair" on a store that is in
    * fact fully intact. */
  private def writeCompactMarker(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                                 merged: String, tmp: String,
                                 inputs: Seq[String]): Unit = {
    val staged = new org.apache.hadoop.fs.Path(
      s"$dir/_compact_pending_tmp_${java.util.UUID.randomUUID}")
    val out = fs.create(staged, true)
    try out.write((merged + "\n" + tmp + "\n" + inputs.mkString("\n"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(compactMarkerPath(dir), false)
    require(fs.rename(staged, compactMarkerPath(dir)),
      s"compactBm25SegmentsInPlace: could not publish the _compact_pending " +
        s"marker at '$dir' — aborting before any input segment is touched")
  }

  /** Mechanically finish (or clean up after) an interrupted
    * [[compactBm25SegmentsInPlace]] swap. No-op when no
    * `_compact_pending` marker exists. Otherwise the marker's ordering
    * contract decides everything:
    *
    *  - merged segment already published → the crash was between
    *    publish and cleanup: remove staging + marker, done;
    *  - merged segment absent → the marker is only ever written AFTER
    *    staging completed, so the staged copy is whole: delete any
    *    input segments that still linger, rename the staged copy into
    *    `segments/`, remove the marker.
    *
    * Returns true when a pending swap was found and resolved. */
  def recoverBm25Compaction(spark: SparkSession, dir: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = compactMarkerPath(dir)
    if (!fs.exists(marker)) return false
    val in = fs.open(marker)
    val text = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    val lines = text.split("\n").toSeq
    require(lines.length >= 2,
      s"recoverBm25Compaction: malformed marker at '$marker': '$text'")
    val (merged, tmp, inputs) = (lines.head, lines(1), lines.drop(2))
    val target = new org.apache.hadoop.fs.Path(s"$dir/segments/$merged")
    if (!fs.exists(target)) {
      require(fs.exists(new org.apache.hadoop.fs.Path(tmp)),
        s"recoverBm25Compaction: marker at '$marker' names staged copy '$tmp' " +
          s"but neither it nor the published segment '$target' exists — the " +
          "store needs manual repair")
      inputs.map(n => new org.apache.hadoop.fs.Path(s"$dir/segments/$n"))
        .filter(fs.exists).foreach(p => fs.delete(p, true))
      require(fs.rename(new org.apache.hadoop.fs.Path(tmp), target),
        s"recoverBm25Compaction: rename '$tmp' -> '$target' failed")
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_compact_tmp"), true)
    fs.delete(marker, false)
    true
  }

  /** Drift guard for a [[writeBm25Index]] store: require that the store
    * was built over exactly this corpus — same id column, same row
    * count, same order-independent id fingerprint (decimal-accumulated
    * xxhash64: exact, overflow-free, row-order-invariant). A stale or
    * foreign store never errors on its own (missing lexical hits just
    * score 0 downstream), so an erasure-grade silent skew becomes a
    * loud refusal instead. One aggregate over the probe corpus's id
    * projection — the hybrid callers run it over an already-
    * materialized chunk set. */
  def requireBm25IndexMatches(spark: SparkSession, dir: String,
                              docs: DataFrame, idCol: String): Unit = {
    val meta = Sidecar.read(spark, dir + "/meta.json")
    val mine = docs.agg(
      count(lit(1)).cast("long").as("n"),
      sum(xxhash64(col(idCol)).cast("decimal(38,0)")).cast("string").as("h")).head()
    require(meta.string("id_col") == idCol &&
        meta.long("n_docs") == mine.getLong(0) &&
        meta.string("id_hash") == mine.getString(1),
      s"bm25 index at '$dir' was built over a different corpus than this " +
        s"probe's (store: id_col=${meta.string("id_col")}, " +
        s"n_docs=${meta.long("n_docs")}; probe: id_col=$idCol, " +
        s"n_docs=${mine.getLong(0)}) — a mismatched store silently zeroes " +
        "or skews the lexical leg; rebuild it with writeBm25Index")
  }

  /** [[bm25]] served from a [[writeBm25Index]] store: identical scores
    * (same longs, same fold order), but per-query work is one
    * bucket-pruned postings read sized by the matched (doc × term)
    * rows — never the corpus. The bucket modulus comes from the
    * store's own meta sidecar, so it cannot drift from the layout. */
  def bm25FromIndex(spark: SparkSession, dir: String, idCol: String,
                    queryText: String,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryText.toLowerCase.trim.replace('\n', ' ')
      .split("\\s+").map(_.replaceAll("[^a-z0-9]", ""))
      .filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "query has no terms")
    val nBuckets = Sidecar.read(spark, dir + "/meta.json").int("n_buckets")
    val buckets = terms.map(termBucket(_, nBuckets)).distinct.map(Long.box)
    val post = TableLoader.read(spark, dir + "/postings")
      .filter(col("_bucket").isin(buckets: _*))
      .filter(col("_t").isin(terms: _*))
    val stats = Sidecar.read(spark, dir + "/stats.json")
    val scored = bm25Scores(post, idCol, stats.long("_N"), stats.long("_sumdl"), k1, b)
    // delete lifecycle gate: tombstoned docs leave the hit set NOW;
    // df/N stay the build's until compaction (Lucene's merge trade).
    // The mark set is delete-sized and compaction-bounded — broadcast.
    bm25Tombstones(spark, dir)
      .map(t => scored.join(broadcast(t.select(col(idCol)).distinct()),
        Seq(idCol), "left_anti"))
      .getOrElse(scored)
  }

  /** Reciprocal-rank fusion of two ranked legs (the standard hybrid
    * combiner, Cormack et al. 2009): rrf(d) = Σ_leg 1/(kRrf + rank_leg),
    * missing legs contribute 0. Inputs are (id, score) frames ALREADY
    * cut to their top-N (rank windows are single-partition; fusing
    * bounded head-lists is how RRF is deployed — never rank a corpus).
    * Ranks break score ties by id. Returns
    * (idCol, rank_a, rank_b, rrf_score); rank_x is null when absent. */
  def rrfFuse(legA: DataFrame, legB: DataFrame, idCol: String,
              scoreCol: String = "score", kRrf: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def ranked(df: DataFrame, as: String) = df.select(col(idCol),
      row_number().over(Window.orderBy(desc(scoreCol), col(idCol)))
        .cast("long").as(as))
    ranked(legA, "rank_a")
      .join(ranked(legB, "rank_b"), Seq(idCol), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(kRrf) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rank_b")), lit(0.0)))
  }

  /** The flagship pipeline (§3.1 / §7.2): documents → clean → chunk →
    * embed → normalize → cosine vs embedded query → top-k → context →
    * prompt. One job; shuffles only at top-k merge and the context
    * group-by. */
  def ask(spark: SparkSession, documents: DataFrame, query: String, topK: Int = graft.Schemas.DefaultTopK,
          chunkSize: Int = 64, dim: Int = graft.Schemas.EmbeddingDim): DataFrame = {
    val chunks = Ingest.chunk(documents.filter(Ingest.nonBlank(col("text"))), "text", chunkSize)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    val embedded = Embed.withEmbedding(chunks, "chunk_text", "embedding", dim)
    val qVec = Embed.embedQuery(spark, query, dim)
    val hits = Similarity.topK(embedded, "embedding", qVec.toSeq, topK,
      tieBreak = Seq("doc_id", "chunk_idx"))
    promptFromHits(hits, query)
  }

  /** Top-k hits (doc_id, chunk_idx, chunk_text, sim) → ranked context →
    * one prompt row — the shared tail of every ask variant. */
  private def promptFromHits(hits: DataFrame, query: String): DataFrame = {
    val ranked = hits.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(desc("sim"), col("doc_id"), col("chunk_idx"))))
    val ctx = renderContext(assembleContext(ranked, "doc_id", "rank", "chunk_text"), "doc_id")
    val oneCtx = ctx
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("best_rank").as("r"), col("context_block").as("b")))),
          s => s.getField("b")),
        "\n\n").as("context"))
      .withColumn("query", lit(query))
    buildPrompt(oneCtx, "query", "context")
  }

  /** [[ask]] routed through a pre-built [[GraphIndex]] store — the
    * reference's serving split (HNSW behind the ask): the corpus-sized
    * chunk/embed/graph work ran ONCE at ingest ([[GraphIndex.build]]);
    * this per-query half embeds the query and beam-walks the
    * partition-pruned edge store, so its cost rides beam·degree·hops,
    * not index size. Same context/prompt tail as [[ask]] — on queries
    * where the walk's top-k equals exact top-k (the common case; see
    * AnnSpec's recall pin) the emitted prompt is identical. */
  def askGraph(spark: SparkSession, graph: GraphIndex.Serving, query: String,
               topK: Int = graft.Schemas.DefaultTopK,
               dim: Int = graft.Schemas.EmbeddingDim,
               queryVec: Option[Seq[Double]] = None): DataFrame = {
    val qVec = queryVec.getOrElse(Embed.embedQuery(spark, query, dim).toSeq)
    val hits = graph.topK(spark, qVec, topK,
      tieBreak = Seq("doc_id", "chunk_idx"))
    promptFromHits(hits, query)
  }

  /** Pluggable reranker client — the cross-encoder slot of a
    * retrieve → rerank RAG stack. Scores batches of (query, text)
    * pairs with per-partition setup amortized over batches (the same
    * external-service shape as [[Embed.EmbedClient]], ref
    * app/main.py:36,148-169 batching). The default is the
    * deterministic md5 stand-in — the multimodal-codec honesty
    * discipline: the PLUMBING (mapPartitions, batch shape, schema) is
    * real and driver-gated; the model call is the replaceable part. */
  trait RerankClient extends Serializable {
    def scoreBatch(pairs: Seq[(String, String)]): Seq[Double]
  }

  /** Deterministic stand-in scorer: value of the first 4 md5 hex chars
    * of "query|text" / 65536 — bitwise equal to [[rerankScore]]
    * (RetrievalSpec pins the parity), which is what lets the
    * mapPartitions path sit under the SQL oracle. */
  class HashRerankClient extends RerankClient {
    // MessageDigest is not Serializable — @transient lazy so an instance
    // captured in a closure (clientFactory = () => sharedClient) survives
    // task serialization and re-creates the digest on the executor
    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")
    def scoreBatch(pairs: Seq[(String, String)]): Seq[Double] = pairs.map {
      case (q, t) =>
        val hex = md.digest((q + "|" + t).getBytes("UTF-8"))
          .take(2).map(b => f"$b%02x").mkString
        java.lang.Integer.parseInt(hex, 16) / 65536.0
    }
  }

  /** Column form of the stand-in scorer (shares the engine's
    * md5-uniform expression — oracle-portable by construction). */
  def rerankScore(query: Column, text: Column): Column =
    Sampling.uniformByHash(concat(query, lit("|"), text))

  /** Rerank a bounded candidate set: append `rerank_score` from the
    * client, leaving ordering/cutting to the caller. Candidates are
    * top-N head-lists by contract (a cross-encoder scores tens of
    * pairs per query, never a corpus) — the stage is map-only with
    * per-partition client setup, so at scale it parallelizes over
    * however many (query × candidate) rows the retriever emitted. */
  def rerank(candidates: DataFrame, queryText: String, textCol: String,
             clientFactory: () => RerankClient = () => new HashRerankClient,
             batchSize: Int = 32): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val schema = candidates.schema.add("rerank_score",
      org.apache.spark.sql.types.DoubleType, nullable = false)
    val textIdx = candidates.schema.fieldIndex(textCol)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    candidates.mapPartitions { rows =>
      val client = clientFactory() // per-partition setup, amortized
      rows.grouped(batchSize).flatMap { batch =>
        val scores = client.scoreBatch(
          batch.map(r => (queryText, r.getString(textIdx))))
        // lazyZip truncates to the shorter side — a client returning the
        // wrong count would silently LOSE candidate rows, so enforce the
        // one-score-per-pair contract loudly instead
        require(scores.length == batch.length,
          s"RerankClient.scoreBatch returned ${scores.length} scores for " +
            s"${batch.length} pairs; the client contract is one score per pair")
        batch.lazyZip(scores).map((row, s) =>
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ s))
      }
    }
  }

  /** Hybrid variant of [[ask]]: the cosine leg AND a chunk-level [[bm25]]
    * leg, cut to `legN` each and [[rrfFuse]]d; the fused top-k feeds the
    * same context/prompt assembly. Exact-term queries (identifiers,
    * rare entities) that a bag-of-words embedding blurs keep their
    * lexical signal; paraphrases the lexical leg misses keep the
    * embedding's. Adds one query-term-sized aggregate + a bounded
    * rank-fusion join on top of [[ask]]'s plan — the corpus-sized work
    * (chunk, embed, score) is unchanged.
    *
    * With `reranker` set, the full modern-RAG composition runs:
    * retrieve → fuse → RERANK → context. The fused top `rerankN`
    * candidates (a bounded head-list — a cross-encoder scores tens of
    * pairs, never a corpus) are rescored by the client and the context
    * is assembled in rerank-score order instead of fusion order. */
  def askHybrid(spark: SparkSession, documents: DataFrame, query: String,
                topK: Int = graft.Schemas.DefaultTopK, chunkSize: Int = 64,
                dim: Int = graft.Schemas.EmbeddingDim, legN: Int = 50,
                reranker: Option[() => RerankClient] = None,
                rerankN: Int = 20,
                bm25IndexDir: Option[String] = None): DataFrame = {
    val chunks = Ingest.chunk(documents.filter(Ingest.nonBlank(col("text"))), "text", chunkSize)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
      .withColumn("_ck", concat(col("doc_id"), lit("#"), col("chunk_idx")))
    val embedded = graft.Materialize(
      Embed.withEmbedding(chunks, "chunk_text", "embedding", dim))
    val qVec = Embed.embedQuery(spark, query, dim)
    val legCos = embedded
      .select(col("_ck"),
        graft.functions.VectorFunctions.cosine(col("embedding"), lit(qVec)).as("score"))
      .orderBy(desc("score"), col("_ck")).limit(legN)
    // lexical leg: ad hoc over this call's chunks, or a bucket-pruned
    // probe of a pre-built [[writeBm25Index]] store keyed on the same
    // `_ck` chunk keys — identical scores, serving-sized read. The
    // drift guard refuses a store built over different chunks (stale
    // corpus, other chunkSize): rrfFuse would otherwise silently zero
    // the lexical leg for every miss.
    val legLex = (bm25IndexDir match {
      case Some(d) =>
        requireBm25IndexMatches(spark, d, embedded.select("_ck"), "_ck")
        bm25FromIndex(spark, d, "_ck", query)
      case None => bm25(embedded, "_ck", "chunk_text", query)
    })
      .orderBy(desc("score"), col("_ck")).limit(legN)
    val fused = rrfFuse(legLex, legCos, "_ck")
    val win = org.apache.spark.sql.expressions.Window
    val hits = reranker match {
      case None =>
        fused.orderBy(desc("rrf_score"), col("_ck")).limit(topK)
          .withColumn("rank", row_number().over(
            win.orderBy(desc("rrf_score"), col("_ck"))))
          .join(embedded.select("_ck", "doc_id", "chunk_text"), "_ck")
      case Some(factory) =>
        val cands = fused
          .orderBy(desc("rrf_score"), col("_ck")).limit(math.max(rerankN, topK))
          .join(embedded.select("_ck", "doc_id", "chunk_text"), "_ck")
        rerank(cands, query, "chunk_text", factory)
          .orderBy(desc("rerank_score"), col("_ck")).limit(topK)
          .withColumn("rank", row_number().over(
            win.orderBy(desc("rerank_score"), col("_ck"))))
    }
    val ctx = renderContext(assembleContext(hits, "doc_id", "rank", "chunk_text"), "doc_id")
    val oneCtx = ctx
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("best_rank").as("r"), col("context_block").as("b")))),
          s => s.getField("b")),
        "\n\n").as("context"))
      .withColumn("query", lit(query))
    buildPrompt(oneCtx, "query", "context")
  }
}
