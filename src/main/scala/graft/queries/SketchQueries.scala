package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryHelpers._

/** Sketches and streaming operators run in batch: count-min, KMV,
  * Bloom decontamination, and the streaming near-dup filters. */
object SketchQueries {

  // One replay text for BOTH count-min queries: q_cm_heavy (one-shot
  // grid) and q_cm_stream (merged batch partials) — the additive merge
  // is exact, so a single oracle proves the streamed loop leaves no
  // trace of the batch split.
  private val dCmHeavySql: String =
    s"""WITH t AS (SELECT unnest($W) AS tok FROM documents),
       |e AS (SELECT tok, count(*) AS exact_cnt FROM t GROUP BY 1),
       |top AS (SELECT * FROM e ORDER BY exact_cnt DESC, tok LIMIT 20),
       |rb AS (SELECT j, ${dMd5LongN("CAST(j AS VARCHAR) || '|' || tok", 15)} % 256 AS bucket
       |       FROM t CROSS JOIN range(4) AS r(j)),
       |g AS (SELECT j, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
       |pb AS (SELECT top.tok, top.exact_cnt, r.j,
       |              ${dMd5LongN("CAST(r.j AS VARCHAR) || '|' || top.tok", 15)} % 256 AS bucket
       |       FROM top CROSS JOIN range(4) AS r(j)),
       |est AS (SELECT pb.tok, pb.exact_cnt, min(COALESCE(g.cnt, 0)) AS cm_est
       |        FROM pb LEFT JOIN g ON pb.j = g.j AND pb.bucket = g.bucket
       |        GROUP BY 1, 2)
       |SELECT tok AS token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       |       CAST(cm_est AS BIGINT) AS cm_est,
       |       CAST(cm_est - exact_cnt AS BIGINT) AS overcount
       |FROM est ORDER BY exact_cnt DESC, token""".stripMargin

  val all: Seq[Q] = Seq(

    // Streaming near-dup filter in batch mode (flatMapGroupsWithState
    // runs identically over a batch Dataset): matchAll=true admits every
    // arrival to state, so "dup" = within maxHamming of ANY earlier
    // same-block doc — the form one SQL pass expresses. The streaming
    // execution of the same operator is pinned by StreamingDedupSpec.
    Q("q_stream_dedup", (s, dir) => {
      graft.streaming.StreamingDedup.simhashDedup(
          wide(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("text"))
            .withColumn("seq", col("doc_id")),
          "doc_id", "text", "source", "seq", bits = 16, maxHamming = 3,
          matchAll = true)
        .toDF()
        .select(col("block").as("source"), col("doc_id"), col("is_dup"),
          col("dup_of"), col("hamming"))
        .orderBy("source", "doc_id")
    }, oracle = {
      // Arrival order = doc_id order, every arrival admitted to state
      // (matchAll), so: dup iff ANY earlier same-block doc within
      // maxHamming; dup_of = min-hamming partner, ties to smallest id.
      s"""WITH t AS (SELECT doc_id, source, $W AS w FROM documents),
         |h AS (SELECT doc_id, source, ${dSimhash("w", 16)} AS sh FROM t),
         |p AS (
         |  SELECT b.doc_id, a.doc_id AS cand,
         |         CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS ham
         |  FROM h b JOIN h a ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |), best AS (
         |  SELECT doc_id, cand, ham,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY ham, cand) AS rn
         |  FROM p
         |)
         |SELECT h.source, h.doc_id,
         |       (best.doc_id IS NOT NULL) AS is_dup,
         |       coalesce(best.cand, CAST(-1 AS BIGINT)) AS dup_of,
         |       coalesce(best.ham, CAST(-1 AS BIGINT)) AS hamming
         |FROM h LEFT JOIN best ON h.doc_id = best.doc_id AND best.rn = 1
         |ORDER BY h.source, h.doc_id""".stripMargin
    }),

    // The BATCH-SAFE banded form of the streaming near-dup filter under
    // the gate: state key = (source × simhash band) — pigeonhole over
    // nBands = maxHamming+1 bands guarantees identical outcomes to the
    // raw-block matchAll form (StreamingDedupSpec proves it; the oracle
    // is the same SQL as q_stream_dedup), while a hot block fans out
    // across band groups instead of buffering whole in one group call.
    Q("q_stream_dedup_banded", (s, dir) => {
      graft.streaming.StreamingDedup.simhashDedupBanded(
          wide(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("text"))
            .withColumn("seq", col("doc_id")),
          "doc_id", "text", "source", "seq", bits = 16, maxHamming = 3)
        .toDF()
        .select(col("block").as("source"), col("doc_id"), col("is_dup"),
          col("dup_of"), col("hamming"))
        .orderBy("source", "doc_id")
    }, oracle = {
      // the banded batch-safe form is outcome-identical by construction
      // (pigeonhole over maxHamming+1 bands; StreamingDedupSpec) — same
      // oracle as the raw-block form
      s"""WITH t AS (SELECT doc_id, source, $W AS w FROM documents),
         |h AS (SELECT doc_id, source, ${dSimhash("w", 16)} AS sh FROM t),
         |p AS (
         |  SELECT b.doc_id, a.doc_id AS cand,
         |         CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS ham
         |  FROM h b JOIN h a ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |), best AS (
         |  SELECT doc_id, cand, ham,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY ham, cand) AS rn
         |  FROM p
         |)
         |SELECT h.source, h.doc_id,
         |       (best.doc_id IS NOT NULL) AS is_dup,
         |       coalesce(best.cand, CAST(-1 AS BIGINT)) AS dup_of,
         |       coalesce(best.ham, CAST(-1 AS BIGINT)) AS hamming
         |FROM h LEFT JOIN best ON h.doc_id = best.doc_id AND best.rn = 1
         |ORDER BY h.source, h.doc_id""".stripMargin
    }),

    // Count-min heavy hitters: frequency estimates from a bounded
    // 4x256 grid — the shuffle is depth x width counters per task, never
    // |vocab|. Probes = the exact top-20 tokens (deterministic candidate
    // set); cm_est >= exact_cnt by construction and the overcount is
    // deterministic md5-collision arithmetic the oracle replays.
    Q("q_cm_heavy", (s, dir) => {
      val toks = wide(s, dir, "documents")
        .select(explode(tokens(lower(col("text")))).as("tok"))
      val top = graft.Materialize(
        toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tok")).limit(20))
      val sketch = Sketch.cmSketch(toks, "tok", depth = 4, width = 256)
      Sketch.cmEstimates(sketch, top, "tok", depth = 4, width = 256)
        .join(top, "tok")
        .select(col("tok").as("token"), col("exact_cnt"), col("cm_est"),
          (col("cm_est") - col("exact_cnt")).as("overcount"))
        .orderBy(col("exact_cnt").desc, col("token"))
    }, oracle =
      // Count-min grid replay: same salted 60-bit md5 buckets, same
      // min-over-rows estimate — overcounts reproduce exactly.
      dCmHeavySql),

    // The count-min INCREMENTAL loop under the gate: three "daily"
    // batches (doc_id mod 3) each write their own bounded partial grid;
    // the merged corpus-lifetime grid must equal the one-shot grid
    // (additive merge is exact, not approximate), so the oracle is
    // IDENTICAL to q_cm_heavy's — the batch split must be invisible.
    Q("q_cm_stream", (s, dir) => {
      val grid = scratch("cmloop", dir)
      val p = new org.apache.hadoop.fs.Path(grid)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val toks = wide(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      (0 until 3).foreach { b =>
        graft.streaming.StreamingSketch.processCmIncrement(
          toks.filter(col("doc_id") % 3 === b), b.toLong, "tok",
          grid, depth = 4, width = 256)
      }
      val merged = graft.streaming.StreamingSketch.mergedCmGrid(s, grid)
      val top = graft.Materialize(
        toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tok")).limit(20))
      Sketch.cmEstimates(merged, top, "tok", depth = 4, width = 256)
        .join(top, "tok")
        .select(col("tok").as("token"), col("exact_cnt"), col("cm_est"),
          (col("cm_est") - col("exact_cnt")).as("overcount"))
        .orderBy(col("exact_cnt").desc, col("token"))
    }, oracle =
      // The streamed loop merges partial grids ADDITIVELY, which is
      // exact — so its oracle is the q_cm_heavy one-shot replay, and a
      // hash match proves the batch split left no trace.
      dCmHeavySql),

    // KMV bottom-k distinct sketch per source: vocabulary size estimated
    // from the 64 smallest distinct token hashes; the only full-width
    // stage is a hash-distinct (vocabulary-bounded), the sketch is 64
    // rows per group. Estimate error is exact md5 arithmetic, not
    // sampling — the oracle replays it including rel_err. The sketch
    // and the exact count both derive from ONE shared (source, tok)
    // vocabulary aggregate — the corpus explode+distinct exchange is
    // planned once and reused (ReusedExchange in the physical plan),
    // not scanned per leg; exact_distinct is then a plain count over
    // vocabulary rows (== countDistinct over instances: explode never
    // emits nulls).
    Q("q_kmv_distinct", (s, dir) => {
      val vocab = wide(s, dir, "documents")
        .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
        .distinct()
      val est = Sketch.kmvEstimate(
        Sketch.kmvPerGroup(vocab, "source", "tok", k = 64), "source", k = 64)
      val exact = vocab.groupBy("source")
        .agg(count(lit(1)).as("exact_distinct"))
      est.join(exact, "source")
        .select(col("source"), col("n_kept"),
          stableRound(col("est_distinct")).as("est_distinct"),
          col("exact_distinct"),
          stableRound((col("est_distinct") - col("exact_distinct").cast("double")) /
            col("exact_distinct").cast("double")).as("rel_err"))
        .orderBy("source")
    }, oracle =
      // KMV replay: 52-bit hashes (13 hex chars — exact in a double),
      // bottom-64 per source, (k-1)/frac estimate, same division order.
      s"""WITH t AS (SELECT source, unnest($W) AS tok FROM documents),
         |h AS (SELECT DISTINCT source, ${dMd5LongN("tok", 13)} AS h FROM t),
         |r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM h),
         |kk AS (SELECT source, count(*) AS n_kept, max(h) AS maxh
         |       FROM r WHERE rk <= 64 GROUP BY source),
         |x AS (SELECT source, count(DISTINCT tok) AS exact_distinct FROM t GROUP BY source),
         |est AS (SELECT kk.source, kk.n_kept,
         |               CASE WHEN kk.n_kept < 64 THEN CAST(kk.n_kept AS DOUBLE)
         |                    ELSE 63.0 / (CAST(kk.maxh AS DOUBLE) / 4503599627370496.0) END AS est_raw,
         |               x.exact_distinct
         |        FROM kk JOIN x ON kk.source = x.source)
         |SELECT source, CAST(n_kept AS BIGINT) AS n_kept,
         |       round(est_raw + 1.2345e-9, 6) AS est_distinct,
         |       CAST(exact_distinct AS BIGINT) AS exact_distinct,
         |       round((est_raw - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE)
         |             + 1.2345e-9, 6) AS rel_err
         |FROM est ORDER BY source""".stripMargin),

    // Bloom decontamination: the broadcast, map-only form — bench
    // n-grams fold into a 2^14-bit filter and the corpus probe is a
    // pure scan + per-doc count, with NO join against bench grams
    // (contrast q_decontaminate's shingle join). False positives are
    // deterministic (both engines compute identical bits), so the
    // oracle replays membership — including any collision hits.
    Q("q_bloom_decontaminate", (s, dir) => {
      val docs = wide(s, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") < 10)
      val bits = Sketch.bloomArray(
        Sketch.bloomBits(bench, "text", shingleN = 3, numHashes = 3, mBits = 16384),
        16384)
      Sketch.bloomContamination(docs, "doc_id", "text", bits,
          shingleN = 3, numHashes = 3, minHits = 5)
        .orderBy("doc_id")
    }, oracle =
      // Bloom replay: bench shingles -> distinct bit positions; a corpus
      // gram hits iff all 3 salted positions are set (count(*)=3 after
      // the pos join — bits.pos is distinct, so each j matches at most
      // once); docs with >= 5 hit grams survive. False positives land
      // identically on both engines.
      s"""WITH d AS (SELECT doc_id, ${dShingleSet(W, 3)} AS sh FROM documents),
         |c AS (SELECT doc_id, unnest(sh) AS s FROM d WHERE len(sh) > 0),
         |bits AS (SELECT DISTINCT ${dMd5LongN("CAST(j AS VARCHAR) || '|' || s", 15)} % 16384 AS pos
         |         FROM (SELECT unnest(sh) AS s FROM d WHERE doc_id < 10 AND len(sh) > 0)
         |         CROSS JOIN range(3) AS r(j)),
         |cp AS (SELECT doc_id, s, ${dMd5LongN("CAST(j AS VARCHAR) || '|' || s", 15)} % 16384 AS pos
         |       FROM c CROSS JOIN range(3) AS r(j)),
         |hits AS (SELECT doc_id, s FROM cp JOIN bits ON cp.pos = bits.pos
         |         GROUP BY doc_id, s HAVING count(*) = 3)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |FROM hits GROUP BY doc_id HAVING count(*) >= 5 ORDER BY doc_id""".stripMargin),
  )
}
