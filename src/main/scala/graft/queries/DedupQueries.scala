package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryHelpers._

/** Lexical dedup and decontamination: exact fingerprints, MinHash,
  * SimHash, n-gram overlap, span excision, and cosine decontamination. */
object DedupQueries {

  val all: Seq[Q] = Seq(

    // §2.F north star: exact dedup by content fingerprint.
    Q("q_dedup_exact", (s, dir) => {
      Dedup.exact(wide(s, dir, "documents"), "doc_id", "text")
        .orderBy("fingerprint")
    }, oracle =
      """SELECT md5(trim(replace(text, chr(10), ' '))) AS fingerprint,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin),

    // MinHash signatures (8 md5-derived permutations over 3-gram shingles).
    Q("q_minhash_sig", (s, dir) => {
      Dedup.withMinhashSignature(wide(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", shingleN = 3, numHashes = 8)
        .select((col("doc_id") +: (0 until 8).map(k => col(s"sig_$k"))): _*)
        .orderBy("doc_id")
    }, oracle = {
      val sigCols = (0 until 8)
        .map(k => s"list_min(list_transform(sh, x -> md5('$k|' || x))) AS sig_$k")
        .mkString(",\n       ")
      s"""WITH t AS (SELECT doc_id, ${dShingleSet(W, 3)} AS sh FROM documents)
         |SELECT doc_id,
         |       $sigCols
         |FROM t WHERE len(sh) > 0 ORDER BY doc_id""".stripMargin
    }),

    // MinHash LSH banding candidates (4 bands × 2 rows — the 2-row AND
    // inside a band keeps common-min-shingle buckets from exploding
    // quadratically; 1-row bands produced 90× more candidates on the
    // shared-vocabulary corpus).
    Q("q_minhash_pairs", (s, dir) => {
      Dedup.minhashCandidates(wide(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", shingleN = 3, numHashes = 8, bands = 4)
        .orderBy("id_a", "id_b")
    }, oracle = {
      val sigCols = (0 until 8)
        .map(k => s"list_min(list_transform(sh, x -> md5('$k|' || x))) AS sig_$k")
        .mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band_id, md5(sig_${2 * b} || '#' || sig_${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL ")
      s"""WITH t AS (SELECT doc_id, ${dShingleSet(W, 3)} AS sh FROM documents),
         |sigs AS (SELECT doc_id, $sigCols FROM t WHERE len(sh) > 0),
         |bands AS (
         |  $bandRows
         |)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket
         |WHERE a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // Pairwise 3-gram Jaccard within a source block, τ = 0.05, with the
    // hot-shingle df-cap engaged (maxDf=100; testdata df tops out at ~6,
    // so the cap changes nothing here — it guards the scale path and the
    // oracle mirrors it exactly).
    Q("q_jaccard_pairs", (s, dir) => {
      Dedup.jaccardPairs(wide(s, dir, "documents"), "doc_id", "text", "source",
          shingleN = 3, threshold = 0.05, maxDf = 100L)
        .orderBy("source", "id_a", "id_b")
    }, oracle =
      s"""WITH d AS (SELECT doc_id, source, ${dShingleSet(W, 3)} AS sh FROM documents),
         |e0 AS (SELECT DISTINCT source, doc_id, unnest(sh) AS s FROM d WHERE len(sh) > 0),
         |e AS (SELECT e0.source, e0.doc_id, e0.s FROM e0
         |      JOIN (SELECT source, s FROM e0 GROUP BY source, s HAVING count(*) <= 100) k
         |        ON e0.source = k.source AND e0.s = k.s),
         |sz AS (SELECT source, doc_id, count(*) AS n FROM e GROUP BY source, doc_id),
         |inter AS (
         |  SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM e a JOIN e b ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3
         |)
         |SELECT i.source AS source, i.id_a, i.id_b,
         |       round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) + 1.2345e-9, 6) AS jaccard
         |FROM inter i
         |JOIN sz sa ON i.source = sa.source AND i.id_a = sa.doc_id
         |JOIN sz sb ON i.source = sb.source AND i.id_b = sb.doc_id
         |WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.05
         |ORDER BY i.source, id_a, id_b""".stripMargin),

    // 16-bit SimHash per document.
    Q("q_simhash", (s, dir) => {
      wide(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash(col("text"), 16).as("simhash"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents)
         |SELECT doc_id,
         |  ${dSimhash("w", 16)} AS simhash
         |FROM t ORDER BY doc_id""".stripMargin),

    // SimHash near-dup pairs: hamming ≤ 3 within a source block.
    Q("q_simhash_pairs", (s, dir) => {
      Dedup.simhashPairs(wide(s, dir, "documents"), "doc_id", "text", "source",
          bits = 16, maxHamming = 3)
        .orderBy("source", "id_a", "id_b")
    }, oracle = {
      s"""WITH t AS (SELECT doc_id, source, $W AS w FROM documents),
         |h AS (SELECT doc_id, source, ${dSimhash("w", 16)} AS sh FROM t)
         |SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY a.source, id_a, id_b""".stripMargin
    }),

    // Decontamination: corpus docs sharing ≥ 5 distinct 3-grams with a
    // "benchmark" slice (docs < 10) — per-doc hit count + worst overlap.
    // (3-grams, not the production 8-gram default: the synthetic corpus
    // is too short for organic 8-gram collisions.)
    Q("q_decontaminate", (s, dir) => {
      val docs = wide(s, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") < 10)
      Dedup.contamination(docs, bench, "doc_id", "text",
          shingleN = 3, minShared = 5)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bench_hits"),
          max(col("shared")).as("max_shared"))
        .orderBy("doc_id")
    }, oracle =
      // Corpus and bench sides both explode distinct shingle sets, so
      // count(*) after the equi-join counts distinct shared 3-grams.
      s"""WITH d AS (SELECT doc_id, ${dShingleSet(W, 3)} AS sh FROM documents),
         |c AS (SELECT doc_id, unnest(sh) AS s FROM d WHERE len(sh) > 0),
         |b AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM d
         |      WHERE doc_id < 10 AND len(sh) > 0),
         |ov AS (
         |  SELECT c.doc_id, b.bench_id, count(*) AS shared
         |  FROM c JOIN b ON c.s = b.s
         |  GROUP BY c.doc_id, b.bench_id
         |)
         |SELECT doc_id, count(*) AS n_bench_hits,
         |       CAST(max(shared) AS BIGINT) AS max_shared
         |FROM ov WHERE shared >= 5
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Incremental NEAR-dup: odd-id docs arrive as the daily batch and
    // probe the even-id corpus's persisted LSH band index — near-dup
    // pairs straddle the split organically (same sigs as
    // q_minhash_pairs).
    Q("q_minhash_increment", (s, dir) => {
      val docs = wide(s, dir, "documents").select("doc_id", "text")
      val corpusBands = Dedup.lshBands(
          Dedup.withMinhashSignature(docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", shingleN = 3, numHashes = 8),
          "doc_id", numHashes = 8, bands = 4)
        .select(col("band_id"), col("bucket"), col("doc_id").as("id"))
      Dedup.minhashIncrement(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", corpusBands,
          shingleN = 3, numHashes = 8, bands = 4)
        .orderBy("doc_id")
    }, oracle = {
      // Corpus probe = band-bucket equi-join (even ids); within-batch =
      // lower-odd-id bucket collision; docs with no shingles stay `new`.
      val sigCols = (0 until 8)
        .map(k => s"list_min(list_transform(sh, x -> md5('$k|' || x))) AS sig_$k")
        .mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band_id, md5(sig_${2 * b} || '#' || sig_${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL ")
      s"""WITH t AS (SELECT doc_id, ${dShingleSet(W, 3)} AS sh FROM documents),
         |sigs AS (SELECT doc_id, $sigCols FROM t WHERE len(sh) > 0),
         |bands AS (
         |  $bandRows
         |),
         |cb AS (SELECT band_id, bucket, doc_id FROM bands WHERE doc_id % 2 = 0),
         |bb AS (SELECT band_id, bucket, doc_id FROM bands WHERE doc_id % 2 = 1),
         |ch AS (
         |  SELECT b.doc_id, min(c.doc_id) AS corpus_of
         |  FROM bb b JOIN cb c ON b.band_id = c.band_id AND b.bucket = c.bucket
         |  GROUP BY b.doc_id
         |),
         |bh AS (
         |  SELECT b.doc_id, min(a.doc_id) AS batch_of
         |  FROM bb b JOIN bb a ON a.band_id = b.band_id AND a.bucket = b.bucket
         |                     AND a.doc_id < b.doc_id
         |  GROUP BY b.doc_id
         |)
         |SELECT d.doc_id,
         |       CASE WHEN ch.corpus_of IS NOT NULL THEN 'dup_corpus'
         |            WHEN bh.batch_of IS NOT NULL THEN 'dup_batch'
         |            ELSE 'new' END AS status,
         |       coalesce(ch.corpus_of, bh.batch_of) AS dup_of
         |FROM documents d
         |LEFT JOIN ch ON d.doc_id = ch.doc_id
         |LEFT JOIN bh ON d.doc_id = bh.doc_id
         |WHERE d.doc_id % 2 = 1
         |ORDER BY d.doc_id""".stripMargin
    }),

    // Dedup canonicalization: MinHash candidate pairs → connected
    // components (min-label propagation) → one canonical doc per
    // cluster. Docs with no candidate pair are their own cluster.
    Q("q_dedup_clusters", (s, dir) => {
      val docs = wide(s, dir, "documents").select("doc_id", "text")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 4)
      val cl = Dedup.clusters(pairs)
      docs.select("doc_id")
        .join(cl, docs("doc_id") === cl("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("is_canonical", col("cluster_id") === col("doc_id"))
        .orderBy("doc_id")
    }, oracle = {
      // Same candidate pairs as q_minhash_pairs, then connected
      // components via a recursive transitive-closure CTE (fine at
      // oracle scale; the engine side uses min-label propagation).
      val sigCols = (0 until 8)
        .map(k => s"list_min(list_transform(sh, x -> md5('$k|' || x))) AS sig_$k")
        .mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band_id, md5(sig_${2 * b} || '#' || sig_${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL ")
      s"""WITH RECURSIVE t AS (SELECT doc_id, ${dShingleSet(W, 3)} AS sh FROM documents),
         |sigs AS (SELECT doc_id, $sigCols FROM t WHERE len(sh) > 0),
         |bands AS (
         |  $bandRows
         |),
         |pr AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket
         |  WHERE a.doc_id < b.doc_id
         |),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pr
         |      UNION SELECT id_b, id_a FROM pr),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
         |),
         |cl AS (SELECT src AS doc_id, min(dst) AS mr FROM reach GROUP BY src)
         |SELECT d.doc_id,
         |       least(d.doc_id, coalesce(cl.mr, d.doc_id)) AS cluster_id,
         |       (least(d.doc_id, coalesce(cl.mr, d.doc_id)) = d.doc_id) AS is_canonical
         |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }),

    // Semantic decontamination: corpus vectors (base + planted exact
    // copies of the bench slice, +10000 ids) flagged when cosine vs any
    // bench vector ≥ 0.9 — organic max cosine in the synthetic table is
    // 0.47, so exactly the bench originals and the planted copies flag.
    Q("q_semantic_decontaminate", (s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 5)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      SemanticDedup.contamination(base.unionByName(planted),
          base.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", tau = 0.9)
        .select(col("vec_id"), col("n_bench_hits"),
          stableRound(col("max_sim")).as("max_sim"), col("worst_bench_id"))
        .orderBy("vec_id")
    }, oracle =
      // Flagged = sim ≥ 0.9 vs any bench vector; worst_bench_id = the
      // max-sim bench item, ties to the lowest id (matches max_by's
      // (sim, −bid) key).
      s"""WITH c AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 5
         |), b AS (
         |  SELECT vec_id AS bid, embedding AS bv FROM embeddings WHERE vec_id < 5
         |), s AS (
         |  SELECT c.vec_id, b.bid, ${dCosine("c.embedding", "b.bv")} AS sim
         |  FROM c, b
         |), f AS (SELECT * FROM s WHERE sim >= 0.9)
         |SELECT vec_id, n_bench_hits, max_sim, worst_bench_id FROM (
         |  SELECT vec_id, bid AS worst_bench_id,
         |         CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_bench_hits,
         |         round(max(sim) OVER (PARTITION BY vec_id) + 1.2345e-9, 6) AS max_sim,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bid) AS rn
         |  FROM f)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // Decontamination at the scale where the BENCH side is itself big
    // (many eval suites — 10^5+ items): the broadcast-NLJ fan-out of
    // q_semantic_decontaminate is |bench| cosines per corpus doc,
    // corpus-wide; SemanticDedup.contaminationConfined drops it to an
    // equi-join on shared coarse cells, with the corpus side probing
    // its top-2 cells within margin 0.05 (the dedup boundary-recovery
    // discipline — a missed bench item here is silent eval leakage).
    // The mixed-vector plant (0.8·a + 0.2·b) makes some contaminated
    // rows land in a DIFFERENT cell than their bench source, so the
    // probes are load-bearing, not decorative. The oracle replays the
    // corpus top-2+margin rank, the bench primary rank, the cell join,
    // and the windowed per-doc reduction.
    Q("q_semantic_decontaminate_confined", (s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val a = base.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding").as("_av"))
      val b = base.filter(col("vec_id") >= 100 && col("vec_id") < 200)
        .select((col("vec_id") - 100).as("vec_id"), col("embedding").as("_bv"))
      val planted = a.join(b, "vec_id")
        .select((col("vec_id") + 10000).as("vec_id"),
          zip_with(col("_av"), col("_bv"),
            (x, y) => x * lit(0.8) + y * lit(0.2)).as("embedding"))
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      SemanticDedup.contaminationConfined(base.unionByName(planted),
          base.filter(col("vec_id") < 20), "vec_id", "embedding",
          "vec_id", "embedding", cents, "centroid_id", "cvec",
          tau = 0.9, cellProbes = 2, probeMargin = 0.05)
        .select(col("vec_id"), col("n_bench_hits"),
          stableRound(col("max_sim")).as("max_sim"), col("worst_bench_id"))
        .orderBy("vec_id")
    }, oracle =
      s"""WITH $mixedPlantCtes,
         |c AS (SELECT vec_id AS cid, embedding AS cv FROM bse WHERE vec_id < 8),
         |crk AS (
         |  SELECT vec_id, embedding, cid, csim,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn,
         |         max(csim) OVER (PARTITION BY vec_id) AS topsim
         |  FROM (SELECT v.vec_id, v.embedding, c.cid,
         |               ${dCosine("v.embedding", "c.cv")} AS csim
         |        FROM all_v v, c)
         |),
         |cprob AS (SELECT vec_id, embedding, cid AS cell_id FROM crk
         |          WHERE rn <= 2 AND csim >= topsim - CAST(0.05 AS DOUBLE)),
         |brk AS (
         |  SELECT vec_id, embedding, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
         |  FROM (SELECT v.vec_id, v.embedding, c.cid,
         |               ${dCosine("v.embedding", "c.cv")} AS csim
         |        FROM (SELECT vec_id, embedding FROM bse WHERE vec_id < 20) v, c)
         |),
         |bprim AS (SELECT vec_id AS bid, embedding AS bv, cid AS cell_id
         |          FROM brk WHERE rn = 1),
         |f AS (
         |  SELECT x.vec_id, y.bid, ${dCosine("x.embedding", "y.bv")} AS sim
         |  FROM cprob x JOIN bprim y ON x.cell_id = y.cell_id
         |  WHERE ${dCosine("x.embedding", "y.bv")} >= 0.9
         |)
         |SELECT vec_id, n_bench_hits, max_sim, worst_bench_id FROM (
         |  SELECT vec_id, bid AS worst_bench_id,
         |         CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_bench_hits,
         |         round(max(sim) OVER (PARTITION BY vec_id) + 1.2345e-9, 6) AS max_sim,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bid) AS rn
         |  FROM f)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // North star: incremental exact dedup — a "new batch" (docs ≥ 300
    // plus re-keyed copies of 450-469) against the fingerprint index of
    // the accumulated corpus (docs < 400). 300-399 dup the corpus;
    // the +10000 re-keyed copies dup their in-batch originals.
    Q("q_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val existing = Dedup.exact(docs.filter(col("doc_id") < 400), "doc_id", "text")
        .select("fingerprint")
      val batch = docs.filter(col("doc_id") >= 300).unionByName(
        docs.filter(col("doc_id") >= 450 && col("doc_id") < 470)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.exactIncrement(batch, "doc_id", "text", existing)
        .orderBy("doc_id")
    }, oracle =
      """WITH existing AS (
        |  SELECT DISTINCT md5(trim(replace(text, chr(10), ' '))) AS fp
        |  FROM documents WHERE doc_id < 400
        |),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 300
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents
        |  WHERE doc_id >= 450 AND doc_id < 470
        |),
        |fp AS (SELECT doc_id, md5(trim(replace(text, chr(10), ' '))) AS fingerprint FROM batch),
        |firsts AS (SELECT fingerprint, min(doc_id) AS first_id FROM fp GROUP BY 1)
        |SELECT fp.doc_id, fp.fingerprint,
        |       CASE WHEN e.fp IS NOT NULL THEN 'dup_corpus'
        |            WHEN fp.doc_id <> f.first_id THEN 'dup_batch'
        |            ELSE 'new' END AS status
        |FROM fp
        |JOIN firsts f ON fp.fingerprint = f.fingerprint
        |LEFT JOIN existing e ON fp.fingerprint = e.fp
        |ORDER BY fp.doc_id""".stripMargin),

    // North star: exact-substring duplication profile (Lee et al. 2022
    // at word-5-gram granularity; 5 not the production 10 because the
    // synthetic docs are 11-97 words). Distinct-(gram,doc) shuffle
    // shape — see Dedup.duplicatedGramProfile.
    Q("q_gram_dedup", (s, dir) => {
      Dedup.duplicatedGramProfile(wide(s, dir, "documents"),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         list_transform(range(1, greatest(len(w) - 4, 1) + 1),
         |                        i -> array_to_string(list_slice(w, i, i + 4), ' ')) AS sh
         |  FROM t
         |),
         |inst AS (
         |  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, substring(md5(sh[i]), 1, 16) AS h
         |  FROM g, unnest(range(1, len(sh) + 1)) AS r(i)
         |),
         |grp AS (
         |  SELECT h, doc_id, count(*) AS cnt, min(doc_id * 1048576 + pos) AS minkey
         |  FROM inst GROUP BY 1, 2
         |),
         |firsts AS (SELECT h, min(minkey) AS firstkey FROM grp GROUP BY 1)
         |SELECT grp.doc_id,
         |       CAST(sum(cnt) AS BIGINT) AS n_grams,
         |       CAST(sum(cnt - CASE WHEN grp.minkey = firsts.firstkey THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       round(CAST(sum(cnt - CASE WHEN grp.minkey = firsts.firstkey THEN 1 ELSE 0 END) AS DOUBLE)
         |             / sum(cnt) + 1.2345e-9, 6) AS dup_fraction
         |FROM grp JOIN firsts ON grp.h = firsts.h
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Lee et al. 2022 exact substring dedup: EXCISE duplicated 5-gram
    // spans (all instances after the globally first), keep the docs.
    // The oracle rebuilds every document's surviving token stream, so
    // the span arithmetic — not just the counts — is hash-checked.
    Q("q_excise_spans", (s, dir) => {
      Dedup.exciseDuplicateSpans(wide(s, dir, "documents"),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }, oracle =
      // Span excision: same instance/first-key machinery as
      // q_gram_dedup, then covered-index union and a per-doc rebuild
      // of the surviving token stream.
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |g AS (
         |  SELECT doc_id, len(w) AS lw,
         |         list_transform(range(1, greatest(len(w) - 4, 1) + 1),
         |                        i -> array_to_string(list_slice(w, i, i + 4), ' ')) AS sh
         |  FROM t
         |),
         |inst AS (
         |  SELECT doc_id, lw, CAST(i AS BIGINT) - 1 AS pos, substring(md5(sh[i]), 1, 16) AS h
         |  FROM g, unnest(range(1, len(sh) + 1)) AS r(i)
         |),
         |keyed AS (SELECT doc_id, lw, pos, h, doc_id * 1048576 + pos AS key FROM inst),
         |firsts AS (SELECT h, min(key) AS firstkey FROM keyed GROUP BY 1),
         |flagged AS (SELECT doc_id, lw, pos FROM keyed JOIN firsts USING (h) WHERE key <> firstkey),
         |cov AS (
         |  SELECT DISTINCT doc_id, CAST(idx AS BIGINT) AS idx
         |  FROM flagged, unnest(range(pos, least(pos + 5, lw))) AS r(idx)
         |),
         |covl AS (SELECT doc_id, list_sort(list(idx)) AS cv FROM cov GROUP BY 1)
         |SELECT t.doc_id,
         |       -- COALESCE: DuckDB's array_to_string([]) is NULL where
         |       -- Spark's array_join([]) is '' (fully excised docs)
         |       COALESCE(array_to_string(
         |         list_filter(
         |           list_transform(range(1, len(w) + 1),
         |             i -> CASE WHEN covl.cv IS NULL OR NOT list_contains(covl.cv, i - 1)
         |                  THEN w[i] ELSE NULL END),
         |           x -> x IS NOT NULL), ' '), '') AS clean_text,
         |       CAST(len(w) AS BIGINT) AS n_tokens,
         |       CAST(CASE WHEN covl.cv IS NULL THEN 0 ELSE len(covl.cv) END AS BIGINT) AS n_removed
         |FROM t LEFT JOIN covl USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
  )
}
