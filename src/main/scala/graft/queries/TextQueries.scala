package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryHelpers._

/** Text and document features: chunking, tokenization, BPE,
  * hashed-BoW embeddings, quality signals and gates, language models,
  * and the multimodal payload paths. */
object TextQueries {

  /** Fixed merge ranks for q_bpe_encode (corpus-independent, so the
    * oracle SQL stays static across scale factors). Applied in order;
    * later merges consume earlier ones' outputs ('a n' → 'an d'). */
  private val FixedBpeMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"), ("an", "d"))

  /** The gate rule set shared by q_quality_rules / q_quality_survival
    * (thresholds tuned to split the synthetic corpus; see query doc). */
  private def qualityRuleSet =
    QualityRules.gopherRules(col("text"),
      minWords = 30, maxWords = 80, minMeanWordLen = 3.0,
      maxMeanWordLen = 10.0, maxSymbolRatio = 0.1,
      minStopwordHits = 2, maxRepetition = 0.1)

  // Shared CTE chain for the q_quality_rules / q_quality_survival
  // oracles: one boolean per rule, mirroring QualityRules.gopherRules
  // with the gate thresholds (30/80 words, [3,10] mean len, 0.1
  // symbols, 2 stopword hits, 0.1 repetition) over the exact same
  // fragments q_lang_quality proved (dTokens, dStopHits, punct class).
  private val qualityRulesCte: String = {
    val allStops = TextAnalysis.StopwordProfiles.flatMap(_._2).distinct
    val rep3 = s"list_transform(range(1, greatest(len(w) - 2, 1) + 1), " +
      s"i -> array_to_string(list_slice(w, i, i + 2), ' '))"
    s"""WITH t AS (SELECT doc_id, trim(replace(text, chr(10), ' ')) AS tc, $W AS w FROM documents),
       |s AS (
       |  SELECT doc_id, len(w) AS nw,
       |         CASE WHEN len(w) = 0 THEN 0.0
       |              ELSE CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) END AS mtl,
       |         CASE WHEN length(tc) = 0 THEN 0.0
       |              ELSE CAST(length(regexp_replace(tc, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(tc) END AS pr,
       |         ${dStopHits("w", allStops)} AS hits,
       |         $rep3 AS sh
       |  FROM t
       |),
       |r AS (
       |  SELECT doc_id,
       |         nw >= 30 AS r_min_words,
       |         nw <= 80 AS r_max_words,
       |         (mtl >= 3.0 AND mtl <= 10.0) AS r_mean_word_len,
       |         pr <= 0.1 AS r_symbol_ratio,
       |         hits >= 2 AS r_stopwords,
       |         (CASE WHEN len(sh) = 0 THEN 0.0
       |               ELSE CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh) END) <= 0.1 AS r_repetition
       |  FROM s
       |),
       |rr AS (
       |  SELECT *,
       |         (r_min_words AND r_max_words AND r_mean_word_len AND r_symbol_ratio
       |          AND r_stopwords AND r_repetition) AS passed,
       |         CAST((CASE WHEN r_min_words THEN 0 ELSE 1 END) +
       |              (CASE WHEN r_max_words THEN 0 ELSE 1 END) +
       |              (CASE WHEN r_mean_word_len THEN 0 ELSE 1 END) +
       |              (CASE WHEN r_symbol_ratio THEN 0 ELSE 1 END) +
       |              (CASE WHEN r_stopwords THEN 0 ELSE 1 END) +
       |              (CASE WHEN r_repetition THEN 0 ELSE 1 END) AS BIGINT) AS n_failed
       |  FROM r
       |)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // O-7/O-8: clean + 32-word chunking of the documents corpus.
    Q("q_chunk", (s, dir) => {
      Ingest.chunk(wide(s, dir, "documents").select("doc_id", "text"), "text", 32)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    }, oracle =
      s"""WITH t AS (
         |  SELECT doc_id, ${dTokens("text")} AS words FROM documents
         |), c AS (
         |  SELECT doc_id, words,
         |         unnest(range(0, CAST(ceil(len(words) / 32.0) AS BIGINT))) AS chunk_idx
         |  FROM t
         |)
         |SELECT doc_id, chunk_idx,
         |       array_to_string(list_slice(words, chunk_idx * 32 + 1, chunk_idx * 32 + 32), ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // Text analysis: token counts (whitespace + BPE-ish subword regex).
    Q("q_token_stats", (s, dir) => {
      wide(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy("doc_id")
    }, oracle =
      s"""SELECT doc_id,
         |       CAST(len(${dTokens("text")}) AS BIGINT) AS n_tokens,
         |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin),

    // BPE ENCODE with a fixed merge list (training is spec-gated — the
    // iterative merge selection isn't SQL-replayable — but encoding a
    // FIXED rank list is: DuckDB replace() has exactly mergeOnce's
    // left-to-right non-overlapping scan, and chr(2)/chr(3) symbol
    // brackets make cross-symbol matches impossible).
    Q("q_bpe_encode", (s, dir) => {
      val enc = graft.operators.Bpe.withBpeTokens(
        wide(s, dir, "documents").select("doc_id", "text"), "text", "bpe", FixedBpeMerges)
      enc.select(col("doc_id"),
          size(col("bpe")).cast("long").as("n_tok"),
          get(col("bpe"), lit(0)).as("head_tok"))
        .orderBy("doc_id")
    }, oracle = {
      // BPE encode with the fixed rank list: each word's chars are
      // bracketed chr(2)<sym>chr(3) so replace() can only fuse WHOLE
      // adjacent symbols, and replace()'s left-to-right non-overlapping
      // scan is exactly Bpe.mergeOnce. n_tok counts chr(2) markers;
      // head_tok reads word 1's first symbol.
      def b(sym: String) = s"chr(2) || '$sym' || chr(3)"
      val spaced = "regexp_replace(w, '(.)', chr(2) || '\\1' || chr(3), 'g')"
      val chain = FixedBpeMerges.foldLeft(spaced) { case (acc, (x, y)) =>
        s"replace($acc, ${b(x)} || ${b(y)}, ${b(x + y)})"
      }
      s"""WITH t AS (SELECT doc_id,
         |              ${dTokens("regexp_replace(lower(text), '[\\x02\\x03]', '', 'g')")} AS words
         |            FROM documents),
         |e AS (SELECT doc_id, words, list_transform(words, w -> $chain) AS encs FROM t)
         |SELECT doc_id,
         |       CAST(coalesce(list_sum(list_transform(encs,
         |         s -> length(s) - length(replace(s, chr(2), '')))), 0) AS BIGINT) AS n_tok,
         |       CASE WHEN len(words) = 0 THEN NULL
         |            ELSE string_split(replace(encs[1], chr(2), ''), chr(3))[1] END AS head_tok
         |FROM e ORDER BY doc_id""".stripMargin
    }),

    // O-3 / F-6 / F-7: upload doc_id derivation (stem_unixtime) over
    // synthesized paths covering the three stem shapes: simple extension,
    // multi-dot name (stem keeps the inner dots), and no extension.
    // Timestamp injected (F-6) so the id is deterministic.
    Q("q_doc_id", (s, dir) => {
      val m = pmod(col("doc_id"), lit(3))
      val ext = when(m === 0, lit(".txt"))
        .when(m === 1, lit(".tar.gz"))
        .otherwise(lit(""))
      val fname = concat(lit("/uploads/u"), m.cast("string"),
        lit("/doc_"), col("doc_id").cast("string"), ext)
      t(s, dir, "documents")
        .select(col("doc_id"),
          fname.as("file_name"),
          Ingest.uploadDocId(fname, lit(1723400000L)).as("upload_id"))
        .orderBy("doc_id")
    }, oracle =
      // stem_unixtime doc ids: the stem regex keeps inner dots and strips
      // only the final .ext segment — same RE2 pattern both engines.
      """WITH f AS (
        |  SELECT doc_id,
        |         concat('/uploads/u', doc_id % 3, '/doc_', doc_id,
        |                CASE doc_id % 3 WHEN 0 THEN '.txt' WHEN 1 THEN '.tar.gz' ELSE '' END) AS file_name
        |  FROM documents
        |)
        |SELECT doc_id, file_name,
        |       concat(regexp_extract(file_name, '([^/]+?)(\.[^./]*)?$', 1), '_', 1723400000) AS upload_id
        |FROM f ORDER BY doc_id""".stripMargin),

    // F-3: deterministic hashed-BoW embedding (norm + first dims).
    Q("q_embed_doc", (s, dir) => {
      wide(s, dir, "documents")
        .withColumn("_raw", Embed.embedText(col("text")))
        .withColumn("_norm", l2Norm(col("_raw")))
        .withColumn("_n", l2NormalizeWith(col("_raw"), col("_norm")))
        .select(col("doc_id"), stableRound(col("_norm")).as("norm"),
          stableRound(element_at(col("_n"), 1)).as("e0"),
          stableRound(element_at(col("_n"), 2)).as("e1"),
          stableRound(element_at(col("_n"), 3)).as("e2"),
          stableRound(element_at(col("_n"), 4)).as("e3"))
        .orderBy("doc_id")
    }, oracle = dEmbedOracle(withNorm = true, W)),

    // F-3 external-service parity path: the batched mapPartitions
    // embedder (per-partition client setup, 64-row batches) is bitwise
    // identical to the expression path, so it shares q_embed_doc's
    // oracle arithmetic.
    Q("q_embed_batched", (s, dir) => {
      Embed.withEmbeddingBatched(
          wide(s, dir, "documents").select("doc_id", "text"), "text", "_n")
        .select(col("doc_id"),
          stableRound(element_at(col("_n"), 1)).as("e0"),
          stableRound(element_at(col("_n"), 2)).as("e1"),
          stableRound(element_at(col("_n"), 3)).as("e2"),
          stableRound(element_at(col("_n"), 4)).as("e3"))
        .orderBy("doc_id")
    }, oracle =
      // Batched mapPartitions embedder ≡ expression path bitwise, so the
      // oracle is the same hashed-BoW arithmetic (minus the norm column).
      dEmbedOracle(withNorm = false, W)),

    // North star: corpus vocabulary stats per source — exact distinct
    // here (oracle-able); the 100 TB path swaps countDistinct for
    // approx_count_distinct (HLL sketch, no exact-distinct shuffle of
    // every token) — TfIdfSpec bounds the sketch's error vs this exact.
    // TWO-LEVEL agg, not countDistinct+count in one: the mixed
    // distinct/non-distinct form plans an Expand that doubles every
    // exploded token row through the shuffle; grouping by (source, tok)
    // first gets map-side combine (shuffle rows = per-partition distinct
    // tokens, not instances), then n_vocab = count of groups and
    // n_tokens = sum of counts fall out of one second agg. PlanSpec
    // pins the Expand-free shape.
    Q("q_vocab_stats", (s, dir) => {
      wide(s, dir, "documents")
        .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("_c"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_vocab"), sum(col("_c")).as("n_tokens"))
        .withColumn("type_token_ratio",
          stableRound(col("n_vocab").cast("double") / col("n_tokens")))
        .orderBy("source")
    }, oracle =
      s"""WITH t AS (SELECT source, unnest($W) AS tok FROM documents)
         |SELECT source,
         |       count(DISTINCT tok) AS n_vocab,
         |       count(*) AS n_tokens,
         |       round(CAST(count(DISTINCT tok) AS DOUBLE) / count(*) + 1.2345e-9, 6) AS type_token_ratio
         |FROM t GROUP BY source ORDER BY source""".stripMargin),

    // North star: language ID + quality scoring heuristics.
    Q("q_lang_quality", (s, dir) => {
      wide(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          stableRound(TextAnalysis.punctRatio(col("text"))).as("punct_ratio"),
          stableRound(TextAnalysis.stopwordRatio(col("text"))).as("stopword_ratio"),
          stableRound(TextAnalysis.meanTokenLen(col("text"))).as("mean_token_len"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }, oracle = {
      val hits = TextAnalysis.StopwordProfiles
        .map { case (lang, words) => s"${dStopHits("w", words)} AS h_$lang" }
        .mkString(",\n         ")
      val langs = TextAnalysis.StopwordProfiles.map(_._1)
      val caseChain = langs.map(l => s"WHEN h_$l = best THEN '$l'").mkString(" ")
      val allStops = TextAnalysis.StopwordProfiles.flatMap(_._2).distinct
      s"""WITH t AS (SELECT doc_id, text, trim(replace(text, chr(10), ' ')) AS tc, $W AS w FROM documents),
         |s AS (
         |  SELECT doc_id, text, tc, w,
         |         ${hits},
         |         greatest(${langs.map(l => s"${dStopHits("w", TextAnalysis.StopwordProfiles.toMap.apply(l))}").mkString(", ")}) AS best
         |  FROM t
         |)
         |SELECT doc_id,
         |       CASE WHEN best <= 0 THEN 'und' $caseChain ELSE 'und' END AS lang_pred,
         |       round(CASE WHEN length(tc) = 0 THEN 0.0
         |             ELSE CAST(length(regexp_replace(tc, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(tc) END + 1.2345e-9, 6) AS punct_ratio,
         |       round(CASE WHEN len(w) = 0 THEN 0.0
         |             ELSE CAST(${dStopHits("w", allStops)} AS DOUBLE) / len(w) END + 1.2345e-9, 6) AS stopword_ratio,
         |       round(CASE WHEN len(w) = 0 THEN 0.0
         |             ELSE CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) END + 1.2345e-9, 6) AS mean_token_len,
         |       round(
         |         least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.4 +
         |         greatest(1.0 - (CASE WHEN length(tc) = 0 THEN 0.0
         |                         ELSE CAST(length(regexp_replace(tc, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(tc) END) * 5.0, 0.0) * 0.3 +
         |         least((CASE WHEN len(w) = 0 THEN 0.0
         |                ELSE CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) END) / 8.0, 1.0) * 0.3 + 1.2345e-9, 6) AS quality
         |FROM s ORDER BY doc_id""".stripMargin
    }),

    // North star: unigram-entropy quality signal (explode + hash-agg;
    // entropy fold over the sorted term list for portable float order).
    Q("q_entropy", (s, dir) => {
      TextAnalysis.tokenEntropy(wide(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          stableRound(col("entropy")).as("entropy"))
        .orderBy("doc_id")
    }, oracle =
      // Entropy fold mirrors the engine: terms sorted lexicographically,
      // left-fold sum (list_sum ≡ Spark aggregate over the same order).
      s"""WITH t AS (SELECT doc_id, unnest($W) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY doc_id, tok),
         |g AS (SELECT doc_id,
         |        list_sort(list(struct_pack(tok := tok, cnt := cnt))) AS terms,
         |        sum(cnt) AS n
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |       round(-(list_sum(list_transform(terms, e ->
         |         (CAST(e.cnt AS DOUBLE) / CAST(n AS DOUBLE))
         |           * ln(CAST(e.cnt AS DOUBLE) / CAST(n AS DOUBLE))))) + 1.2345e-9, 6) AS entropy
         |FROM g ORDER BY doc_id""".stripMargin),

    // Multimodal: deterministic frame sampling — every stride-th
    // fixed-size block of the payload stands in for a decoded frame
    // (the real mapPartitions plumbing; the codec is the documented
    // stub). Corpus text doubles as the binary payload; it is pure
    // ASCII at every SF, so the oracle's char slicing IS byte slicing.
    Q("q_multimodal_frames", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"), lit("video").as("kind"),
          col("text").cast("binary").as("bytes"))
        .as[Multimodal.MediaRow]
      Multimodal.sampleFrames(media, blockSize = 64, stride = 2)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame_bytes")).cast("long").as("n_bytes"),
          md5(col("frame_bytes")).as("frame_md5"))
        .orderBy("media_id", "frame_idx")
    }, oracle =
      """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |f AS (
        |  SELECT doc_id, i AS frame_idx, substring(text, i * 64 + 1, 64) AS frame
        |  FROM t, unnest(range(0, (n + 63) // 64, 2)) AS r(i)
        |)
        |SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(length(frame) AS BIGINT) AS n_bytes, md5(frame) AS frame_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin),

    // North star: text normalization (accent fold → lower → whitespace
    // collapse) — the canonical pre-tokenization curation pass. The
    // synthetic corpus is pure ASCII, so accented forms are PLANTED
    // (like q_redact_pii's PII) to force the non-ASCII path; the oracle
    // mirrors with DuckDB's utf8proc strip_accents (char-for-char
    // parity verified for the planted repertoire).
    Q("q_normalize_text", (s, dir) => {
      wide(s, dir, "documents")
        .withColumn("_aug", concat(col("text"),
          lit("  Café\tNAÏVE  Zürich ñandú François øre  ")))
        .select(col("doc_id"), normalizeText(col("_aug")).as("normalized"))
        .orderBy("doc_id")
    }, oracle =
      """WITH t AS (
        |  SELECT doc_id,
        |         text || '  Café' || chr(9) || 'NAÏVE  Zürich ñandú François øre  ' AS aug
        |  FROM documents
        |)
        |SELECT doc_id,
        |       trim(regexp_replace(lower(strip_accents(aug)), '\s+', ' ', 'g')) AS normalized
        |FROM t ORDER BY doc_id""".stripMargin),

    // North star: unigram log-probability (the CCNet perplexity-proxy
    // quality signal, degenerate unigram case — engine-portable).
    // vocabSize = 32 is far under the corpus vocabulary, so both the
    // in-vocab and the OOV smoothing-floor paths fire at every SF.
    Q("q_unigram_logprob", (s, dir) => {
      TextAnalysis.unigramLogprob(wide(s, dir, "documents"),
          "doc_id", "text", vocabSize = 32)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, unnest($W) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
         |vocab AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 32),
         |stats AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n,
         |                 CAST(count(*) + 1 AS DOUBLE) AS v1 FROM vocab),
         |dt AS (SELECT doc_id, tok, count(*) AS dcnt FROM t GROUP BY 1, 2),
         |sc AS (SELECT dt.doc_id, dt.tok, dt.dcnt,
         |              ln((CAST(COALESCE(v.cnt, 0) AS DOUBLE) + 1.0) / (s.n + s.v1)) AS lp
         |       FROM dt LEFT JOIN vocab v ON dt.tok = v.tok, stats s),
         |g AS (SELECT doc_id,
         |             list_sort(list(struct_pack(tok := tok, dcnt := dcnt, lp := lp))) AS terms,
         |             sum(dcnt) AS n_tokens
         |      FROM sc GROUP BY doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       round(list_sum(list_transform(terms, e -> CAST(e.dcnt AS DOUBLE) * e.lp))
         |             / CAST(n_tokens AS DOUBLE) + 1.2345e-9, 6) AS logprob
         |FROM g ORDER BY doc_id""".stripMargin),

    // Bigram conditional logprob — the word-order-aware step toward
    // the CCNet/KenLM n-gram filter. bigramTop = 64 and vocabSize = 32
    // sit far under the corpus statistics, so the in-model, OOV-bigram,
    // and OOV-context smoothing paths all fire at every SF.
    Q("q_bigram_logprob", (s, dir) => {
      TextAnalysis.bigramLogprob(wide(s, dir, "documents"),
          "doc_id", "text", vocabSize = 32, bigramTop = 64)
        .orderBy("doc_id")
    }, oracle =
      // Bigram conditional logprob: bigrams via the same list ops as
      // Spark's indexed transform (slice + zip — no positional
      // self-join); context totals derive FROM the kept top-64 bigram
      // table so c ≤ ctx and P < 1 by construction; the per-doc fold
      // replays over the identically sorted (w1, w2, dcnt, lp) list.
      s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
         |p AS (SELECT doc_id, unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS pr
         |      FROM d WHERE len(w) >= 2),
         |bi AS (SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM p),
         |bg AS (SELECT w1, w2, count(*) AS bcnt FROM bi GROUP BY 1, 2
         |       ORDER BY bcnt DESC, w1, w2 LIMIT 64),
         |ctx AS (SELECT w1, sum(bcnt) AS ccnt FROM bg GROUP BY 1),
         |c AS (SELECT tok, count(*) AS cnt
         |      FROM (SELECT unnest($W) AS tok FROM documents) GROUP BY 1),
         |uv AS (SELECT tok FROM c ORDER BY cnt DESC, tok LIMIT 32),
         |stats AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS v1 FROM uv),
         |dt AS (SELECT doc_id, w1, w2, count(*) AS dcnt FROM bi GROUP BY 1, 2, 3),
         |sc AS (SELECT dt.doc_id, dt.w1, dt.w2, dt.dcnt,
         |              ln((CAST(COALESCE(b.bcnt, 0) AS DOUBLE) + 1.0) /
         |                 (CAST(COALESCE(c2.ccnt, 0) AS DOUBLE) + s.v1)) AS lp
         |       FROM dt LEFT JOIN bg b ON dt.w1 = b.w1 AND dt.w2 = b.w2
         |               LEFT JOIN ctx c2 ON dt.w1 = c2.w1, stats s),
         |g AS (SELECT doc_id,
         |             list_sort(list(struct_pack(w1 := w1, w2 := w2, dcnt := dcnt, lp := lp))) AS terms,
         |             sum(dcnt) AS n_bigrams
         |      FROM sc GROUP BY doc_id)
         |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
         |       round(list_sum(list_transform(terms, e -> CAST(e.dcnt AS DOUBLE) * e.lp))
         |             / CAST(n_bigrams AS DOUBLE) + 1.2345e-9, 6) AS logprob
         |FROM g ORDER BY doc_id""".stripMargin),

    // North star: PII redaction (scrubbing pass over text + synthesized
    // identifiers, so the replacement paths actually fire).
    Q("q_redact_pii", (s, dir) => {
      wide(s, dir, "documents")
        .withColumn("_aug", concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@example.com or 555-123-4567 from 10.0.0.1")))
        .select(col("doc_id"), TextAnalysis.redactPii(col("_aug")).as("redacted"))
        .orderBy("doc_id")
    }, oracle =
      """WITH t AS (
        |  SELECT doc_id,
        |         text || ' contact: user' || CAST(doc_id AS VARCHAR) ||
        |         '@example.com or 555-123-4567 from 10.0.0.1' AS aug
        |  FROM documents
        |)
        |SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |           '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g'),
        |         '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted
        |FROM t ORDER BY doc_id""".stripMargin),

    // North star: Gopher-style repetition filtering signal.
    Q("q_repetition", (s, dir) => {
      val ratio = TextAnalysis.repetitionRatio(col("text"), 3)
      wide(s, dir, "documents")
        .select(col("doc_id"),
          stableRound(ratio).as("rep_ratio"),
          (ratio > 0.2).as("gopher_flag"))
        .orderBy("doc_id")
    }, oracle = {
      val allSh = s"list_transform(range(1, greatest(len($W) - 2, 1) + 1), " +
        s"i -> array_to_string(list_slice($W, i, i + 2), ' '))"
      s"""WITH t AS (SELECT doc_id, $allSh AS sh FROM documents)
         |SELECT doc_id,
         |       round(CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh) + 1.2345e-9, 6) AS rep_ratio,
         |       (CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh)) > 0.2 AS gopher_flag
         |FROM t ORDER BY doc_id""".stripMargin
    }),

    // North star: content + min-shingle fingerprints.
    Q("q_fingerprint", (s, dir) => {
      wide(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.contentFingerprint(col("text")).as("content_fp"),
          TextAnalysis.shingleFingerprint(col("text"), 4).as("shingle_fp"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, text, ${dShingleSet(W, 4)} AS sh FROM documents)
         |SELECT doc_id,
         |       md5(trim(replace(text, chr(10), ' '))) AS content_fp,
         |       CASE WHEN len(sh) = 0 THEN md5('')
         |            ELSE list_min(list_transform(sh, x -> md5(x))) END AS shingle_fp
         |FROM t ORDER BY doc_id""".stripMargin),

    // Multimodal: binary payload metadata (real plumbing; decode stubbed).
    Q("q_multimodal_meta", (s, dir) => {
      val bin = col("text").cast("binary")
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(bin).cast("long").as("n_bytes"),
          sha2(bin, 256).as("sha256"),
          lower(hex(substring(bin, 1, 4))).as("magic"),
          Multimodal.sniffFormat(bin).as("format"))
        .orderBy("doc_id")
    }, oracle =
      // byte-based slicing (first 8 hex chars of the encoded BLOB ==
      // Spark's binary substring(1,4)) and the full sniffFormat CASE — a
      // char-based substr or hardcoded 'unknown' would diverge on
      // multibyte-leading or magic-prefixed documents
      """WITH b AS (
        |  SELECT doc_id, text, encode(text) AS bin,
        |         upper(left(hex(encode(text)), 8)) AS magic_uc
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(octet_length(bin) AS BIGINT) AS n_bytes,
        |       sha256(text) AS sha256,
        |       lower(magic_uc) AS magic,
        |       CASE WHEN magic_uc LIKE 'FFD8FF%'   THEN 'jpeg'
        |            WHEN magic_uc LIKE '89504E47%' THEN 'png'
        |            WHEN magic_uc LIKE '47494638%' THEN 'gif'
        |            WHEN magic_uc LIKE '52494646%' THEN 'riff'
        |            WHEN magic_uc LIKE '25504446%' THEN 'pdf'
        |            WHEN left(magic_uc, 4) IN ('5032', '5035')
        |                 AND substr(magic_uc, 5, 2) IN ('09', '0A', '0D', '20') THEN 'pgm'
        |            WHEN left(magic_uc, 4) IN ('5033', '5036')
        |                 AND substr(magic_uc, 5, 2) IN ('09', '0A', '0D', '20') THEN 'ppm'
        |            ELSE 'unknown' END AS format
        |FROM b ORDER BY doc_id""".stripMargin),

    // Multimodal REAL decode (round-5 verdict item 6): each doc becomes
    // an 8×8 binary PGM whose 64 pixel bytes are 4 chained md5 blocks of
    // the text — PnmCodec genuinely parses the header and samples
    // (width/height below come from the decoder, not the constructor),
    // and the md5 derivation is what lets DuckDB replay the decoded
    // pixel histogram without a PGM parser: pixel byte value / 16 ==
    // the byte's FIRST hex char, so the 16-bin feature histogram is a
    // hex-digit count over the md5 strings' odd positions.
    Q("q_multimodal_decode", (s, dir) => {
      import s.implicits._
      val blocks = (0 until 4).map(i => unhex(md5(concat(col("text"), lit(s"#$i")))))
      val img = concat(lit("P5\n8 8\n255\n".getBytes("US-ASCII")) +: blocks: _*)
      val media = wide(s, dir, "documents")
        .select(col("doc_id").as("media_id"), lit("image").as("kind"), img.as("bytes"))
        .as[Multimodal.MediaRow]
      // The 16-bin histogram goes out as scalar columns f0..f15 (the
      // q_minhash_sig pattern): the driver's comparer cannot hash
      // array-typed cells, and 16 scalars sort/compare everywhere.
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id").as("doc_id") +:
          col("width").cast("long").as("width") +:
          col("height").cast("long").as("height") +:
          col("n_bytes") +:
          (0 until 16).map(i => stableRound(col("feature").getItem(i)).as(s"f$i")): _*)
        .orderBy("doc_id")
    }, oracle =
      // Replays the REAL PGM decode without a PGM parser: the payload's
      // 64 pixel bytes are 4 md5 blocks of the text, and PnmCodec's
      // 16-bin histogram bins by v*16/256 == the byte's high nibble ==
      // the hex string's odd-position chars — so the decoded feature is
      // a hex-digit count over md5 output, which DuckDB can compute.
      // Header "P5\n8 8\n255\n" is 11 bytes + 64 pixels = 75 n_bytes;
      // width/height come from the decoder parsing that header. The
      // histogram is emitted as 16 scalar columns f0..f15 (DuckDB lists
      // are 1-indexed) so the comparer never sees an array cell.
      ("""WITH b AS (
        |  SELECT doc_id,
        |         md5(text || '#0') || md5(text || '#1') ||
        |         md5(text || '#2') || md5(text || '#3') AS hx
        |  FROM documents
        |),
        |h AS (
        |  SELECT doc_id,
        |         list_transform(range(0, 16), d ->
        |           CAST(len(list_filter(range(0, 64), i ->
        |             strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1 = d)) AS DOUBLE)) AS hist
        |  FROM b
        |),
        |n AS (
        |  SELECT doc_id, hist,
        |         sqrt(list_sum(list_transform(hist, y -> y * y))) + 1e-9 AS nrm
        |  FROM h
        |)
        |SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |       CAST(75 AS BIGINT) AS n_bytes,
        |""".stripMargin +
        (0 until 16).map(i => s"       round(hist[${i + 1}] / nrm + 1.2345e-9, 6) AS f$i")
          .mkString(",\n") +
        "\nFROM n ORDER BY doc_id")),

    // The SAME planted raster as q_multimodal_decode, carried as a real
    // PNG payload (ImageIoCodec — javax.imageio, public JDK): pixels
    // are the 64 md5-derived bytes, PNG is lossless, so the decoded
    // histogram replays EXACTLY in the oracle from the md5 hex digits.
    // What this pins beyond q_multimodal_decode: the ImageIoCodec
    // decode path (magic gate → BufferedImage → gray raster) feeding
    // the same codec-agnostic feature stage. n_bytes is NOT an output —
    // the PNG container length is an encoder detail DuckDB can't see.
    Q("q_multimodal_png", (s, dir) => {
      import s.implicits._
      val blocks = (0 until 4).map(i => unhex(md5(concat(col("text"), lit(s"#$i")))))
      val media = wide(s, dir, "documents")
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          concat(blocks: _*).as("bytes"))
        .as[Multimodal.MediaRow]
        .map { r =>
          Multimodal.MediaRow(r.media_id, r.kind,
            Multimodal.ImageIoCodec.encodePng(8, 8, r.bytes.map(b => b & 0xff)))
        }
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id").as("doc_id") +:
          col("width").cast("long").as("width") +:
          col("height").cast("long").as("height") +:
          (0 until 16).map(i => stableRound(col("feature").getItem(i)).as(s"f$i")): _*)
        .orderBy("doc_id")
    }, oracle =
      // identical raster to q_multimodal_decode (PNG is lossless), so
      // the oracle is the same hex-digit histogram without n_bytes
      ("""WITH b AS (
        |  SELECT doc_id,
        |         md5(text || '#0') || md5(text || '#1') ||
        |         md5(text || '#2') || md5(text || '#3') AS hx
        |  FROM documents
        |),
        |h AS (
        |  SELECT doc_id,
        |         list_transform(range(0, 16), d ->
        |           CAST(len(list_filter(range(0, 64), i ->
        |             strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1 = d)) AS DOUBLE)) AS hist
        |  FROM b
        |),
        |n AS (
        |  SELECT doc_id, hist,
        |         sqrt(list_sum(list_transform(hist, y -> y * y))) + 1e-9 AS nrm
        |  FROM h
        |)
        |SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |""".stripMargin +
        (0 until 16).map(i => s"       round(hist[${i + 1}] / nrm + 1.2345e-9, 6) AS f$i")
          .mkString(",\n") +
        "\nFROM n ORDER BY doc_id")),

    // North star: Gopher/C4-style hard quality gates with per-rule
    // attribution (QualityRules engine; thresholds tuned so the
    // synthetic corpus actually splits on min_words / stopwords /
    // repetition — the corpus has no punctuation, so symbol_ratio and
    // mean_word_len pass universally and pin the all-true path).
    Q("q_quality_rules", (s, dir) => {
      QualityRules.evaluate(wide(s, dir, "documents"), qualityRuleSet)
        .select(col("doc_id"), col("r_min_words"), col("r_max_words"),
          col("r_mean_word_len"), col("r_symbol_ratio"), col("r_stopwords"),
          col("r_repetition"), col("passed"), col("n_failed"))
        .orderBy("doc_id")
    }, oracle = (s"$qualityRulesCte\nSELECT doc_id, r_min_words, " +
      "r_max_words, r_mean_word_len, r_symbol_ratio, r_stopwords, " +
      "r_repetition, passed, n_failed FROM rr ORDER BY doc_id")),

    // The survival report over the same rule set: one map-side-combined
    // aggregate — total docs, survivors, per-rule kill counts.
    Q("q_quality_survival", (s, dir) => {
      QualityRules.survivalStats(
        QualityRules.evaluate(wide(s, dir, "documents"), qualityRuleSet),
        qualityRuleSet)
    }, oracle = (s"$qualityRulesCte\n" +
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
        |       CAST(sum(CASE WHEN r_min_words THEN 0 ELSE 1 END) AS BIGINT) AS killed_by_min_words,
        |       CAST(sum(CASE WHEN r_max_words THEN 0 ELSE 1 END) AS BIGINT) AS killed_by_max_words,
        |       CAST(sum(CASE WHEN r_mean_word_len THEN 0 ELSE 1 END) AS BIGINT) AS killed_by_mean_word_len,
        |       CAST(sum(CASE WHEN r_symbol_ratio THEN 0 ELSE 1 END) AS BIGINT) AS killed_by_symbol_ratio,
        |       CAST(sum(CASE WHEN r_stopwords THEN 0 ELSE 1 END) AS BIGINT) AS killed_by_stopwords,
        |       CAST(sum(CASE WHEN r_repetition THEN 0 ELSE 1 END) AS BIGINT) AS killed_by_repetition
        |FROM rr""".stripMargin)),
  )
}
