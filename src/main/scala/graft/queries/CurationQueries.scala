package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryHelpers._

/** Corpus curation and data mixing: the staged curation chain and its
  * reports, sampling, shuffles, splits, packing and importance weights. */
object CurationQueries {

  /** The staged four-tier curation chain shared by q_curation_semantic
    * and q_curation_report (each stage is the prior's survivors):
    * input ⊇ quality gate ⊇ exact dedup ⊇ MinHash near-dup ⊇ SemDeDup.
    * Input = documents + 10 planted word-REVERSED paraphrases (+10000,
    * carrying the ORIGINAL embedding) that slip the first three tiers —
    * new fingerprint, new shingles — and die only in the vector tier,
    * proving the composition live. Docs without an embedding row (sf0.1
    * has 5000 docs, 2000 vectors) skip the semantic tier and pass
    * through kept: a tier can only judge what it can see, and rows must
    * never vanish. */
  private case class CurationStages(all: DataFrame, gated: DataFrame,
                                    exactDeduped: DataFrame, surv: DataFrame,
                                    kept: DataFrame)
  private def curationSemanticStages(s: SparkSession, dir: String): CurationStages = {
    val docs = wide(s, dir, "documents")
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = docs.filter(col("doc_id") < 10).select(
      (col("doc_id") + 10000).as("doc_id"),
      concat_ws(" ", reverse(tokens(col("text")))).as("text"))
    val all = docs.select("doc_id", "text").unionByName(planted)
    val vecs = emb.unionByName(
      emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val scored = all.select(
      col("doc_id"), col("text"),
      TextAnalysis.langId(col("text")).as("lang_pred"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.contentFingerprint(col("text")).as("fp"))
    val gated = graft.Materialize(
      scored.filter(col("quality") >= 0.5 && col("n_tokens") >= 20))
    val keep = gated.groupBy("fp").agg(min("doc_id").as("doc_id"))
    val exactDeduped = graft.Materialize(gated.join(keep, Seq("fp", "doc_id")))
    val nearDrops = Dedup.minhashCandidates(
        exactDeduped.select("doc_id", "text"),
        "doc_id", "text", shingleN = 3, numHashes = 8, bands = 4)
      .select(col("id_b").as("doc_id")).distinct()
    val surv = graft.Materialize(
      exactDeduped.join(nearDrops, Seq("doc_id"), "left_anti"))
    // SemDeDup codebook at the production discipline |C| = ⌊√N⌋ over
    // the embeddings table (size-derived on BOTH engines: Spark counts
    // the parquet, DuckDB's scalar subquery replays it) — a pinned |C|
    // makes cells grow linearly and the in-cell pair join quadratic
    // (the ~20×-at-10×-data row this replaced on the sf1 curve).
    // Assignment routes through |S| = ⌊√|C|⌋ head supers and the
    // in-cell pair join is OR-confined to two 2-plane sign-LSH bands —
    // the same two shape fixes as q_semantic_dedup_scaled, so the
    // chain's semantic tier carries the full production recipe (flat
    // assignment was N·√N dots and the unconfined in-cell term N^1.5
    // rows — the board's worst sf1 scale row before this).
    val nSemCents = math.max(1L, math.floor(math.sqrt(emb.count().toDouble)).toLong)
    val nSemSupers = math.max(1L, math.floor(math.sqrt(nSemCents.toDouble)).toLong)
    val cents = emb.filter(col("vec_id") < nSemCents)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    // ONE collect for both bands' planes (r19): the two semPlanesIn
    // calls each ran their own filter+sort+collect job over the
    // embeddings — the four plane rows come back in one job and slice
    // driver-side into the same two 2-plane bands
    val semPlanes = emb
      .filter(col("vec_id") >= 0 && col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq
    val semDrops = SemanticDedup.dedup(
        surv.join(vecs.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
          .select(col("doc_id"), col("embedding")),
        "doc_id", "embedding", cents, "centroid_id", "cvec", tau = 0.9,
        nSupers = nSemSupers.toInt,
        bands = Seq(semPlanes.take(2), semPlanes.drop(2)))
      .filter(!col("is_kept")).select("doc_id")
    val kept = surv.join(semDrops, Seq("doc_id"), "left_anti")
    CurationStages(all, gated, exactDeduped, surv, kept)
  }

  // Shared CTE chain for the q_importance_weights / q_select_pack
  // oracles: per-doc mean log-prob under the lang='en' TARGET unigram
  // model (t*) and the corpus model (c*), joined as `j`.
  private val dImportanceCte: String = {
    def score(vocabSrc: String, alias: String) =
      s"""${alias}v AS (SELECT tok, count(*) AS cnt
         |  FROM (SELECT unnest($W) AS tok FROM documents $vocabSrc)
         |  GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 32),
         |${alias}s AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n,
         |              CAST(count(*) + 1 AS DOUBLE) AS v1 FROM ${alias}v),
         |${alias}g AS (
         |  SELECT doc_id,
         |         list_sort(list(struct_pack(tok := dt.tok, dcnt := dcnt,
         |           lp := ln((CAST(COALESCE(v.cnt, 0) AS DOUBLE) + 1.0) / (s.n + s.v1))))) AS terms,
         |         sum(dcnt) AS nt
         |  FROM dt LEFT JOIN ${alias}v v ON dt.tok = v.tok, ${alias}s s
         |  GROUP BY doc_id)""".stripMargin
    def fold(rel: String) =
      s"round(list_sum(list_transform($rel.terms, e -> CAST(e.dcnt AS DOUBLE) * e.lp))" +
        s" / CAST($rel.nt AS DOUBLE) + 1.2345e-9, 6)"
    s"""WITH toks AS (SELECT doc_id, unnest($W) AS tok FROM documents),
       |dt AS (SELECT doc_id, tok, count(*) AS dcnt FROM toks GROUP BY 1, 2),
       |${score("WHERE lang = 'en'", "t")},
       |${score("", "c")},
       |j AS (
       |  SELECT tg.doc_id, CAST(tg.nt AS BIGINT) AS n_tokens,
       |         ${fold("tg")} AS target_lp,
       |         ${fold("cg")} AS corpus_lp
       |  FROM tg JOIN cg ON tg.doc_id = cg.doc_id)""".stripMargin
  }

  // Shared CTE chain (t → surv) of the curation oracles: quality gate
  // → exact dedup → MinHash banding drops, over `src`(doc_id, text).
  // Reuses the exact scoring / fingerprint / banding fragments of
  // q_lang_quality, q_dedup_exact and q_minhash_pairs.
  private def dCurationSurv(src: String): String = {
    val langs = TextAnalysis.StopwordProfiles.map(_._1)
    val hits = TextAnalysis.StopwordProfiles
      .map { case (lang, words) => s"${dStopHits("w", words)} AS h_$lang" }
      .mkString(",\n              ")
    val best = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
    val caseChain = langs.map(l => s"WHEN h_$l = best THEN '$l'").mkString(" ")
    val punct = "(CASE WHEN length(tc) = 0 THEN 0.0 " +
      "ELSE CAST(length(regexp_replace(tc, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(tc) END)"
    val mtl = "(CASE WHEN len(w) = 0 THEN 0.0 " +
      "ELSE CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) END)"
    val quality = s"round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.4 + " +
      s"greatest(1.0 - $punct * 5.0, 0.0) * 0.3 + " +
      s"least($mtl / 8.0, 1.0) * 0.3 + 1.2345e-9, 6)"
    val sigCols = (0 until 8)
      .map(k => s"list_min(list_transform(sh, x -> md5('$k|' || x))) AS sig_$k")
      .mkString(", ")
    val bandRows = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band_id, md5(sig_${2 * b} || '#' || sig_${2 * b + 1}) AS bucket FROM sigs")
      .mkString("\n  UNION ALL ")
    s"""t AS (SELECT doc_id, text, trim(replace(text, chr(10), ' ')) AS tc, $W AS w FROM $src),
       |s AS (
       |  SELECT doc_id, w,
       |         CASE WHEN best <= 0 THEN 'und' $caseChain ELSE 'und' END AS lang_pred,
       |         $quality AS quality,
       |         len(w) AS n_tokens,
       |         md5(tc) AS fp
       |  FROM (SELECT *,
       |              $hits,
       |              $best AS best
       |        FROM t) x
       |),
       |g AS (SELECT * FROM s WHERE quality >= 0.5 AND n_tokens >= 20),
       |k AS (SELECT fp, min(doc_id) AS doc_id FROM g GROUP BY fp),
       |e AS (SELECT g.* FROM g JOIN k ON g.fp = k.fp AND g.doc_id = k.doc_id),
       |d3 AS (SELECT doc_id, ${dShingleSet("w", 3)} AS sh FROM e),
       |sigs AS (SELECT doc_id, $sigCols FROM d3 WHERE len(sh) > 0),
       |bands AS (
       |  $bandRows
       |),
       |drops AS (
       |  SELECT DISTINCT b.doc_id FROM bands a
       |  JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |),
       |surv AS (SELECT * FROM e WHERE doc_id NOT IN (SELECT doc_id FROM drops))""".stripMargin
  }
  private val dCurationStats =
    """SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |       min(quality) AS min_quality, max(quality) AS max_quality""".stripMargin
  // The semantic-tier extension: planted-paraphrase input, the shared
  // t → surv chain, then SemDeDup over survivors that HAVE an
  // embedding row (vectorless pass through) at the PRODUCTION recipe —
  // the SAME shared CTE blocks the scaled-dedup oracles use
  // (semanticHierHeadCtes: size-derived c/sup + routing + band
  // planes; semanticHierAssignCtes: two-level argmax + bucket folds,
  // keyed here by doc_id), so the recipe replay cannot drift between
  // the curation chain and the standalone queries.
  private val dCurationSemanticCtes: String =
    s"""docs0 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000 AS doc_id,
       |         array_to_string(list_reverse(${dTokens("text")}), ' ') AS text
       |  FROM documents WHERE doc_id < 10
       |),
       |${dCurationSurv("docs0")},
       |emb AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10
       |),
       |$semanticHierHeadCtes,
       |sv AS (SELECT surv.doc_id, emb.embedding FROM surv JOIN emb ON surv.doc_id = emb.vec_id),
       |${semanticHierAssignCtes("sv", "asgB", "doc_id")},
       |sdrops AS (
       |  SELECT DISTINCT y.doc_id FROM asgB y
       |  JOIN asgB x ON y.cell_id = x.cell_id AND x.doc_id < y.doc_id
       |   AND (x.lb0 = y.lb0 OR x.lb1 = y.lb1)
       |  WHERE ${dCosine("x.embedding", "y.embedding")} >= 0.9
       |),
       |kept AS (SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM sdrops))""".stripMargin

  val all: Seq[Q] = Seq(

    // North star: the full corpus-curation pipeline every training-data
    // job runs, chained as ONE declarative plan — quality gate → exact
    // dedup (keep lowest id per fingerprint) → MinHash-banding near-dup
    // removal (drop the higher id of each candidate pair) → per-language
    // corpus stats. Each stage is an operator oracle-checked in
    // isolation elsewhere; this checks the composition. Aggregates are
    // order-independent (count / integer sum / min / max) so the output
    // is stable under any partitioning.
    Q("q_curation", (s, dir) => {
      val scored = wide(s, dir, "documents").select(
        col("doc_id"), col("text"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.contentFingerprint(col("text")).as("fp"))
      // both the keep-set aggregate and the join re-read the gated rows,
      // and the anti-join re-reads the deduped rows: materialize each
      // once instead of re-running the scoring expressions per branch
      val gated = graft.Materialize(
        scored.filter(col("quality") >= 0.5 && col("n_tokens") >= 20))
      val keep = gated.groupBy("fp").agg(min("doc_id").as("doc_id"))
      val exactDeduped = graft.Materialize(gated.join(keep, Seq("fp", "doc_id")))
      val dropIds = Dedup.minhashCandidates(
          exactDeduped.select("doc_id", "text"),
          "doc_id", "text", shingleN = 3, numHashes = 8, bands = 4)
        .select(col("id_b").as("doc_id")).distinct()
      exactDeduped.join(dropIds, Seq("doc_id"), "left_anti")
        .groupBy("lang_pred")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_tokens").cast("long").as("total_tokens"),
          min("quality").as("min_quality"),
          max("quality").as("max_quality"))
        .orderBy("lang_pred")
    }, oracle =
      // Curation pipeline: stage-by-stage CTE mirror of the engine's
      // chained plan.
      s"""WITH ${dCurationSurv("documents")}
         |$dCurationStats
         |FROM surv GROUP BY lang_pred ORDER BY lang_pred""".stripMargin),

    // q_curation extended with the SEMANTIC tier — the full four-stage
    // production chain: quality gate → exact dedup → MinHash near-dup →
    // SemDeDup over the survivors' embeddings. Planted paraphrase
    // stand-ins (word-REVERSED text of docs 0-9 at +10000, carrying the
    // ORIGINAL embedding) slip through the first three tiers — new
    // fingerprint, new shingles — and only the vector tier catches
    // them, so the composition is live, not a no-op pass-through. Docs
    // without an embedding row (sf0.1 has 5000 docs, 2000 vectors) skip
    // the semantic tier and pass through kept: a tier can only judge
    // what it can see, and rows must never vanish.
    Q("q_curation_semantic", (s, dir) => {
      val st = curationSemanticStages(s, dir)
      st.kept
        .groupBy("lang_pred")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_tokens").cast("long").as("total_tokens"),
          min("quality").as("min_quality"),
          max("quality").as("max_quality"))
        .orderBy("lang_pred")
    }, oracle =
      // Curation + the SEMANTIC tier: same chain over documents plus the
      // word-reversed planted paraphrases (+10000, original embedding),
      // then SemDeDup's assignment + lower-id tau-drop over survivors
      // that HAVE an embedding row; vectorless survivors pass through.
      s"""WITH $dCurationSemanticCtes
         |$dCurationStats
         |FROM kept GROUP BY lang_pred ORDER BY lang_pred""".stripMargin),

    // Per-tier drop accounting for the same four-stage chain — the
    // audit every curation run ships alongside its output: how many
    // docs entered, and how many each tier admitted. Monotone
    // non-increasing by construction; the gap between stages IS the
    // tier's drop count, so a silently dead tier (e.g. a drifted
    // codebook assigning nothing) is visible as a zero gap where the
    // planted rows guarantee a nonzero one.
    Q("q_curation_report", (s, dir) => {
      import s.implicits._
      val st = curationSemanticStages(s, dir)
      Seq((1L, "input", st.all.count()),
          (2L, "quality_gate", st.gated.count()),
          (3L, "exact_dedup", st.exactDeduped.count()),
          (4L, "near_dedup", st.surv.count()),
          (5L, "semantic_dedup", st.kept.count()))
        .toDF("stage_no", "stage", "n_docs")
        .orderBy("stage_no")
    }, oracle =
      // Per-tier drop accounting over the same chain.
      s"""WITH $dCurationSemanticCtes
         |SELECT CAST(1 AS BIGINT) AS stage_no, 'input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM docs0
         |UNION ALL SELECT CAST(2 AS BIGINT), 'quality_gate', CAST(count(*) AS BIGINT) FROM g
         |UNION ALL SELECT CAST(3 AS BIGINT), 'exact_dedup', CAST(count(*) AS BIGINT) FROM e
         |UNION ALL SELECT CAST(4 AS BIGINT), 'near_dedup', CAST(count(*) AS BIGINT) FROM surv
         |UNION ALL SELECT CAST(5 AS BIGINT), 'semantic_dedup', CAST(count(*) AS BIGINT) FROM kept
         |ORDER BY stage_no""".stripMargin),

    // The SKETCH-TIER curation profile — the form of the report's
    // statistics that survives 100 TB: per-language distinct-content
    // estimates from a KMV bottom-64 over fingerprint HASHES (8-byte
    // rows through the shuffle, never the full-width fp groupBy the
    // exact dedup tier pays), and heavy-hitter token frequencies from
    // a 4×256 count-min grid (depth×width counters per task, never
    // |vocab|). Both sketches merge associatively, so the streaming
    // twins (StreamingSketch) accumulate the same numbers one batch at
    // a time. Estimates are deterministic md5 arithmetic — the oracle
    // replays them bit-for-bit, including any collision overcounts.
    // Input = the quality-gated corpus with the planted paraphrases,
    // the same gate stage the exact report audits.
    Q("q_curation_sketch", (s, dir) => {
      val docs = wide(s, dir, "documents")
      val planted = docs.filter(col("doc_id") < 10).select(
        (col("doc_id") + 10000).as("doc_id"),
        concat_ws(" ", reverse(tokens(col("text")))).as("text"))
      val all = docs.select("doc_id", "text").unionByName(planted)
      val scored = all.select(
        col("doc_id"), col("text"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.contentFingerprint(col("text")).as("fp"))
      val gated = graft.Materialize(
        scored.filter(col("quality") >= 0.5 && col("n_tokens") >= 20))
      // KMV: estimated distinct contents per language = what the exact
      // dedup tier would keep, without materializing the keep set
      val kmvRows = Sketch.kmvEstimate(
          Sketch.kmvPerGroup(gated, "lang_pred", "fp", k = 64), "lang_pred", k = 64)
        .select(lit("distinct_fp").as("metric"), col("lang_pred").as("grp"),
          stableRound(col("est_distinct")).as("est"))
      // count-min: frequency estimates for the top-10 gated tokens
      // (deterministic candidate set, vocabulary-bounded to derive)
      val toks = gated.select(explode(tokens(lower(col("text")))).as("tok"))
      val top = graft.Materialize(
        toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tok")).limit(10))
      val grid = Sketch.cmSketch(toks, "tok", depth = 4, width = 256)
      val cmRows = Sketch.cmEstimates(grid, top.select("tok"), "tok",
          depth = 4, width = 256)
        .select(lit("heavy_token").as("metric"), col("tok").as("grp"),
          stableRound(col("cm_est").cast("double")).as("est"))
      kmvRows.unionByName(cmRows).orderBy("metric", "grp")
    }, oracle =
      // Sketch-tier curation profile: the same planted-input gate stage
      // (docs0 → g), then the KMV bottom-64 replay over fingerprint
      // hashes per language and the count-min grid replay over gated
      // tokens for the exact top-10 probe set — all deterministic md5
      // arithmetic, so estimates (including collisions) hash-match.
      s"""WITH docs0 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000 AS doc_id,
         |         array_to_string(list_reverse(${dTokens("text")}), ' ') AS text
         |  FROM documents WHERE doc_id < 10
         |),
         |${dCurationSurv("docs0")},
         |fh AS (SELECT DISTINCT lang_pred, ${dMd5LongN("fp", 13)} AS h FROM g),
         |fr AS (SELECT lang_pred, h,
         |              row_number() OVER (PARTITION BY lang_pred ORDER BY h) AS rk
         |       FROM fh),
         |fk AS (SELECT lang_pred, count(*) AS n_kept, max(h) AS maxh
         |       FROM fr WHERE rk <= 64 GROUP BY lang_pred),
         |kmvrows AS (
         |  SELECT 'distinct_fp' AS metric, lang_pred AS grp,
         |         round((CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
         |                ELSE 63.0 / (CAST(maxh AS DOUBLE) / 4503599627370496.0) END)
         |               + 1.2345e-9, 6) AS est
         |  FROM fk),
         |gt AS (SELECT unnest(w) AS tok FROM g),
         |ge AS (SELECT tok, count(*) AS cnt FROM gt GROUP BY 1),
         |gtop AS (SELECT tok FROM ge ORDER BY cnt DESC, tok LIMIT 10),
         |grb AS (SELECT j, ${dMd5LongN("CAST(j AS VARCHAR) || '|' || tok", 15)} % 256 AS bucket
         |        FROM gt CROSS JOIN range(4) AS r(j)),
         |gg AS (SELECT j, bucket, count(*) AS cnt FROM grb GROUP BY 1, 2),
         |gpb AS (SELECT gtop.tok, r.j,
         |               ${dMd5LongN("CAST(r.j AS VARCHAR) || '|' || gtop.tok", 15)} % 256 AS bucket
         |        FROM gtop CROSS JOIN range(4) AS r(j)),
         |cmrows AS (
         |  SELECT 'heavy_token' AS metric, gpb.tok AS grp,
         |         round(CAST(min(COALESCE(gg.cnt, 0)) AS DOUBLE) + 1.2345e-9, 6) AS est
         |  FROM gpb LEFT JOIN gg ON gpb.j = gg.j AND gpb.bucket = gg.bucket
         |  GROUP BY 1, 2)
         |SELECT metric, grp, est FROM kmvrows
         |UNION ALL SELECT metric, grp, est FROM cmrows
         |ORDER BY metric, grp""".stripMargin),

    // Data mixing: per-source hash-sampling rates. The keep decision is
    // an md5-derived uniform per doc id — reproducible across engines,
    // partitionings and reruns (rand(seed) is none of those), which is
    // why the oracle can replay it exactly.
    Q("q_mix_sample", (s, dir) => {
      Sampling.stratifiedHashSample(
          t(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }, oracle = {
      // Mirrors Sampling.uniformByHash: value of the first 4 md5 hex
      // chars / 65536 — the engine's md5-hex discipline, replayed in SQL.
      def h(i: Int) = dHexVal(s"substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)")
      s"""WITH u AS (
         |  SELECT doc_id, source,
         |         (((${h(1)} * 16 + ${h(2)}) * 16 + ${h(3)}) * 16 + ${h(4)}) / 65536.0 AS u
         |  FROM documents
         |)
         |SELECT source, count(*) AS n_kept
         |FROM u
         |WHERE u < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |                      WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1
         |                      ELSE 0.0 END
         |GROUP BY source ORDER BY source""".stripMargin
    }),

    // Deterministic epoch shuffle: every doc lands in exactly one of 8
    // shards with a dense in-shard position — the reproducible
    // training-order permutation (salt varies per epoch).
    Q("q_shuffle_shards", (s, dir) => {
      Sampling.shuffleShards(
          t(s, dir, "documents").select("doc_id"), "doc_id", nShards = 8, salt = "ep0")
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    }, oracle = {
      // Epoch shuffle: shard = 16-bit md5 bucket of 'ep0'||id mod 8,
      // pos = rank within shard by (full md5 hex, id).
      def h(i: Int) = dHexVal(s"substr(hx, $i, 1)")
      s"""WITH t AS (
         |  SELECT doc_id, md5('ep0' || CAST(doc_id AS VARCHAR)) AS hx FROM documents
         |),
         |s AS (
         |  SELECT doc_id, hx,
         |         CAST((((${h(1)} * 16 + ${h(2)}) * 16 + ${h(3)}) * 16 + ${h(4)}) % 8 AS BIGINT) AS shard
         |  FROM t
         |)
         |SELECT doc_id, shard,
         |       row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS pos
         |FROM s ORDER BY shard, pos""".stripMargin
    }),

    // Temperature mixing: budget-40 α=0.5 allocation across sources,
    // each source's quota filled by its lowest-md5-uniform docs (ties
    // by id). Output = the SELECTED documents, so the oracle gates
    // membership, not just per-source counts.
    Q("q_temperature_mix", (s, dir) => {
      Sampling.temperatureMix(
          t(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source", budget = 40L, alpha = 0.5)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    }, oracle = {
      // Targets: floor((budget · √n_i) / Σ√n_j) with the total folded
      // over the SORTED weight list (portable float order, the
      // q_entropy trick); quota filled by (md5-uniform, doc_id) rank.
      def h(i: Int) = dHexVal(s"substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)")
      s"""WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         |w AS (SELECT source, sqrt(CAST(n AS DOUBLE)) AS w FROM n),
         |tot AS (SELECT list_sum(list_sort(list(w))) AS t FROM w),
         |tgt AS (SELECT source, CAST(floor((40.0 * w) / t) AS BIGINT) AS target
         |        FROM w, tot),
         |u AS (
         |  SELECT doc_id, source,
         |         (((${h(1)} * 16 + ${h(2)}) * 16 + ${h(3)}) * 16 + ${h(4)}) / 65536.0 AS u
         |  FROM documents
         |),
         |r AS (
         |  SELECT doc_id, source,
         |         row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rk
         |  FROM u
         |)
         |SELECT r.doc_id, r.source
         |FROM r JOIN tgt ON r.source = tgt.source
         |WHERE r.rk <= tgt.target
         |ORDER BY r.source, r.doc_id""".stripMargin
    }),

    // Leakage-proof split: near-dup clusters (same MinHash-LSH pairs as
    // q_dedup_clusters) split as UNITS — the md5-uniform is taken over
    // the cluster id, so a val doc can never have a train near-dup.
    Q("q_split_leakproof", (s, dir) => {
      val docs = wide(s, dir, "documents").select("doc_id", "text")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 4)
      Sampling.leakproofSplit(docs.select("doc_id"), "doc_id", pairs,
          valFraction = 0.2)
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy("doc_id")
    }, oracle = {
      // Same connected components as q_dedup_clusters, then the split
      // is the md5-uniform of the CLUSTER id — cluster members land
      // together by construction.
      val sigCols = (0 until 8)
        .map(k => s"list_min(list_transform(sh, x -> md5('$k|' || x))) AS sig_$k")
        .mkString(", ")
      val bandRows = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band_id, md5(sig_${2 * b} || '#' || sig_${2 * b + 1}) AS bucket FROM sigs")
        .mkString("\n  UNION ALL ")
      def h(i: Int) = dHexVal(s"substr(md5(CAST(cluster_id AS VARCHAR)), $i, 1)")
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
         |cl AS (SELECT src AS doc_id, min(dst) AS mr FROM reach GROUP BY src),
         |x AS (
         |  SELECT d.doc_id,
         |         least(d.doc_id, coalesce(cl.mr, d.doc_id)) AS cluster_id
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |)
         |SELECT doc_id, cluster_id,
         |       CASE WHEN (((${h(1)} * 16 + ${h(2)}) * 16 + ${h(3)}) * 16 + ${h(4)}) / 65536.0 < 0.2
         |            THEN 'val' ELSE 'train' END AS split
         |FROM x ORDER BY doc_id""".stripMargin
    }),

    // Shard packing: greedy token-budget layout per source in doc_id
    // order (shard = floor(tokens-before / budget)).
    Q("q_pack_shards", (s, dir) => {
      val docs = wide(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.packShards(docs, "source", "doc_id", "n_tokens", 2000L)
        .groupBy("source", "shard_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy("source", "shard_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, source, len($W) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM t)
         |SELECT source, CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id,
         |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM c GROUP BY source, shard_id ORDER BY source, shard_id""".stripMargin),

    // North star: fixed-length sequence packing — the LM dataloader
    // layout (concat docs per source in id order, cut every 1000
    // "tokens" — n_chars stands in — docs straddle cuts). Output rows
    // are (doc × overlapped sequence) spans with in-sequence and
    // in-doc positions.
    Q("q_pack_sequences", (s, dir) => {
      Sampling.packSequences(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "doc_id", "n_chars", seqLen = 1000L)
        .select(col("source"), col("doc_id"), col("seq_id"),
          col("tok_begin"), col("tok_end"), col("doc_tok_begin"))
        .orderBy("source", "doc_id", "seq_id")
    }, oracle =
      """WITH t AS (
        |  SELECT source, doc_id, n_chars,
        |         CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM documents WHERE n_chars > 0
        |),
        |o AS (SELECT source, doc_id, n_chars, cum, cum - n_chars AS off FROM t),
        |x AS (
        |  SELECT source, doc_id, s AS seq_id, off, cum, s * 1000 AS sbase
        |  FROM o, unnest(range(off // 1000, (cum - 1) // 1000 + 1)) AS r(s)
        |)
        |SELECT source, doc_id, seq_id,
        |       greatest(off, sbase) - sbase AS tok_begin,
        |       least(cum, sbase + 1000) - sbase AS tok_end,
        |       greatest(off, sbase) - off AS doc_tok_begin
        |FROM x ORDER BY source, doc_id, seq_id""".stripMargin),

    // North star: DSIR-style importance weights — docs scored under a
    // TARGET unigram model (lang='en' slice) minus the corpus model.
    // Positive weight = looks more like the target than the crawl.
    Q("q_importance_weights", (s, dir) => {
      val docs = wide(s, dir, "documents")
      TextAnalysis.importanceWeights(docs, "doc_id", "text",
          target = docs.filter(col("lang") === "en"), vocabSize = 32)
        .orderBy("doc_id")
    }, oracle =
      s"""$dImportanceCte
         |SELECT doc_id, n_tokens, target_lp, corpus_lp,
         |       round(target_lp - corpus_lp + 1.2345e-9, 6) AS weight
         |FROM j ORDER BY doc_id""".stripMargin),

    // Selection → packing composition: the data-selection output feeds
    // the dataloader layout in ONE declarative plan — importance gate,
    // then per-source fixed-length sequence stats over the kept docs.
    Q("q_select_pack", (s, dir) => {
      val docs = wide(s, dir, "documents")
      val kept = TextAnalysis.importanceWeights(docs, "doc_id", "text",
          target = docs.filter(col("lang") === "en"), vocabSize = 32)
        .filter(col("weight") > 0)
        .select("doc_id")
        .join(t(s, dir, "documents").select("doc_id", "source", "n_chars"), "doc_id")
      Sampling.packSequences(kept, "source", "doc_id", "n_chars", seqLen = 1000L)
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          (max(col("seq_id")) + 1).as("n_sequences"),
          sum(col("tok_end") - col("tok_begin")).as("total_tokens"))
        .orderBy("source")
    }, oracle =
      // Selection → packing composition: keep docs the importance model
      // prefers (weight > 0), then the per-source sequence layout
      // reduces to closed-form aggregates (SamplingSpec proves the span
      // algebra: Σ spans = Σ tokens, max seq = (T-1) div L).
      s"""$dImportanceCte,
         |kept AS (
         |  SELECT d.source, d.n_chars
         |  FROM j JOIN documents d ON j.doc_id = d.doc_id
         |  WHERE round(target_lp - corpus_lp + 1.2345e-9, 6) > 0
         |)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST((CAST(sum(n_chars) AS BIGINT) - 1) // 1000 + 1 AS BIGINT) AS n_sequences,
         |       CAST(sum(n_chars) AS BIGINT) AS total_tokens
         |FROM kept GROUP BY source ORDER BY source""".stripMargin),
  )
}
