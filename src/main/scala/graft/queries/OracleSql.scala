package graft
package queries

import graft.queries.QueryHelpers.RagQueryText

/** DuckDB SQL shared by the domain query files' oracles: the token,
  * vector and md5 mirrors of the Spark functions, and the CTE builders
  * that replay the BM25, hybrid, embedding, ANN, graph-walk, semantic
  * dedup, PQ and flagship retrieval chains. */
object OracleSql {

  /** DuckDB: tokens of cleaned text (mirror of TextFunctions.tokens,
    * INCLUDING the blank-text guard: Spark's tokens() returns an empty
    * array for whitespace-only text, but string_split_regex('') would
    * return [''] — one phantom token). */
  private[queries] def dTokens(texpr: String) =
    s"(CASE WHEN trim(replace($texpr, chr(10), ' ')) = '' THEN CAST([] AS VARCHAR[]) " +
      s"ELSE string_split_regex(trim(replace($texpr, chr(10), ' ')), '\\s+') END)"

  /** DuckDB: dot product of two float lists in Double, left fold order. */
  private[queries] def dDot(a: String, b: String, dim: Int = Schemas.EmbeddingDim) =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private[queries] def dNorm(a: String, dim: Int = Schemas.EmbeddingDim) =
    s"sqrt(${dDot(a, a, dim)})"

  /** DuckDB: cosine with the reference's zero-norm guard. */
  private[queries] def dCosine(a: String, b: String, dim: Int = Schemas.EmbeddingDim) =
    s"(CASE WHEN ${dNorm(a, dim)} = 0 OR ${dNorm(b, dim)} = 0 THEN 0.0 " +
      s"ELSE ${dDot(a, b, dim)} / (${dNorm(a, dim)} * ${dNorm(b, dim)}) END)"

  /** DuckDB: hex char value (mirror of TextFunctions.hexCharVal). */
  private[queries] def dHexVal(c: String) = s"(strpos('0123456789abcdef', $c) - 1)"

  /** DuckDB: md5-derived bucket/sign (mirror of TextFunctions). */
  private[queries] def dMd5Bucket(e: String, n: Int) =
    s"((${dHexVal(s"substr(md5($e), 1, 1)")} * 16 + ${dHexVal(s"substr(md5($e), 2, 1)")}) % $n)"
  private[queries] def dMd5Sign(e: String) =
    s"(CASE WHEN ${dHexVal(s"substr(md5($e), 3, 1)")} % 2 = 0 THEN 1.0 ELSE -1.0 END)"

  /** DuckDB: the 60-bit md5-prefix row id of [[GraphIndex.uidFor]] —
    * big-endian fold of the first 15 md5 hex chars into a BIGINT
    * (mirrors Spark's conv(substring(md5(e),1,15),16,10)). */
  private[queries] def dMd5Long(e: String): String = dMd5LongN(e, 15)

  /** DuckDB: big-endian fold of the first `n` md5 hex chars into a
    * BIGINT (mirror of Spark's conv(substring(md5(e),1,n),16,10) —
    * n=15 for 60-bit bucket hashes, n=13 for the KMV 52-bit hash whose
    * values must be exact in a double). */
  private[queries] def dMd5LongN(e: String, n: Int): String =
    (1 to n).map(i => dHexVal(s"substr(md5($e), $i, 1)"))
      .foldLeft("CAST(0 AS BIGINT)")((acc, h) => s"($acc * 16 + $h)")

  /** DuckDB: distinct word n-gram shingle set over a token list. */
  /** Mirrors TextFunctions.shingleSet INCLUDING the empty-token guard:
    * without it, list_transform over greatest(...,1) yields [NULL] for a
    * blank doc where Spark yields []. */
  private[queries] def dShingleSet(words: String, n: Int) =
    s"(CASE WHEN len($words) = 0 THEN CAST([] AS VARCHAR[]) " +
      s"ELSE list_distinct(list_transform(range(1, greatest(len($words) - ${n - 1}, 1) + 1), " +
      s"i -> array_to_string(list_slice($words, i, i + ${n - 1}), ' '))) END)"

  /** DuckDB: the BM25 CTE block over `documents` for [[RagQueryText]],
    * ending at bm(doc_id, score). `tail` is either the final SELECT or
    * further CTEs (comma added automatically). Mirrors
    * [[Retrieval.bm25]]'s association order exactly: exact-long (N,
    * Σdl), one-division avgdl, term-ordered per-doc sum; the folded
    * constants ((k1+1), (1−b)) print as shortest-round-trip doubles, so
    * both engines parse the identical values. */
  private[queries] def dBm25Query(tail: String, k1: Double = 1.2, b: Double = 0.75,
                         docPred: String = "TRUE"): String = {
    // alnum-normalized terms, mirroring Retrieval.bm25 / alnumTokens
    val terms = RagQueryText.toLowerCase.trim.split("\\s+")
      .map(_.replaceAll("[^a-z0-9]", "")).filter(_.nonEmpty).distinct
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val sep = if (tail.trim.toUpperCase.startsWith("SELECT")) "\n" else ",\n"
    s"""WITH t AS (SELECT doc_id, ${dTokens("lower(text)")} AS w FROM documents WHERE $docPred),
       |ta AS (
       |  SELECT doc_id,
       |         list_filter(list_transform(w, x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
       |                     x -> len(x) > 0) AS w
       |  FROM t
       |),
       |dl AS (SELECT doc_id, len(w) AS dl FROM ta),
       |st AS (SELECT count(*) AS N, sum(dl) AS sumdl FROM dl),
       |tf AS (
       |  SELECT doc_id, tok AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(w) AS tok FROM ta)
       |  WHERE tok IN ($inList)
       |  GROUP BY doc_id, tok
       |),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (
       |  SELECT tf.doc_id, tf.term,
       |         ln(1.0 + (st.N - dfq.df + 0.5) / (dfq.df + 0.5)) *
       |         (tf.tf * ${k1 + 1.0}) /
       |         (tf.tf + $k1 * (${1.0 - b} + $b * dl.dl / (CAST(st.sumdl AS DOUBLE) / st.N))) AS s
       |  FROM tf
       |  JOIN dfq ON tf.term = dfq.term
       |  JOIN dl ON tf.doc_id = dl.doc_id, st
       |),
       |bm AS (SELECT doc_id, list_sum(list(s ORDER BY term)) AS score FROM sc GROUP BY doc_id)""".stripMargin +
      sep + tail
  }

  /** DuckDB: the hybrid-retrieval fusion chain shared by q_hybrid_rrf /
    * q_hybrid_rerank — BM25 top-20 + doc-embedding cosine top-20, RRF
    * fused, ending at f(doc_id, rank_a, rank_b, rrf). `tail` is the
    * final SELECT or further CTEs (comma added automatically). */
  private[queries] def dHybridFusedSql(tail: String): String = {
    val embedVec =
      s"""list_transform(range(0, ${Schemas.EmbeddingDim}), j ->
         |        coalesce(list_sum(list_transform(pr, e -> CASE WHEN e.b = j THEN e.s ELSE 0.0 END)), 0.0))""".stripMargin
    val sep = if (tail.trim.toUpperCase.startsWith("SELECT")) "\n" else ",\n"
    dBm25Query(
      s"""bm20 AS (
         |  SELECT doc_id, round(score + 1.2345e-9, 6) AS score
         |  FROM bm ORDER BY score DESC, doc_id LIMIT 20
         |),
         |dp AS (SELECT doc_id, list_transform(w, x ->
         |         struct_pack(b := ${dMd5Bucket("x", Schemas.EmbeddingDim)},
         |                     s := ${dMd5Sign("x")})) AS pr FROM t),
         |dv AS (SELECT doc_id, $embedVec AS vec FROM dp),
         |dn AS (SELECT doc_id,
         |         list_transform(vec, x -> x / (sqrt(list_sum(list_transform(vec, y -> y * y))) + 1e-9)) AS nv
         |       FROM dv),
         |qt AS (SELECT ${dTokens(s"lower('$RagQueryText')")} AS toks),
         |qp AS (SELECT list_transform(toks, x ->
         |         struct_pack(b := ${dMd5Bucket("x", Schemas.EmbeddingDim)},
         |                     s := ${dMd5Sign("x")})) AS pr FROM qt),
         |qv AS (SELECT $embedVec AS vec FROM qp),
         |qn AS (SELECT list_transform(vec, x -> x / (sqrt(list_sum(list_transform(vec, y -> y * y))) + 1e-9)) AS nv
         |       FROM qv),
         |cs AS (SELECT dn.doc_id, round(${dCosine("dn.nv", "q.nv")} + 1.2345e-9, 6) AS score
         |       FROM dn, qn q),
         |cb20 AS (SELECT doc_id, score FROM cs ORDER BY score DESC, doc_id LIMIT 20),
         |ra AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a FROM bm20),
         |rb AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_b FROM cb20),
         |f AS (
         |  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         |         CAST(ra.rank_a AS BIGINT) AS rank_a,
         |         CAST(rb.rank_b AS BIGINT) AS rank_b,
         |         coalesce(1.0 / (60 + ra.rank_a), 0) + coalesce(1.0 / (60 + rb.rank_b), 0) AS rrf
         |  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
         |)""".stripMargin + sep + tail)
  }

  private[queries] def dStopHits(words: String, list: Seq[String]) =
    s"len(list_filter($words, w -> list_contains([${list.map(w => s"'$w'").mkString(", ")}], w)))"

  /** DuckDB: majority-vote md5 SimHash over a token list — the single
    * mirror of `Dedup.simhash` shared by every simhash oracle. */
  private[queries] def dSimhash(words: String, bits: Int) =
    s"""CAST(list_sum(list_transform(range(0, $bits), j ->
       |    CASE WHEN list_sum(list_transform($words, x ->
       |      2 * (CAST(floor(${dHexVal("substr(md5(x), CAST(j // 4 AS INT) + 1, 1)")} / pow(2, 3 - (j % 4))) AS INT) % 2) - 1
       |    )) > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END
       |  )) AS BIGINT)""".stripMargin

  /** DuckDB: the hashed-BoW embedding CTE chain shared by q_embed_doc /
    * q_embed_batched — doc_id + normalized components e0..e3, plus the
    * pre-normalization norm when `withNorm`. */
  private[queries] def dEmbedOracle(withNorm: Boolean, W: String): String = {
    val normCol = if (withNorm) " round(nrm + 1.2345e-9, 6) AS norm," else ""
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
       |p AS (SELECT doc_id, list_transform(w, x ->
       |        struct_pack(b := ${dMd5Bucket("x", Schemas.EmbeddingDim)},
       |                    s := ${dMd5Sign("x")})) AS pr FROM t),
       |v AS (SELECT doc_id, list_transform(range(0, ${Schemas.EmbeddingDim}), j ->
       |        coalesce(list_sum(list_transform(pr, e -> CASE WHEN e.b = j THEN e.s ELSE 0.0 END)), 0.0)) AS vec
       |      FROM p),
       |n AS (SELECT doc_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm FROM v)
       |SELECT doc_id,$normCol
       |       round(vec[1] / (nrm + 1e-9) + 1.2345e-9, 6) AS e0,
       |       round(vec[2] / (nrm + 1e-9) + 1.2345e-9, 6) AS e1,
       |       round(vec[3] / (nrm + 1e-9) + 1.2345e-9, 6) AS e2,
       |       round(vec[4] / (nrm + 1e-9) + 1.2345e-9, 6) AS e3
       |FROM n ORDER BY doc_id""".stripMargin
  }

  /** Shared by q_ann_ivf and q_ann_ivf_part: the partitioned store
    * changes only the physical layout, never the candidate set. */
  private[queries] def annIvfOracle: String =
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT vec_id, embedding, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
       |  FROM (SELECT e.vec_id, e.embedding, c.cid,
       |               ${dCosine("e.embedding", "c.cv")} AS csim
       |        FROM embeddings e, c)
       |),
       |cells AS (SELECT vec_id, embedding, cid AS cell_id FROM asg WHERE rn = 1),
       |probe AS (
       |  SELECT cid FROM c, q ORDER BY ${dCosine("c.cv", "q.qv")} DESC, cid LIMIT 2
       |),
       |scored AS (
       |  SELECT cells.vec_id, ${dCosine("cells.embedding", "q.qv")} AS sim
       |  FROM cells, q WHERE cells.cell_id IN (SELECT cid FROM probe)
       |)
       |SELECT vec_id, round(sim + 1.2345e-9, 6) AS sim
       |FROM scored ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin

  /** Shared by q_ann_graph / q_ann_graph_part / q_ann_graph_warm (store
    * layout / lookup medium change, the walk doesn't) and, filtered, by
    * the lifecycle queries: replay the exact beam walk — build the edge
    * set, score every node once (`sims`), then chain frontier (f) /
    * visited (v) CTEs per hop. `edgeCond` filters the edge set
    * (q_graph_compact replays PHYSICAL deletion — the walk itself
    * changes); `resultCond` filters the final visited set
    * (q_graph_delete replays MARK deletion — tombstoned nodes still
    * route, they just never surface). `edgesCtes`, when set, REPLACES
    * the `edges` CTE wholesale (still reading from `edges0`) — used by
    * q_graph_compact to replay the compaction's orphan re-anchoring on
    * top of the physical drop. */
  private[queries] def annGraphOracleWhere(edgeCond: String, resultCond: String,
                                  edgesCtes: Option[String] = None,
                                  centPred: String = "vec_id < 8",
                                  queryId: Long = 9,
                                  assignCtes: Option[String] = None,
                                  pairExtraCond: String = ""): String = {
    val edgeWhere = if (edgeCond.isEmpty) "" else s" WHERE $edgeCond"
    val edgesBlock = edgesCtes.getOrElse(
      s"edges AS (SELECT src, dst FROM edges0$edgeWhere)")
    val resultWhere = if (resultCond.isEmpty) "" else s" WHERE $resultCond"
    // the assignment block yields `cells(vec_id, embedding, cell_id)`;
    // overridable so the hierarchical (two-level) routing can replay
    // its own argmax chain while sharing the whole walk replay
    val assignBlock = assignCtes.getOrElse(
      s"""asg AS (
         |  SELECT vec_id, embedding, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
         |  FROM (SELECT e.vec_id, e.embedding, c.cid,
         |               ${dCosine("e.embedding", "c.cv")} AS csim
         |        FROM embeddings e, c)
         |),
         |cells AS (SELECT vec_id, embedding, cid AS cell_id FROM asg WHERE rn = 1)""".stripMargin)
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE $centPred),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $queryId),
       |$assignBlock,
       |pair AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |         row_number() OVER (PARTITION BY a.vec_id
       |           ORDER BY ${dCosine("a.embedding", "b.embedding")} DESC, b.vec_id) AS rn
       |  FROM cells a JOIN cells b
       |    ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id$pairExtraCond
       |),
       |edges0 AS (
       |  SELECT src, dst FROM pair WHERE rn <= 4
       |  UNION
       |  SELECT dst, src FROM pair WHERE rn <= 4
       |  UNION
       |  SELECT vec_id, cell_id FROM cells WHERE vec_id <> cell_id
       |  UNION
       |  SELECT c1.cid, c2.cid FROM c c1, c c2 WHERE c1.cid <> c2.cid
       |),
       |$edgesBlock,
       |sims AS (SELECT e.vec_id AS id, ${dCosine("e.embedding", "q.qv")} AS sim
       |         FROM embeddings e, q),
       |v0 AS (SELECT id, sim FROM sims WHERE id IN (SELECT cid FROM c)
       |       ORDER BY sim DESC, id LIMIT 4),
       |f0 AS (SELECT id FROM v0 ORDER BY sim DESC, id LIMIT 4),
       |v1 AS (SELECT id, sim FROM sims WHERE id IN (SELECT id FROM v0)
       |          OR id IN (SELECT dst FROM edges WHERE src IN (SELECT id FROM f0))),
       |f1 AS (SELECT id FROM v1 ORDER BY sim DESC, id LIMIT 4),
       |v2 AS (SELECT id, sim FROM sims WHERE id IN (SELECT id FROM v1)
       |          OR id IN (SELECT dst FROM edges WHERE src IN (SELECT id FROM f1))),
       |f2 AS (SELECT id FROM v2 ORDER BY sim DESC, id LIMIT 4),
       |v3 AS (SELECT id, sim FROM sims WHERE id IN (SELECT id FROM v2)
       |          OR id IN (SELECT dst FROM edges WHERE src IN (SELECT id FROM f2)))
       |SELECT id AS vec_id, round(sim + 1.2345e-9, 6) AS sim
       |FROM v3$resultWhere ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  private[queries] def annGraphOracle: String = annGraphOracleWhere("", "")

  /** The size-derived codebook cardinality ⌊√N⌋ as a DuckDB scalar
    * subquery — the oracle half of the production discipline (Spark
    * side: `floor(sqrt(e.count()))`). One SQL serves every SF. */
  private[queries] def scaledCentCount: String =
    "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"

  /** Centroid predicate for √N-codebook oracles: head-⌊√N⌋ vec_ids. */
  private[queries] def scaledCentPred: String = s"vec_id < $scaledCentCount"

  /** q_semantic_dedup / q_semantic_dedup_scaled: replay SemanticDedup
    * .dedup (nearest-centroid assignment, cell-confined lower-id
    * tau-pair argmin, left join back) for a head-`nCents` codebook —
    * the SAME SQL serves any |C|, which is what lets the scaled
    * (production-discipline) codebook be hash-gated too. */
  private[queries] def semanticDedupOracle(nCents: Int): String =
    s"""WITH all_v AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 100
       |),
       |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $nCents),
       |asg AS (
       |  SELECT vec_id, embedding, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
       |  FROM (SELECT v.vec_id, v.embedding, c.cid,
       |               ${dCosine("v.embedding", "c.cv")} AS csim
       |        FROM all_v v, c)
       |),
       |cells AS (SELECT vec_id, embedding, cid AS cell_id FROM asg WHERE rn = 1),
       |dups AS (
       |  SELECT x.vec_id, min(y.vec_id) AS dup_of
       |  FROM cells x JOIN cells y ON x.cell_id = y.cell_id AND y.vec_id < x.vec_id
       |  WHERE ${dCosine("x.embedding", "y.embedding")} >= 0.9
       |  GROUP BY 1
       |)
       |SELECT cells.vec_id, cells.cell_id, d.dup_of IS NULL AS is_kept, d.dup_of
       |FROM cells LEFT JOIN dups d ON cells.vec_id = d.vec_id
       |ORDER BY cells.vec_id""".stripMargin

  /** Shared hier-assignment + band-bucket CTE block for the scaled
    * semantic-dedup oracles: routes `srcCte`(idCol, embedding) through
    * the head-`nSupers` supers of the head-`nCents` codebook
    * (q_ann_graph_hier's two-level argmax replay), then folds the two
    * 2-plane sign-LSH bucket columns (q_ann_graph_banded's dDot CASE
    * sums over data-row planes 0-1 / 2-3). Emits `outCte` with
    * (idCol, embedding, cell_id, lb0, lb1); c/sup/pl0/pl1 CTEs are
    * emitted once by the caller via [[semanticHierHeadCtes]]. */
  private[queries] def semanticHierHeadCtes: String =
    s"""c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |      WHERE vec_id < greatest(1, (SELECT CAST(floor(sqrt(count(*))) AS BIGINT)
       |                                  FROM embeddings))),
       |sup AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings
       |        WHERE vec_id < greatest(1, (SELECT CAST(floor(sqrt(floor(sqrt(count(*))))) AS BIGINT)
       |                                    FROM embeddings))),
       |c2s AS (SELECT cid, sid FROM (
       |  SELECT c.cid, sup.sid,
       |         row_number() OVER (PARTITION BY c.cid
       |           ORDER BY ${dCosine("c.cv", "sup.sv")} DESC, sup.sid) AS rn
       |  FROM c, sup) WHERE rn = 1),
       |pl0 AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings WHERE vec_id < 2),
       |pl1 AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings
       |        WHERE vec_id >= 2 AND vec_id < 4)""".stripMargin

  private[queries] def semanticHierAssignCtes(srcCte: String, outCte: String,
                                     idCol: String = "vec_id"): String =
    s"""${srcCte}_v2s AS (SELECT $idCol, sid FROM (
       |  SELECT v.$idCol, sup.sid,
       |         row_number() OVER (PARTITION BY v.$idCol
       |           ORDER BY ${dCosine("v.embedding", "sup.sv")} DESC, sup.sid) AS rn
       |  FROM $srcCte v, sup) WHERE rn = 1),
       |${srcCte}_asg AS (
       |  SELECT $idCol, embedding, cid AS cell_id FROM (
       |    SELECT v.$idCol, v.embedding, c.cid,
       |           row_number() OVER (PARTITION BY v.$idCol
       |             ORDER BY ${dCosine("v.embedding", "c.cv")} DESC, c.cid) AS rn
       |    FROM $srcCte v
       |    JOIN ${srcCte}_v2s s ON v.$idCol = s.$idCol
       |    JOIN c2s ON c2s.sid = s.sid
       |    JOIN c ON c.cid = c2s.cid) x WHERE rn = 1
       |),
       |${srcCte}_b0 AS (
       |  SELECT a.$idCol, a.embedding, a.cell_id,
       |         CAST(sum(CASE WHEN ${dDot("a.embedding", "pl0.pv")} > 0
       |                       THEN CAST(pow(2, pl0.pid) AS BIGINT) ELSE 0 END) AS BIGINT) AS lb0
       |  FROM ${srcCte}_asg a, pl0 GROUP BY a.$idCol, a.embedding, a.cell_id
       |),
       |$outCte AS (
       |  SELECT b.$idCol, b.embedding, b.cell_id, b.lb0,
       |         CAST(sum(CASE WHEN ${dDot("b.embedding", "pl1.pv")} > 0
       |                       THEN CAST(pow(2, pl1.pid - 2) AS BIGINT) ELSE 0 END) AS BIGINT) AS lb1
       |  FROM ${srcCte}_b0 b, pl1 GROUP BY b.$idCol, b.embedding, b.cell_id, b.lb0
       |)""".stripMargin

  /** q_semantic_dedup_scaled: the production recipe — two-level
    * assignment through head supers + OR'd two-band confinement of the
    * lower-id tau-pair argmin — replayed end to end, so cell ids,
    * bucket bits, and dup_of all hash-check. */
  private[queries] def semanticDedupHierBandedOracle: String =
    s"""WITH all_v AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 100
       |),
       |$semanticHierHeadCtes,
       |${semanticHierAssignCtes("all_v", "cells")},
       |dups AS (
       |  SELECT x.vec_id, min(y.vec_id) AS dup_of
       |  FROM cells x JOIN cells y ON x.cell_id = y.cell_id AND y.vec_id < x.vec_id
       |   AND (x.lb0 = y.lb0 OR x.lb1 = y.lb1)
       |  WHERE ${dCosine("x.embedding", "y.embedding")} >= 0.9
       |  GROUP BY 1
       |)
       |SELECT cells.vec_id, cells.cell_id, d.dup_of IS NULL AS is_kept, d.dup_of
       |FROM cells LEFT JOIN dups d ON cells.vec_id = d.vec_id
       |ORDER BY cells.vec_id""".stripMargin

  /** Shared mixed-vector plant for the multi-probe oracles: doubles
    * everywhere, each planted element computed as a[i]*0.8 + b[i]*0.2
    * — the exact IEEE ops (same order) the Spark side's zip_with
    * lambda runs, so planted vectors are bitwise identical across
    * engines. */
  private[queries] def mixedPlantCtes: String =
    s"""bse AS (SELECT vec_id,
       |               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
       |        FROM embeddings),
       |all_v AS (
       |  SELECT vec_id, embedding FROM bse
       |  UNION ALL
       |  SELECT a.vec_id + 10000 AS vec_id,
       |         list_transform(range(1, ${Schemas.EmbeddingDim + 1}),
       |           i -> a.embedding[i] * CAST(0.8 AS DOUBLE)
       |              + b.embedding[i] * CAST(0.2 AS DOUBLE)) AS embedding
       |  FROM bse a JOIN bse b ON b.vec_id = a.vec_id + 100
       |  WHERE a.vec_id < 100
       |)""".stripMargin

  /** The multi-probe candidate + verdict tail shared by both probes
    * oracles: `prob` (each vector × its top-2 cells) joins `prim`
    * (primary cells only) — either direction — and every tau-hit is
    * normalized to (hi, lo), replaying SemanticDedup.dedup's
    * cellProbes > 1 rule exactly (min over the direction/probe-overlap
    * multiset = min over the set). */
  private[queries] def probesVerdictTail: String =
    s"""cand AS (
       |  SELECT CASE WHEN x.vec_id > y.vec_id THEN x.vec_id ELSE y.vec_id END AS hi,
       |         CASE WHEN x.vec_id > y.vec_id THEN y.vec_id ELSE x.vec_id END AS lo
       |  FROM prob x JOIN prim y ON x.cell_id = y.cell_id AND x.vec_id <> y.vec_id
       |  WHERE ${dCosine("x.embedding", "y.embedding")} >= 0.9
       |),
       |dups AS (SELECT hi AS vec_id, min(lo) AS dup_of FROM cand GROUP BY 1)
       |SELECT prim.vec_id, prim.cell_id, d.dup_of IS NULL AS is_kept, d.dup_of
       |FROM prim LEFT JOIN dups d ON prim.vec_id = d.vec_id
       |ORDER BY prim.vec_id""".stripMargin

  /** q_semantic_dedup_probes: flat head-8 codebook, every vector's
    * top-2 cells as one windowed rank (rn <= 2 where the flat oracle
    * keeps rn = 1). */
  private[queries] def semanticDedupProbesOracle: String =
    s"""WITH $mixedPlantCtes,
       |c AS (SELECT vec_id AS cid, embedding AS cv FROM bse WHERE vec_id < 8),
       |asg AS (
       |  SELECT vec_id, embedding, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
       |  FROM (SELECT v.vec_id, v.embedding, c.cid,
       |               ${dCosine("v.embedding", "c.cv")} AS csim
       |        FROM all_v v, c)
       |),
       |prim AS (SELECT vec_id, embedding, cid AS cell_id FROM asg WHERE rn = 1),
       |prob AS (SELECT vec_id, embedding, cid AS cell_id FROM asg WHERE rn <= 2),
       |$probesVerdictTail""".stripMargin

  /** q_semantic_dedup_margin_derived: the probes oracle with the
    * margin DERIVED in-query — gap = topsim − the rn-2 csim per
    * vector, margin = quantile_cont(gaps, 0.25) stable-rounded to 6dp
    * (Spark's exact percentile uses the same linear interpolation —
    * the q_length_quantiles cross-engine precedent), then the same
    * rn <= 2 + inclusive margin-cut probe list as the hier oracle. */
  private[queries] def semanticDedupMarginDerivedOracle: String =
    s"""WITH $mixedPlantCtes,
       |c AS (SELECT vec_id AS cid, embedding AS cv FROM bse WHERE vec_id < 8),
       |asg AS (
       |  SELECT vec_id, embedding, cid, csim,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn,
       |         max(csim) OVER (PARTITION BY vec_id) AS topsim
       |  FROM (SELECT v.vec_id, v.embedding, c.cid,
       |               ${dCosine("v.embedding", "c.cv")} AS csim
       |        FROM all_v v, c)
       |),
       |mg AS (SELECT round(quantile_cont(topsim - csim, 0.25) + 1.2345e-9, 6) AS m
       |       FROM asg WHERE rn = 2),
       |prim AS (SELECT vec_id, embedding, cid AS cell_id FROM asg WHERE rn = 1),
       |prob AS (SELECT vec_id, embedding, cid AS cell_id FROM asg, mg
       |         WHERE rn <= 2 AND csim >= topsim - mg.m),
       |$probesVerdictTail""".stripMargin

  /** q_semantic_dedup_probes_hier: the probes on top of the two-level
    * production routing — size-derived |C|/|S| (nested sqrt
    * subqueries), super argmax at rn = 1, then the top-2 MEMBER cells
    * of the probed super (rn <= 2 over the routed candidate set — the
    * q_ann_graph_hier CTE pattern widened by one rank). */
  private[queries] def semanticDedupProbesHierOracle: String =
    s"""WITH $mixedPlantCtes,
       |c AS (SELECT vec_id AS cid, embedding AS cv FROM bse
       |      WHERE vec_id < greatest(1, (SELECT CAST(floor(sqrt(count(*))) AS BIGINT)
       |                                  FROM embeddings))),
       |sup AS (SELECT vec_id AS sid, embedding AS sv FROM bse
       |        WHERE vec_id < greatest(1, (SELECT CAST(floor(sqrt(floor(sqrt(count(*))))) AS BIGINT)
       |                                    FROM embeddings))),
       |c2s AS (SELECT cid, sid FROM (
       |  SELECT c.cid, sup.sid,
       |         row_number() OVER (PARTITION BY c.cid
       |           ORDER BY ${dCosine("c.cv", "sup.sv")} DESC, sup.sid) AS rn
       |  FROM c, sup) WHERE rn = 1),
       |v2s AS (SELECT vec_id, sid FROM (
       |  SELECT v.vec_id, sup.sid,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${dCosine("v.embedding", "sup.sv")} DESC, sup.sid) AS rn
       |  FROM all_v v, sup) WHERE rn = 1),
       |rk AS (
       |  SELECT vec_id, embedding, cid, csim,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn,
       |         max(csim) OVER (PARTITION BY vec_id) AS topsim
       |  FROM (SELECT v.vec_id, v.embedding, c.cid,
       |               ${dCosine("v.embedding", "c.cv")} AS csim
       |        FROM all_v v
       |        JOIN v2s s ON v.vec_id = s.vec_id
       |        JOIN c2s ON c2s.sid = s.sid
       |        JOIN c ON c.cid = c2s.cid)
       |),
       |prim AS (SELECT vec_id, embedding, cid AS cell_id FROM rk WHERE rn = 1),
       |prob AS (SELECT vec_id, embedding, cid AS cell_id FROM rk
       |         WHERE rn <= 2 AND csim >= topsim - CAST(0.05 AS DOUBLE)),
       |$probesVerdictTail""".stripMargin

  /** q_ann_graph_batch: the same hop-by-hop walk replay as
    * [[annGraphOracle]], but every walk CTE carries `qid` — three
    * queries traverse in parallel, frontier windows partition by qid.
    * Frontier selection compares RAW sims (dCosine replays the exact
    * fold, so raw doubles agree bitwise); only the final rank uses the
    * rounded sim, mirroring the Spark side's round-then-rank. */
  private[queries] def annGraphBatchOracle: String =
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id IN (9, 17, 25)),
       |asg AS (
       |  SELECT vec_id, embedding, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
       |  FROM (SELECT e.vec_id, e.embedding, c.cid,
       |               ${dCosine("e.embedding", "c.cv")} AS csim
       |        FROM embeddings e, c)
       |),
       |cells AS (SELECT vec_id, embedding, cid AS cell_id FROM asg WHERE rn = 1),
       |pair AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |         row_number() OVER (PARTITION BY a.vec_id
       |           ORDER BY ${dCosine("a.embedding", "b.embedding")} DESC, b.vec_id) AS rn
       |  FROM cells a JOIN cells b
       |    ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
       |),
       |edges AS (
       |  SELECT src, dst FROM pair WHERE rn <= 4
       |  UNION
       |  SELECT dst, src FROM pair WHERE rn <= 4
       |  UNION
       |  SELECT vec_id, cell_id FROM cells WHERE vec_id <> cell_id
       |  UNION
       |  SELECT c1.cid, c2.cid FROM c c1, c c2 WHERE c1.cid <> c2.cid
       |),
       |sims AS (SELECT qs.qid, e.vec_id AS id, ${dCosine("e.embedding", "qs.qv")} AS sim
       |         FROM embeddings e, qs),
       |v0 AS (SELECT qid, id, sim FROM (
       |         SELECT qid, id, sim,
       |                row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
       |         FROM sims WHERE id < 8) WHERE rn <= 4),
       |f0 AS (SELECT qid, id FROM v0),
       |v1 AS (SELECT DISTINCT s.qid, s.id, s.sim FROM sims s
       |       WHERE EXISTS (SELECT 1 FROM v0 WHERE v0.qid = s.qid AND v0.id = s.id)
       |          OR EXISTS (SELECT 1 FROM f0 JOIN edges ON edges.src = f0.id
       |                     WHERE f0.qid = s.qid AND edges.dst = s.id)),
       |f1 AS (SELECT qid, id FROM (
       |         SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
       |         FROM v1) WHERE rn <= 4),
       |v2 AS (SELECT DISTINCT s.qid, s.id, s.sim FROM sims s
       |       WHERE EXISTS (SELECT 1 FROM v1 WHERE v1.qid = s.qid AND v1.id = s.id)
       |          OR EXISTS (SELECT 1 FROM f1 JOIN edges ON edges.src = f1.id
       |                     WHERE f1.qid = s.qid AND edges.dst = s.id)),
       |f2 AS (SELECT qid, id FROM (
       |         SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
       |         FROM v2) WHERE rn <= 4),
       |v3 AS (SELECT DISTINCT s.qid, s.id, s.sim FROM sims s
       |       WHERE EXISTS (SELECT 1 FROM v2 WHERE v2.qid = s.qid AND v2.id = s.id)
       |          OR EXISTS (SELECT 1 FROM f2 JOIN edges ON edges.src = f2.id
       |                     WHERE f2.qid = s.qid AND edges.dst = s.id)),
       |r AS (SELECT qid, id, round(sim + 1.2345e-9, 6) AS rsim,
       |             row_number() OVER (PARTITION BY qid
       |               ORDER BY round(sim + 1.2345e-9, 6) DESC, id) AS rank
       |      FROM v3)
       |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank, id AS vec_id, rsim AS sim
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB: the fixed-codebook PQ machinery shared by q_pq_search and
    * q_ivfpq (m=8 subspaces × subDim=8 over dim 64, k=16). Rebuilds the
    * head-16 seed codebook (≡ [[graft.operators.Pq.headCodebooks]]),
    * replays the per-subspace argmin encode (L2, ties to lowest cid),
    * builds the query's m×k inner-product LUT and folds the ADC score in
    * ascending-subspace order — every float op in the same sequence as
    * the Scala loops, so scores are bitwise equal and candidate cuts
    * agree exactly. Yields CTEs `e(vec_id, vec)`, `q(vec)` and
    * `adc(vec_id, score)`; `tail` continues the query. */
  private[queries] def dPqCtes(tail: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings
       |),
       |subs AS (SELECT unnest(range(0, 8)) AS sub),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vec
       |  FROM e ORDER BY vec_id LIMIT 16
       |),
       |cb AS (
       |  SELECT subs.sub, seeds.cid,
       |         list_slice(seeds.vec, subs.sub * 8 + 1, subs.sub * 8 + 8) AS cvec
       |  FROM seeds, subs
       |),
       |sv AS (
       |  SELECT e.vec_id, subs.sub,
       |         list_slice(e.vec, subs.sub * 8 + 1, subs.sub * 8 + 8) AS subvec
       |  FROM e, subs
       |),
       |dist AS (
       |  SELECT sv.vec_id, sv.sub, cb.cid,
       |         list_sum(list_transform(range(1, 9),
       |           j -> (sv.subvec[j] - cb.cvec[j]) * (sv.subvec[j] - cb.cvec[j]))) AS d
       |  FROM sv JOIN cb USING (sub)
       |),
       |codes AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT vec_id, sub, cid,
       |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn
       |    FROM dist)
       |  WHERE rn = 1
       |),
       |q AS (SELECT vec FROM e WHERE vec_id = 0),
       |qsv AS (
       |  SELECT subs.sub, list_slice(q.vec, subs.sub * 8 + 1, subs.sub * 8 + 8) AS qsub
       |  FROM q, subs
       |),
       |lut AS (
       |  SELECT qsv.sub, cb.cid,
       |         list_sum(list_transform(range(1, 9), j -> qsv.qsub[j] * cb.cvec[j])) AS ip
       |  FROM qsv JOIN cb USING (sub)
       |),
       |adc AS (
       |  SELECT c.vec_id, list_sum(list(l.ip ORDER BY c.sub)) AS score
       |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.cid = l.cid
       |  GROUP BY c.vec_id
       |),
       |$tail""".stripMargin

  /** Tokens of the lowercased `text` column. */
  private[queries] val W = dTokens("lower(text)")

  /** The flagship chunk→embed→uid→build→walk replay. `bandMode`
    * selects the edge-stage discipline inside the same template:
    *  - "always": the q_ann_graph_banded shape — the 4 lowest-uid
    *    chunk embeddings become two 2-plane sign-LSH bands (bucket
    *    folds lb0/lb1 over the dot signs, identical arithmetic to
    *    Ann.lshBucket), and the in-cell pair join gains the OR'd
    *    agreement condition — one join with OR ≡ the Spark side's
    *    per-band joins deduped (dense_rank over the duplicated
    *    multiset = row_number over the set; duplicates share the exact
    *    order key);
    *  - "auto": GraphIndex.build's SIZE-DERIVED default, replayed —
    *    the same band CTEs, but both bucket folds collapse to the
    *    constant 0 when count(*) < DefaultAutoBandAt (the OR condition
    *    is then vacuously true = the plain unbanded join), and carry
    *    the real sign buckets at/above it. One SQL template covers
    *    both regimes of the default, so the flagship stays hash-green
    *    at every SF the default build can encounter. */
  private[queries] def ragGraphOracle(mode: String): String = {
    require(Set("auto", "always")(mode), s"ragGraphOracle: $mode")
    val uid = dMd5Long("doc_id || '#' || CAST(chunk_idx AS VARCHAR)")
    val auto = mode == "auto"
    // the size gates: in auto mode the band fold AND the two-level
    // assignment are live only at/above the crossovers the Spark
    // defaults derive from the same count (DefaultAutoBandAt /
    // DefaultAutoHierAt); in always mode both run unconditionally —
    // the composed 100 TB recipe, hash-gated end to end
    val ncCte = if (auto) "\nnc AS (SELECT count(*) AS n FROM u)," else ""
    val ncSrc = if (auto) ", nc" else ""
    val ncGrp = if (auto) ", nc.n" else ""
    def fold(expr: String) =
      if (auto)
        s"CASE WHEN nc.n >= ${operators.GraphIndex.DefaultAutoBandAt} THEN $expr ELSE 0 END"
      else expr
    val lb0 = fold(s"CAST(sum(CASE WHEN pl.prn <= 2 AND ${dDot("c.nv", "pl.nv")} > 0 " +
      "THEN CAST(pow(2, pl.prn - 1) AS BIGINT) ELSE 0 END) AS BIGINT)")
    val lb1 = fold(s"CAST(sum(CASE WHEN pl.prn >= 3 AND ${dDot("c.nv", "pl.nv")} > 0 " +
      "THEN CAST(pow(2, pl.prn - 3) AS BIGINT) ELSE 0 END) AS BIGINT)")
    // nc is defined once, up with cents (both the hier candidate gate
    // and the band fold read it in auto mode)
    val bandCtes =
      s"""
         |pl AS MATERIALIZED (
         |  SELECT nv, prn FROM (
         |    SELECT nv, row_number() OVER (ORDER BY uid) AS prn FROM u)
         |  WHERE prn <= 4),
         |cb AS MATERIALIZED (
         |  SELECT c.uid, c.nv, c.cell_id,
         |         $lb0 AS lb0,
         |         $lb1 AS lb1
         |  FROM cells c, pl$ncSrc GROUP BY c.uid, c.nv, c.cell_id$ncGrp),""".stripMargin
    val pairSrc = "cb"
    val bandCond = "\n            AND (a.lb0 = b.lb0 OR a.lb1 = b.lb1)"
    // the two-level assignment replay (GraphIndex.DefaultAutoHierAt /
    // explicit hier): sup = head-⌊√|C|⌋ centroids in cid order (the
    // codebook-index order hierRouting takes them in), c2s routes each
    // centroid to its nearest super (ties → lowest sid, the scorer's
    // index tie-break), v2s routes each vector to its TOP-2 supers (the
    // build's superProbes default; ties → lowest sid), and the argmax
    // candidate set is flat below the gate / the probed supers'
    // members at/above it (always mode: hier only)
    val candFlat =
      s"SELECT u.uid AS uid, c.cid AS cid FROM u, cents c$ncSrc" +
        (if (auto) s" WHERE nc.n < ${operators.GraphIndex.DefaultAutoHierAt}" else "")
    val candHier =
      s"SELECT v.uid AS uid, cs.cid AS cid FROM v2s v JOIN c2s cs USING (sid)$ncSrc" +
        (if (auto) s" WHERE nc.n >= ${operators.GraphIndex.DefaultAutoHierAt}" else "")
    val candCte =
      if (auto) s"cand AS ($candFlat\n  UNION ALL\n  $candHier)"
      else s"cand AS ($candHier)"
    s"""WITH u AS MATERIALIZED (
       |  WITH $dChunkOnlyCtes
       |  SELECT doc_id, chunk_idx, nv, $uid AS uid FROM cn),
       |qn AS MATERIALIZED (
       |  WITH ${dQueryEmbedCtes("qn0")}
       |  SELECT nv FROM qn0),
       |cents AS MATERIALIZED (
       |  SELECT uid AS cid, nv AS cv FROM (
       |    SELECT uid, nv, row_number() OVER (ORDER BY uid) AS crn,
       |           count(*) OVER () AS cn_total FROM u)
       |  WHERE crn <= greatest(1, CAST(floor(sqrt(cn_total)) AS BIGINT))),$ncCte
       |sup AS (
       |  SELECT cid AS sid, cv AS sv FROM (
       |    SELECT cid, cv, row_number() OVER (ORDER BY cid) AS srn,
       |           count(*) OVER () AS c_total FROM cents)
       |  WHERE srn <= greatest(1, CAST(floor(sqrt(c_total)) AS BIGINT))),
       |c2s AS (
       |  SELECT cid, sid FROM (
       |    SELECT c.cid, s.sid,
       |           row_number() OVER (PARTITION BY c.cid
       |             ORDER BY ${dCosine("c.cv", "s.sv")} DESC, s.sid) AS rn
       |    FROM cents c, sup s) WHERE rn = 1),
       |v2s AS (
       |  SELECT uid, sid FROM (
       |    SELECT u.uid, s.sid,
       |           row_number() OVER (PARTITION BY u.uid
       |             ORDER BY ${dCosine("u.nv", "s.sv")} DESC, s.sid) AS rn
       |    FROM u, sup s) WHERE rn <= 2),
       |$candCte,
       |asg AS (
       |  SELECT uid, nv, cid,
       |         row_number() OVER (PARTITION BY uid ORDER BY csim DESC, cid) AS rn
       |  FROM (SELECT u.uid, u.nv, c.cid, ${dCosine("u.nv", "c.cv")} AS csim
       |        FROM u JOIN cand ON cand.uid = u.uid
       |               JOIN cents c ON c.cid = cand.cid)
       |),
       |cells AS MATERIALIZED (SELECT uid, nv, cid AS cell_id FROM asg WHERE rn = 1),$bandCtes
       |pair AS MATERIALIZED (
       |  -- sim is PROJECTED before the window so the sort carries
       |  -- (src, dst, sim) triples, not two 64-double vectors per
       |  -- pair row — without this (and the MATERIALIZED marks that
       |  -- stop CTE-inlining re-computation) DuckDB's spill on the
       |  -- sf0.1 quadratic pair set exceeded 80 GB
       |  SELECT src, dst, rn FROM (
       |    SELECT src, dst,
       |           row_number() OVER (PARTITION BY src
       |             ORDER BY sim DESC, dst) AS rn
       |    FROM (SELECT a.uid AS src, b.uid AS dst,
       |                 ${dCosine("a.nv", "b.nv")} AS sim
       |          FROM $pairSrc a JOIN $pairSrc b
       |            ON a.cell_id = b.cell_id AND a.uid <> b.uid$bandCond))
       |),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM pair WHERE rn <= 4
       |  UNION
       |  SELECT dst, src FROM pair WHERE rn <= 4
       |  UNION
       |  SELECT uid, cell_id FROM cells WHERE uid <> cell_id
       |  UNION
       |  SELECT c1.cid, c2.cid FROM cents c1, cents c2 WHERE c1.cid <> c2.cid
       |),
       |sims AS MATERIALIZED (
       |  SELECT u.uid AS id, u.doc_id, u.chunk_idx, ${dCosine("u.nv", "q.nv")} AS sim
       |  FROM u, qn q),
       |v0 AS (SELECT id, sim FROM sims WHERE id IN (SELECT cid FROM cents)
       |       ORDER BY sim DESC, id LIMIT 4),
       |f0 AS (SELECT id FROM v0 ORDER BY sim DESC, id LIMIT 4),
       |v1 AS (SELECT id, sim FROM sims WHERE id IN (SELECT id FROM v0)
       |          OR id IN (SELECT dst FROM edges WHERE src IN (SELECT id FROM f0))),
       |f1 AS (SELECT id FROM v1 ORDER BY sim DESC, id LIMIT 4),
       |v2 AS (SELECT id, sim FROM sims WHERE id IN (SELECT id FROM v1)
       |          OR id IN (SELECT dst FROM edges WHERE src IN (SELECT id FROM f1))),
       |f2 AS (SELECT id FROM v2 ORDER BY sim DESC, id LIMIT 4),
       |v3 AS (SELECT id, sim FROM sims WHERE id IN (SELECT id FROM v2)
       |          OR id IN (SELECT dst FROM edges WHERE src IN (SELECT id FROM f2)))
       |SELECT s.doc_id, CAST(s.chunk_idx AS BIGINT) AS chunk_idx,
       |       round(v3.sim + 1.2345e-9, 6) AS sim
       |FROM v3 JOIN sims s ON s.id = v3.id
       |ORDER BY sim DESC, doc_id, chunk_idx LIMIT 5""".stripMargin
  }

  private[queries] def dEmbedVec: String =
    s"""list_transform(range(0, ${Schemas.EmbeddingDim}), j ->
       |        coalesce(list_sum(list_transform(pr, e -> CASE WHEN e.b = j THEN e.s ELSE 0.0 END)), 0.0))""".stripMargin

  /** DuckDB: 32-word chunks of cleaned documents text, hashed-BoW
    * embedding, L2 normalize (ε=1e-9) — yields `cn(doc_id, chunk_idx,
    * nv)`. */
  private[queries] def dChunkOnlyCtes: String =
    s"""t AS (SELECT doc_id, ${dTokens("text")} AS words FROM documents),
       |c AS (SELECT doc_id, words,
       |        unnest(range(0, CAST(ceil(len(words) / 32.0) AS BIGINT))) AS chunk_idx
       |      FROM t),
       |ct AS (SELECT doc_id, chunk_idx,
       |         list_transform(list_slice(words, chunk_idx * 32 + 1, chunk_idx * 32 + 32),
       |                        x -> lower(x)) AS ctoks
       |       FROM c),
       |cp AS (SELECT doc_id, chunk_idx, list_transform(ctoks, x ->
       |         struct_pack(b := ${dMd5Bucket("x", Schemas.EmbeddingDim)},
       |                     s := ${dMd5Sign("x")})) AS pr FROM ct),
       |cv AS (SELECT doc_id, chunk_idx, $dEmbedVec AS vec FROM cp),
       |cn AS (SELECT doc_id, chunk_idx,
       |         list_transform(vec, x -> x / (sqrt(list_sum(list_transform(vec, y -> y * y))) + 1e-9)) AS nv
       |       FROM cv)""".stripMargin

  /** DuckDB: the embedded + normalized flagship query, as CTE `<out>(nv)`. */
  private[queries] def dQueryEmbedCtes(out: String): String =
    s"""qt AS (SELECT ${dTokens(s"lower('$RagQueryText')")} AS toks),
       |qp AS (SELECT list_transform(toks, x ->
       |         struct_pack(b := ${dMd5Bucket("x", Schemas.EmbeddingDim)},
       |                     s := ${dMd5Sign("x")})) AS pr FROM qt),
       |qv AS (SELECT $dEmbedVec AS vec FROM qp),
       |$out AS (SELECT list_transform(vec, x -> x / (sqrt(list_sum(list_transform(vec, y -> y * y))) + 1e-9)) AS nv
       |       FROM qv)""".stripMargin

  /** The combined chunk + query replay (`cn` and `qn`) — the shared
    * prefix of the retrieval oracles. */
  private[queries] def dChunkEmbedCtes: String =
    dChunkOnlyCtes + ",\n" + dQueryEmbedCtes("qn")
}
