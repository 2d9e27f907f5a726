package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The graph-ANN store BEHIND the ask pipeline — the reference's actual
  * serving architecture: ingest builds an HNSW index once
  * (app/main.py:262-283, m=64/ef_construction=500) and every `/ask`
  * searches that index (app/main.py:347-373); nothing at query time
  * ever scans the corpus.
  *
  * [[build]] is the ingest-time half: give each embedded chunk a stable
  * 60-bit id (md5-derived — map-only, no global sort, deterministic
  * across runs and engines), pick entry centroids, build the k-NN graph
  * ([[Ann.knnGraph]]) and persist it src-bucketed
  * ([[Ann.writeGraphIndex]]) next to the uid-bucketed id→chunk sidecar
  * and the centroid table. [[Handle.search]] is the query-time half: a
  * beam walk ([[Ann.graphSearch]] over [[Ann.storeLookup]]) whose
  * per-hop reads touch only the frontier's buckets, then a
  * partition-pruned sidecar read for the visited set — ask latency
  * rides beam·degree, independent of index size, which is exactly why
  * the reference puts an HNSW (not a scan) behind its hot path.
  * [[insert]] is the live-upload half (ref app/embedding_gen.py:315-409
  * appends new docs to the running index): batch-vs-cell work only,
  * append-only writes.
  *
  * SINGLE-WRITER CONTRACT: at most one mutator ([[insert]]/[[delete]]/
  * [[compact]]/[[rebuild]]) per store at a time. Insert's guards are
  * check-then-append (two racing inserts of the same uid could both
  * pass the clash probe before either's sidecar row lands), and
  * compact/rebuild stage-and-overwrite whole bucket dirs — an append
  * interleaved with the overwrite would be silently dropped. Readers
  * (cold handles, hot/sharded snapshots) are unaffected; serialize the
  * WRITERS (one ingestion driver per store — the streaming loop's
  * shape, [[graft.streaming.StreamingDedup]]).
  */
object GraphIndex {

  /** Anything the ask pipeline can retrieve against: the cold
    * store-backed [[Handle]] (every hop is a partition-pruned parquet
    * read — the oracle-gated reference walk), or a resident tier —
    * [[Hot]] (the graph in the serving JVM, the reference's actual
    * posture: app/main.py loads its HNSW once at startup and serves
    * every /ask from memory) or [[HotSharded]] (the graph pinned in
    * executor shards, past the driver budget). Every tier produces the
    * cold walk's rows for the same store (GraphIndexSpec pins Hot to
    * the Handle on raw bits, and HotSharded at one shard to Hot), so
    * `AskPipeline.ask(graph = …)` accepts any of them. */
  sealed trait Serving {
    def handle: Handle

    /** The [[storeStamp]] captured when this serving tier snapshotted
      * the store — None for media that read the store live per query
      * (the cold [[Handle]] path is never stale by construction). */
    def loadStamp: Option[String] = None

    /** True when the underlying store has mutated since this snapshot
      * was taken (insert/delete/rebuild/compact all move the stamp —
      * see [[storeStamp]]). Always false for live-reading media. A
      * stale tier still serves its point-in-time answers correctly;
      * this is the signal to rebuild it (`cool()` + re-`hot()`). */
    def isStale(spark: SparkSession): Boolean =
      loadStamp.exists(_ != storeStamp(spark, handle))

    /** Every node the beam walk visits, scored, re-joined to its chunk
      * row — shaped like the exact-retrieval candidate set (original
      * columns + `sim`), so downstream context assembly cannot tell
      * which retriever ran. Callers apply their own top-k / rounding.
      * [[searchBatch]] over a one-row query table. */
    def search(spark: SparkSession, queryVec: Seq[Double]): DataFrame =
      searchBatch(spark, Ann.oneQuery(spark, queryVec), "query_id", "vector")
        .drop("query_id")

    /** Batched serving — many queries walk the store TOGETHER (the
      * reference holds N open ask sessions against one HNSW,
      * app/main.py:616-647), and ONE pruned sidecar read re-attaches
      * all visited sets; returns (query_id, chunk columns, sim). The
      * query table is request-sized and read once through
      * [[Ann.queryTable]]: a null id or vector, or a repeated id,
      * refuses on every tier. */
    def searchBatch(spark: SparkSession, queries: DataFrame,
                    qIdCol: String, qVecCol: String): DataFrame

    /** Graph-ANN top-k in [[Similarity.topK]]'s output shape. */
    def topK(spark: SparkSession, queryVec: Seq[Double], k: Int,
             tieBreak: Seq[String]): DataFrame =
      search(spark, queryVec)
        .orderBy(desc("sim") +: tieBreak.map(col): _*)
        .limit(k)
        .drop("uid", "cell_id")

    /** Per-query top-k over [[searchBatch]] (window rank keyed by
      * query_id — the q_knn_batch shape). */
    def topKBatch(spark: SparkSession, queries: DataFrame,
                  qIdCol: String, qVecCol: String, k: Int,
                  tieBreak: Seq[String]): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("sim") +: tieBreak.map(col): _*)
      searchBatch(spark, queries, qIdCol, qVecCol)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .drop("uid", "cell_id")
    }

    /** Release what this tier holds resident (a no-op on the cold
      * [[Handle]], which holds nothing). */
    def cool(): Unit = ()
  }

  /** Sidecar re-attach of a visited set (`uid`, `sim`, maybe
    * `query_id`): the set is KB-scale (beam·degree·hops rows per
    * query), so prune the sidecar to its uid buckets (partition pruning
    * at the file listing; cached-batch stats skip on a persisted
    * sidecar — without this the re-attach is a full corpus scan per
    * query, undoing the walk's whole point), then broadcast-join so
    * nothing shuffles. */
  private def attach(chunks: DataFrame, nBuckets: Int,
                     visited: DataFrame, ids: Seq[Long]): DataFrame = {
    val buckets = ids.map(id =>
      Long.box(((id % nBuckets) + nBuckets) % nBuckets)).distinct
    chunks.filter(col("uid_bucket").isin(buckets: _*))
      .join(broadcast(visited), "uid")
      .drop("uid_bucket")
  }

  /** A built store: everything needed to search lives under `dir`
    * (`edges/` src-bucketed, `chunks/` uid-bucketed id→row sidecar with
    * the cell assignment, `centroids/`), so a handle is just the
    * location + layout/build constants — serving processes re-open it
    * without re-reading the corpus. Search here is the COLD path and
    * the reference every resident tier is pinned to: the one Spark
    * beam walk ([[Ann.graphSearch]] over [[Ann.storeLookup]]), every
    * hop a partition-pruned parquet read, marks read live per query.
    * [[hot]] or [[hotSharded]] it for resident serving. */
  final case class Handle(dir: String, nBuckets: Int,
                          beamWidth: Int = 8, hops: Int = 3, m: Int = 4,
                          vecCol: String = "embedding")
      extends Serving {
    def handle: Handle = this
    def edgesDir: String = dir + "/edges"
    def chunksDir: String = dir + "/chunks"
    def centroidsDir: String = dir + "/centroids"
    def tombstonesDir: String = dir + "/tombstones"
    def centroids(spark: SparkSession): DataFrame =
      spark.read.parquet(centroidsDir)
    def chunks(spark: SparkSession): DataFrame =
      spark.read.parquet(chunksDir)

    def searchBatch(spark: SparkSession, queries: DataFrame,
                    qIdCol: String, qVecCol: String): DataFrame = {
      // [[delete]] marks live in the mark store until [[compact]]
      // applies them physically: marked nodes still ROUTE the walk (the
      // HNSW mark-delete discipline — unlinking mid-serve could strand
      // graph regions), and this bucket-pruned read keeps them out of
      // the results
      val visited = Ann.filterTombstoned(spark,
        Ann.graphSearch(spark, Ann.storeLookup(spark, edgesDir, nBuckets),
          centroids(spark), "centroid_id", "centroid_vec",
          queries, qIdCol, qVecCol, beamWidth, hops),
        "vec_id", tombstonesDir, nBuckets)
      val ids = visited.select("vec_id").distinct().collect().map(_.getLong(0))
      attach(chunks(spark), nBuckets, visited.withColumnRenamed("vec_id", "uid"), ids.toSeq)
    }
  }

  /** One tier's (or one shard's) resident graph: primitive-array node
    * ids, vectors, norms, and adjacency — the normalized O(|V|·dim +
    * |E|) layout [[Hot]] collects, factored out so the single-JVM tier
    * and each [[HotSharded]] executor shard run the IDENTICAL arrays
    * (and the identical [[walkArrays]] over them — the two tiers
    * cannot drift). Serializable: a shard ships to its executor once
    * inside a persisted, deserialized RDD partition; `idToIdx`,
    * `finite` and `maxDegree` are derived lazily per JVM rather than
    * serialized (boxed maps ship badly; the arrays are the contract). */
  private[graft] final class GraphArrays(
      val ids: Array[Long],
      val vecs: Array[Array[Double]],
      val norms: Array[Double],
      val adjOf: Array[Array[Int]],
      @transient private var idx0: java.util.HashMap[java.lang.Long, Integer])
      extends Serializable {
    def this(ids: Array[Long], vecs: Array[Array[Double]],
             norms: Array[Double], adjOf: Array[Array[Int]]) =
      this(ids, vecs, norms, adjOf, null)
    def idToIdx: java.util.HashMap[java.lang.Long, Integer] = {
      if (idx0 == null) {
        val m = new java.util.HashMap[java.lang.Long, Integer](ids.length * 2)
        var i = 0
        while (i < ids.length) { m.put(Long.box(ids(i)), Int.box(i)); i += 1 }
        idx0 = m
      }
      idx0
    }
    /** Every node vector finite — the walk may fold sparse queries
      * over their nonzeros only ([[CosineKernel]]). */
    @transient lazy val finite: Boolean = vecs.forall(CosineKernel.allFinite)
    @transient lazy val maxDegree: Int =
      adjOf.foldLeft(0)((m, a) => math.max(m, a.length))
  }

  /** A walk's visited set: node indices in insertion order with their
    * sims, plus an open-addressing index over them — primitive
    * storage, no boxing. `capacity` must bound the distinct adds. */
  private final class Visited(capacity: Int) {
    private val mask = Integer.highestOneBit(math.max(2 * capacity, 2) - 1) * 2 - 1
    private val slots = Array.fill(mask + 1)(-1)
    val idx = new Array[Int](capacity)
    val sim = new Array[Double](capacity)
    var size = 0
    private def slotOf(i: Int): Int = {
      var h = (i * 0x9E3779B9) & mask
      while (slots(h) != -1 && slots(h) != i) h = (h + 1) & mask
      h
    }
    def contains(i: Int): Boolean = slots(slotOf(i)) == i
    /** Add node `i` with `s` unless already present. */
    def add(i: Int, s: Double): Unit = {
      val h = slotOf(i)
      if (slots(h) != i) {
        slots(h) = i; idx(size) = i; sim(size) = s; size += 1
      }
    }
  }

  /** Bounded top-`beam` of (node index, sim) pairs under the walk's
    * (−sim, id) key — `java.lang.Double.compare` on −sim, then id asc;
    * the same order as `sortBy { case (id, s) => (-s, id) }.take(beam)`,
    * ties between equal keys kept in arrival order like the stable sort. */
  private final class TopBeam(g: GraphArrays, beam: Int) {
    val idx = new Array[Int](math.max(beam, 0))
    val sim = new Array[Double](math.max(beam, 0))
    var size = 0
    private def before(s1: Double, i1: Int, s2: Double, i2: Int): Boolean = {
      val c = java.lang.Double.compare(-s1, -s2)
      c < 0 || (c == 0 && g.ids(i1) < g.ids(i2))
    }
    def offer(i: Int, s: Double): Unit = {
      if (size < idx.length || (size > 0 && before(s, i, sim(size - 1), idx(size - 1)))) {
        var p = math.min(size, idx.length - 1)
        while (p > 0 && before(s, i, sim(p - 1), idx(p - 1))) {
          idx(p) = idx(p - 1); sim(p) = sim(p - 1); p -= 1
        }
        idx(p) = i; sim(p) = s
        if (size < idx.length) size += 1
      }
    }
  }

  /** THE beam walk over resident arrays — the in-JVM twin of one
    * query's [[Ann.graphSearch]], shared verbatim by [[Hot]] (driver)
    * and [[HotSharded]] (executors). Entry: the beam nearest of
    * `entryIdxs` (sim desc, id asc — the Spark walk's ordering; ids are
    * unique so the order is total; a repeated entry index takes a slot
    * per occurrence, as `sortBy.take(beam)` does, and is visited once);
    * then `hops` rounds of top-beam frontier expansion, each visited
    * node scored once with the ascending-fold cosine. Returns the full
    * visited set, UNFILTERED (the tombstone snapshot is a tier concern,
    * applied once in [[Resident]]'s search, so the walk itself stays a
    * pure function of (arrays, entries, query)).
    *
    * Cost: the dot folds only the query's nonzero dimensions when every
    * node vector is finite (the [[CosineKernel]] sparse-query rule,
    * bit-identical to the dense fold under that precondition; a graph
    * holding a NaN or ±Inf component walks dense). Bit-for-bit holds
    * except for NaN payloads: where two different NaNs meet in one add
    * only NaN-ness is guaranteed, and ordering is unaffected. The
    * visited set is primitive and bounded by |entries| +
    * hops·beam·maxDegree, and each hop picks its frontier by a bounded
    * top-beam selection, not a sort. */
  private[graft] def walkArrays(g: GraphArrays, entryIdxs: Array[Int],
                                q: Array[Double], beam: Int,
                                hops: Int): Seq[(Long, Double)] = {
    val v = walkVisited(g, entryIdxs, q, beam, hops)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      Array.tabulate(v.size)(i => (g.ids(v.idx(i)), v.sim(i))))
  }

  /** [[walkArrays]] without the boxed result: the visited set itself. */
  private def walkVisited(g: GraphArrays, entryIdxs: Array[Int],
                          q: Array[Double], beam: Int, hops: Int): Visited = {
    val qnorm = CosineKernel.norm(q)
    val nz = CosineKernel.nonzeros(q)
    val finite = g.finite
    def simOf(idx: Int): Double = {
      val v = g.vecs(idx)
      require(v.length == q.length,
        s"GraphIndex.walkArrays: dimension mismatch (${v.length} vs ${q.length})")
      CosineKernel.cosine(CosineKernel.dot(q, nz, v, finite), qnorm, g.norms(idx))
    }
    val b = math.max(beam, 0)
    val bound = math.min(g.ids.length.toLong,
      math.min(entryIdxs.length, b).toLong + math.max(hops, 0).toLong * b * g.maxDegree).toInt
    val visited = new Visited(bound)
    val entry = new TopBeam(g, b)
    var i = 0
    while (i < entryIdxs.length) { val ci = entryIdxs(i); entry.offer(ci, simOf(ci)); i += 1 }
    i = 0
    while (i < entry.size) { visited.add(entry.idx(i), entry.sim(i)); i += 1 }
    var hop = 0
    while (hop < hops) {
      val frontier = new TopBeam(g, b)
      i = 0
      while (i < visited.size) { frontier.offer(visited.idx(i), visited.sim(i)); i += 1 }
      var f = 0
      while (f < frontier.size) {
        val ns = g.adjOf(frontier.idx(f))
        var m = 0
        while (m < ns.length) {
          val nIdx = ns(m)
          // re-scored nodes recompute the same value (the Spark walk's
          // map overwrite) — skip the dot when already visited
          if (!visited.contains(nIdx)) visited.add(nIdx, simOf(nIdx))
          m += 1
        }
        f += 1
      }
      hop += 1
    }
    visited
  }

  /** The resident tiers' one search path. A tier supplies only its
    * walk ([[walkAll]] — in this JVM for [[Hot]], fanned out over
    * executor shards for [[HotSharded]]); the query-table read, the
    * snapshot's tombstone filter and the sidecar re-attach are shared,
    * so the tiers differ in where the graph lives and nothing else.
    * The visited ids are already in the driver JVM, so the re-attach's
    * bucket list comes straight off them — no distinct().collect() job,
    * unlike the cold [[Handle]]. Each tier is an immutable SNAPSHOT:
    * inserts/deletes after the load are invisible until it is re-made
    * ([[Serving.isStale]] says when). */
  private[graft] sealed trait Resident extends Serving {
    /** The chunk sidecar, persisted at load; released by [[cool]]. */
    protected def chunksDf: DataFrame
    /** The tombstone marks at load time ([[tombSnapshot]]). */
    protected def tombs: java.util.HashSet[java.lang.Long]

    /** Every query's full visited set, (query position, uid, sim),
      * before the tombstone filter. */
    protected def walkAll(qVecs: Array[Array[Double]]): Seq[(Int, Long, Double)]

    private def live(rows: Seq[(Int, Long, Double)]): Seq[(Int, Long, Double)] =
      if (tombs.isEmpty) rows else rows.filterNot(r => tombs.contains(r._2))

    override def search(spark: SparkSession, queryVec: Seq[Double]): DataFrame = {
      import spark.implicits._
      val rows = live(walkAll(Array(queryVec.toArray))).map(r => (r._2, r._3))
      attach(chunksDf, handle.nBuckets, rows.toDF("uid", "sim"), rows.map(_._1))
    }

    def searchBatch(spark: SparkSession, queries: DataFrame,
                    qIdCol: String, qVecCol: String): DataFrame = {
      import spark.implicits._
      val (ids, vecs) = Ann.queryTable(queries, qIdCol, qVecCol)
      val all = live(walkAll(vecs)).map(r => (ids(r._1), r._2, r._3))
      attach(chunksDf, handle.nBuckets, all.toDF("query_id", "uid", "sim"), all.map(_._2))
    }

    override def cool(): Unit = { chunksDf.unpersist(); () }
  }

  /** The IN-PROCESS serving tier: the reference's HNSW is a plain
    * in-memory graph walked by the serving PROCESS (app/main.py:262-283
    * — no cluster in the hot path), and this is that posture on the
    * driver JVM. A Spark walk schedules jobs per hop (the frontier
    * read + scoring + collect), and SCALE.md measured that per-job
    * driver scheduling, not data work, as the c≈8 admission knee: a
    * ~1 ms walk took ~1.2 s of wall-clock. Hot collects
    * the store's NORMALIZED layout (O(|V|·dim + |E|) — the node vectors
    * and id pairs, never the denormalized edge vectors, never the chunk
    * text) into primitive arrays once at load and walks them with zero
    * jobs per hop; the only Spark work left per ask is the sidecar
    * re-attach (a pruned, broadcast join — the chunk TEXT stays
    * distributed, which is what keeps this honest at 100 TB:
    * index-scale state in the serving process, corpus-scale state on
    * the cluster, exactly the reference's OpenSearch split).
    *
    * The walk reproduces the cold [[Handle]]'s visited set
    * ([[Ann.graphSearch]] over [[Ann.storeLookup]]) BIT-FOR-BIT
    * (GraphIndexSpec pins equality on raw bits): same ascending-fold
    * cosine, same (sim desc, id asc) entry/frontier ordering, same hop
    * count. The fold runs over only the query's nonzero dimensions
    * while every node vector is finite (the [[CosineKernel]]
    * sparse-query rule — bit-identical to the dense fold under that
    * precondition; a graph holding a NaN or ±Inf component folds
    * dense). */
  final class Hot private[GraphIndex] (
      val handle: Handle,
      nodeIds: Array[Long],
      nodeVecs: Array[Array[Double]],
      nodeNorms: Array[Double],
      adj: Array[Array[Int]],
      centIdxs: Array[Int],
      protected val tombs: java.util.HashSet[java.lang.Long],
      idToIdx: java.util.HashMap[java.lang.Long, Integer],
      protected val chunksDf: DataFrame,
      textMap: Option[java.util.HashMap[java.lang.Long, (Any, Long, String)]] = None,
      stamp: Option[String] = None)
      extends Resident {

    override def loadStamp: Option[String] = stamp

    private val arrays =
      new GraphArrays(nodeIds, nodeVecs, nodeNorms, adj, idToIdx)

    /** True when [[hot]] was asked for (and the budget admitted) the
      * RESIDENT-TEXT option — see [[topKLocalRows]]. */
    def hasResidentText: Boolean = textMap.isDefined

    /** The solo serving tail with ZERO Spark jobs: walk + tombstone
      * filter + uid→(doc_id, chunk_idx, chunk_text) lookup in the
      * resident text map + the exact `orderBy(desc(sim), doc_id,
      * chunk_idx).limit(k)` ordering ([[Retrieval.hitOrdering]] — the
      * driver twin, byte-identical by the shared-comparator
      * discipline). None when the tier was built without resident
      * text — the caller keeps the DataFrame tail. Centroid-only
      * structural nodes miss the map exactly as the attach join drops
      * them. */
    def topKLocalRows(queryVec: Seq[Double],
                      k: Int): Option[Seq[(Any, Long, String, Double)]] =
      textMap.map { tm =>
        // bounded top-k under hitOrdering — the rows of
        // `.sorted(hitOrdering).take(k)`: the ordering is total over
        // unique (doc_id, chunk_idx), and equal keys keep arrival order
        val top = new Array[(Any, Long, String, Double)](math.max(k, 0))
        var n = 0
        val v = walkVisited(arrays, centIdxs, queryVec.toArray,
          handle.beamWidth, handle.hops)
        var i = 0
        while (i < v.size) {
          val id = nodeIds(v.idx(i))
          val hit =
            if (!tombs.isEmpty && tombs.contains(id)) null else tm.get(Long.box(id))
          if (hit != null) {
            val row = (hit._1, hit._2, hit._3, v.sim(i))
            if (n < top.length ||
                (n > 0 && Retrieval.hitOrdering.compare(row, top(n - 1)) < 0)) {
              var p = math.min(n, top.length - 1)
              while (p > 0 && Retrieval.hitOrdering.compare(row, top(p - 1)) < 0) {
                top(p) = top(p - 1); p -= 1
              }
              top(p) = row
              if (n < top.length) n += 1
            }
          }
          i += 1
        }
        top.take(n).toSeq
      }

    /** Each query walked in this JVM by [[walkArrays]] (shared with the
      * [[HotSharded]] executor walk so the two tiers cannot drift);
      * pure driver compute, zero Spark jobs. */
    protected def walkAll(qVecs: Array[Array[Double]]): Seq[(Int, Long, Double)] =
      qVecs.indices.flatMap { qi =>
        walkArrays(arrays, centIdxs, qVecs(qi), handle.beamWidth, handle.hops)
          .map { case (id, s) => (qi, id, s) }
      }
  }

  /** Default driver-RAM budget for [[hot]]: 8 GiB of estimated layout.
    * The measured PMC tier (32.7k nodes × dim 1024) is ~300 MB
    * (SCALE.md), so the default admits ~25× that; a 100 TB-index store
    * refuses with a number instead of OOMing the serving process at
    * startup. */
  val DefaultHotBudgetBytes: Long = 8L << 30

  /** Conservative estimate of [[hot]]'s driver footprint from the
    * store's own sidecar row counts — computed BEFORE any collect, from
    * parquet metadata-cheap counts. Per node: the vector (dim doubles +
    * header), id, norm, and the boxed id→idx map entry; per edge: the
    * adjacency int plus the transient collected pair (the peak, before
    * the buffers are compacted). An estimate, deliberately on the high
    * side: the guard's job is to refuse with a number, not to meter. */
  def hotBytesEstimate(spark: SparkSession, h: Handle): Long =
    hotBytesOf(h, h.chunks(spark), h.centroids(spark), spark.read.parquet(h.edgesDir))

  /** [[hotBytesEstimate]] over already-read store components. */
  private def hotBytesOf(h: Handle, chunks: DataFrame, cents: DataFrame,
                         edges: DataFrame): Long = {
    val nChunks = chunks.count()
    val nCents = cents.count()
    // dim via headOption: an EMPTY chunks sidecar must surface as hot()'s
    // deliberate refusal story, not a bare NoSuchElementException from
    // head() — and the dim probe is the one row-data read here (one
    // column of one row; the counts are parquet-footer-cheap)
    if (nChunks == 0L)
      throw new IllegalStateException(
        s"GraphIndex.hot: the chunks sidecar at '${h.dir}' is EMPTY — " +
          "nothing to serve; build the index before loading a hot tier")
    val dim = chunks.select(size(col(h.vecCol))).head().getInt(0)
    val nEdges = edges.count()
    val nNodes = nChunks + nCents // upper bound; overlap only shrinks it
    nNodes * (dim.toLong * 8 + 96) + nEdges * 48
  }

  /** Driver-footprint estimate of [[hot]]'s RESIDENT-TEXT map, from one
    * aggregate over the chunk sidecar (octet lengths + row count —
    * never the texts themselves): text and doc-id bytes plus a
    * deliberately high-side 160 B/row for the map entry, tuple, and
    * boxing. The same refuse-with-a-number role as
    * [[hotBytesEstimate]], for the same reason: a corpus past the
    * budget belongs on the attach join, not OOMing the driver. */
  def hotTextBytesEstimate(spark: SparkSession, h: Handle): Long =
    hotTextBytesOf(h.chunks(spark))

  private def hotTextBytesOf(chunks: DataFrame): Long = {
    val r = chunks.agg(
      count(lit(1)).as("_n"),
      coalesce(sum(octet_length(col("chunk_text"))), lit(0L)).as("_tb"),
      coalesce(sum(octet_length(col("doc_id").cast("string"))), lit(0L)).as("_db"))
      .head()
    r.getLong(1) + r.getLong(2) + r.getLong(0) * 160L
  }

  /** Collect a built store's NORMALIZED layout into driver-JVM arrays
    * for [[Hot]] serving (index-scale only: node ids + vectors +
    * adjacency + centroid list + mark snapshot — never chunk text,
    * never denormalized edge vectors); the re-attach sidecar is
    * persisted alongside.
    *
    * Each store component (chunks, centroids, edges) is read — listed,
    * schema resolved — ONCE, and that one read serves the estimates,
    * the counts, the collects and the persist. The chunk sidecar is
    * persisted before the node collect, so that collect fills the
    * cache instead of a separate count pass. The
    * staleness stamp ([[storeStamp]]) is taken before those reads, as
    * each read lists its files when it is made.
    *
    * SIZE-GUARDED: the estimated layout ([[hotBytesEstimate]], from the
    * store's own row counts × dim — no data read) must fit
    * `budgetBytes` or hot() REFUSES with the numbers, before any
    * collect — the [[Ann.gatedPublish]] discipline applied to driver
    * RAM. An index past the budget belongs on the sharded tier; an
    * OOM mid-startup is never the answer.
    *
    * Past both this budget and the single-JVM ~11 ask/s knee, the
    * SHARDED tier is [[hotSharded]]: nodes partitioned by cell group
    * into executor-pinned shards, queries fanned out as one job to the
    * shards their entry centroids name, per-shard RAM under this same
    * budget by construction. */
  def hot(spark: SparkSession, h: Handle,
          budgetBytes: Long = DefaultHotBudgetBytes,
          residentText: Boolean = false,
          textBudgetBytes: Long = DefaultHotBudgetBytes): Hot = {
    // staleness stamp captured BEFORE any store read — spark.read.parquet
    // lists the files when the DataFrame is made, so a mutation racing
    // the load then moves the live stamp and the snapshot reads stale —
    // the conservative direction (a spurious re-hot, never a
    // silently-drifted tier)
    val stamp = storeStamp(spark, h)
    val chunks = h.chunks(spark)
    val cents = h.centroids(spark)
    val edges = spark.read.parquet(h.edgesDir)
    val est = hotBytesOf(h, chunks, cents, edges)
    if (est > budgetBytes)
      throw new IllegalStateException(
        f"GraphIndex.hot: estimated driver layout $est%,d bytes " +
          f"(~${est / (1L << 20)}%,d MiB) exceeds the budget $budgetBytes%,d " +
          f"(~${budgetBytes / (1L << 20)}%,d MiB) — refusing before any " +
          "collect. Serve this store from hotSharded (per-shard budget), " +
          "or raise budgetBytes deliberately if the driver really has " +
          "the headroom.")
    if (residentText) {
      val tEst = hotTextBytesOf(chunks)
      if (tEst > textBudgetBytes)
        throw new IllegalStateException(
          f"GraphIndex.hot: resident-text map estimates $tEst%,d bytes " +
            f"(~${tEst / (1L << 20)}%,d MiB) — over textBudgetBytes " +
            f"$textBudgetBytes%,d (~${textBudgetBytes / (1L << 20)}%,d MiB). " +
            "Refusing before any collect; serve without residentText " +
            "(the attach join stays pruned + broadcast) or raise the " +
            "budget deliberately.")
    }
    val chunksDf = chunks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodeRows = chunksDf
      .select(col("uid").cast("long"), col(h.vecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val centRows = cents.orderBy("centroid_id")
      .select(col("centroid_id").cast("long"),
        col("centroid_vec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // node universe = chunk rows ∪ centroid rows (compacted-away
    // structural marks keep routing, as they do in the cold walk's
    // denormalized edges; chunk version wins on overlap — values
    // identical by construction)
    val seen = new java.util.HashMap[java.lang.Long, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    (nodeRows.iterator ++ centRows.iterator).foreach { case (id, v) =>
      if (!seen.containsKey(Long.box(id))) {
        seen.put(Long.box(id), Int.box(ids.length))
        ids += id
        vecs += v
      }
    }
    val norms = vecs.map(CosineKernel.norm).toArray
    val edgePairs = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adjBuf = Array.fill(ids.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    edgePairs.foreach { case (s, d) =>
      val si = seen.get(Long.box(s))
      val di = seen.get(Long.box(d))
      // edges of rows compacted away (or pointing at them) are inert
      if (si != null && di != null) adjBuf(si.intValue()) += di.intValue()
    }
    val centIdxs = centRows.map { case (id, _) => seen.get(Long.box(id)).intValue() }
    val tombs = tombSnapshot(spark, h)
    // the resident-text map (budget-checked above): serving-schema
    // columns only, types pinned to what the fused tail can order
    // (string/integral doc ids, non-null idx/text) — anything else
    // refuses at BUILD time, so topKLocalRows can never diverge from
    // the DataFrame tail at serve time
    val textMap =
      if (!residentText) None
      else {
        import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
        val schema = chunksDf.schema
        require(Seq("doc_id", "chunk_idx", "chunk_text").forall(schema.fieldNames.contains),
          "GraphIndex.hot(residentText): the chunk sidecar must carry " +
            "doc_id/chunk_idx/chunk_text (the serving schema)")
        val docType = schema(schema.fieldIndex("doc_id")).dataType
        require(docType == StringType || docType == LongType || docType == IntegerType,
          s"GraphIndex.hot(residentText): doc_id type $docType is not " +
            "orderable by the fused tail — serve without residentText")
        val tm = new java.util.HashMap[java.lang.Long, (Any, Long, String)](
          ids.length * 2)
        chunksDf.select(col("uid").cast("long"), col("doc_id"),
            col("chunk_idx").cast("long"), col("chunk_text"))
          .collect().foreach { r =>
            require(!r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3),
              "GraphIndex.hot(residentText): null doc_id/chunk_idx/" +
                "chunk_text in the sidecar — the fused tail would " +
                "diverge from the DataFrame tail; serve without residentText")
            tm.put(Long.box(r.getLong(0)), (r.get(1), r.getLong(2), r.getString(3)))
          }
        Some(tm)
      }
    new Hot(h, ids.toArray, vecs.toArray, norms, adjBuf.map(_.toArray),
      centIdxs, tombs, seen, chunksDf, textMap, Some(stamp))
  }

  /** The store's tombstone marks as a driver-side set — the snapshot
    * [[hot]] and [[hotSharded]] filter their walks by (empty when
    * nothing was ever deleted). */
  private def tombSnapshot(spark: SparkSession, h: Handle): java.util.HashSet[java.lang.Long] = {
    val tombPath = new org.apache.hadoop.fs.Path(h.tombstonesDir)
    val tombFs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombs = new java.util.HashSet[java.lang.Long]()
    if (tombFs.exists(tombPath))
      spark.read.parquet(h.tombstonesDir).select(col("tomb_id").cast("long"))
        .collect().foreach(r => tombs.add(Long.box(r.getLong(0))))
    tombs
  }

  /** The SHARDED executor-resident hot tier — [[Hot]]'s answer to both
    * of its measured ceilings: the single serving JVM (knee ~11.7
    * ask/s at c=8, monotone decline past it — SCALE.md r16 c-sweep;
    * batch amortization floor 0.223 s/ask past ~32-wide) and the
    * driver-RAM budget. Nodes are partitioned by CELL group into
    * `nShards` shards (shard = cell_id mod nShards — deterministic,
    * balanced under md5-derived uids); each shard's [[GraphArrays]]
    * lives in ONE partition of a persisted, DESERIALIZED RDD, i.e.
    * pinned as plain JVM arrays in an executor's block manager — built
    * once, walked by every query, re-materialized automatically on
    * executor loss (the broadcast-once/walk-many shape without
    * replicating the whole graph per executor).
    *
    * A query routes DRIVER-side against the (codebook-sized) resident
    * centroid table: its top-beam entry centroids name the shards it
    * walks, and one Spark job fans the walk out over exactly those
    * partitions ([[org.apache.spark.rdd.PartitionPruningRDD]]) — a
    * BATCH of queries is still ONE job, each shard walking every query
    * routed to it in parallel with the other shards. That turns the
    * serving bound from one JVM's scheduler/CPU into executor count,
    * and caps per-shard RAM at budget/shard by construction (the
    * [[hot]] guard applied PER SHARD — see [[hotShardBytesEstimates]]).
    *
    * Semantics: each shard keeps only INTRA-shard edges. Because every
    * top-m and up-link edge is in-cell by construction ([[Ann.knnGraph]]
    * builds cell-confined), cell-sharding drops ONLY cross-shard
    * centroid-clique edges — the walk loses mid-walk re-routing into
    * cells outside its entry set, the same confinement trade as the
    * banded edge build, and like it belongs behind a [[measureRecall]]
    * gate (HotSharded is a [[Serving]], so the existing gate runs
    * against it unchanged). At `nShards = 1` nothing is dropped and
    * the walk is BIT-FOR-BIT [[hot]]'s (spec-pinned); at any shard
    * count the distributed result is bit-for-bit the in-JVM
    * [[walkArrays]] union over the routed shards (the same code runs
    * in both places — spec-pinned against a driver-side replay).
    * Like [[Hot]], an immutable snapshot: re-shard after mutations. */
  final class HotSharded private[GraphIndex] (
      val handle: Handle,
      val nShards: Int,
      shardRdd: org.apache.spark.rdd.RDD[(Int, GraphArrays)],
      centIds: Array[Long],
      centVecs: Array[Array[Double]],
      centShards: Array[Int],
      protected val tombs: java.util.HashSet[java.lang.Long],
      protected val chunksDf: DataFrame,
      stamp: Option[String] = None) extends Resident {

    override def loadStamp: Option[String] = stamp

    private val centNorms: Array[Double] = centVecs.map(CosineKernel.norm)
    private val centFinite: Array[Boolean] = centVecs.map(CosineKernel.allFinite)

    /** Driver-side routing: the top-beam entry centroids (the walk's
      * entry rule, computed once against the resident codebook — same
      * ascending-fold cosine as [[walkArrays]], so the per-shard entry
      * sets union to EXACTLY the unsharded walk's entry set). */
    private def routeEntries(q: Array[Double]): Seq[(Long, Int)] = {
      val qnorm = CosineKernel.norm(q)
      val nz = CosineKernel.nonzeros(q)
      centIds.indices.map { ci =>
        val v = centVecs(ci)
        require(v.length == q.length,
          s"HotSharded.route: dimension mismatch (${v.length} vs ${q.length})")
        (ci, CosineKernel.cosine(
          CosineKernel.dot(q, nz, v, centFinite(ci)), qnorm, centNorms(ci)))
      }
        .sortBy { case (ci, s) => (-s, centIds(ci)) }
        .take(handle.beamWidth)
        .map {
          // shard from the centroid's ACTUAL node placement (collected
          // at build time from shardedFrames), NOT `id mod nShards`: a
          // centroid that overlaps a chunk row is placed in shard
          // `cell_id mod nShards` of ITS OWN assignment, which differs
          // from `centroid_id mod nShards` whenever the row was
          // assigned to another centroid's cell (duplicate-vector
          // cosine ties; approximate two-level assignment past
          // DefaultAutoHierAt). Recomputing the mod here routed such
          // entries to a shard whose idToIdx lacks them — the entry
          // silently contributed NOTHING, recall loss beyond the
          // documented cross-shard-edge trade.
          case (ci, _) => (centIds(ci), centShards(ci)) }
    }

    /** One fan-out job over the routed shards for a whole query batch:
      * emits (query position, uid, sim). */
    protected def walkAll(qVecs: Array[Array[Double]]): Seq[(Int, Long, Double)] = {
      val perShard: Map[Int, Seq[(Int, Array[Long])]] =
        qVecs.indices.flatMap { qi =>
          routeEntries(qVecs(qi)).groupBy(_._2).map {
            case (sid, es) => (sid, (qi, es.map(_._1).toArray))
          }
        }.groupBy(_._1).map { case (sid, xs) => (sid, xs.map(_._2)) }
      if (perShard.isEmpty) return Nil
      val touched = perShard.keySet
      val beam = handle.beamWidth
      val hops = handle.hops
      val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(
        shardRdd, pid => touched.contains(pid))
      pruned.flatMap { case (sid, g) =>
        perShard.getOrElse(sid, Nil).iterator.flatMap { case (qi, entryIds) =>
          val idxs = entryIds.flatMap(id =>
            Option(g.idToIdx.get(Long.box(id))).map(_.intValue()))
          walkArrays(g, idxs, qVecs(qi), beam, hops)
            .map { case (id, s) => (qi, id, s) }
        }
      }.collect().toSeq
    }

    /** Release the pinned shards and the cached chunk sidecar. */
    override def cool(): Unit = { shardRdd.unpersist(); super.cool() }
  }

  /** Per-shard [[hotBytesEstimate]] for [[hotSharded]]'s budget guard:
    * element i is shard i's estimated resident bytes, computed BEFORE
    * any collect from sidecar row counts × dim grouped by the shard
    * key (cell_id mod nShards). Cross-shard edges are excluded — they
    * are dropped at shard build, so they never occupy shard RAM. */
  def hotShardBytesEstimates(spark: SparkSession, h: Handle,
                             nShards: Int): Array[Long] = {
    require(nShards >= 1, s"hotSharded: nShards=$nShards must be >= 1")
    val (nodes, intraEdges, _, release) = shardedFrames(spark, h, nShards)
    try shardEstimatesFrom(spark, h, nodes, intraEdges, nShards)
    finally release()
  }

  /** The estimate arithmetic over ALREADY-BUILT shard frames — split
    * from [[hotShardBytesEstimates]] so [[hotSharded]] derives the
    * budget guard and the build inputs from ONE [[shardedFrames]]
    * computation (r17 advice: the node/edge shard joins and the
    * cross-edge count used to execute twice per tier startup). */
  private def shardEstimatesFrom(spark: SparkSession, h: Handle,
                                 nodes: DataFrame, intraEdges: DataFrame,
                                 nShards: Int): Array[Long] = {
    val nChunks = nodes.count()
    if (nChunks == 0L)
      throw new IllegalStateException(
        s"GraphIndex.hotSharded: the store at '${h.dir}' has no nodes — " +
          "nothing to serve; build the index before loading a hot tier")
    val dim = h.chunks(spark).select(size(col(h.vecCol))).head().getInt(0)
    val nodeCounts = nodes.groupBy("_shard").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val edgeCounts = intraEdges.groupBy("_shard").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    (0 until nShards).map { s =>
      nodeCounts.getOrElse(s, 0L) * (dim.toLong * 8 + 96) +
        edgeCounts.getOrElse(s, 0L) * 48
    }.toArray
  }

  /** The shard-keyed node and edge frames [[hotSharded]] builds from —
    * nodes = chunk rows (shard from their OWN cell assignment) plus
    * centroid-only rows (compacted-away structural marks keep routing;
    * chunk version wins on overlap, the [[hot]] rule, here as a
    * left-anti so the same uid can never land in two shards), edges
    * split into the intra-shard set (kept) and the cross count. */
  private def shardedFrames(spark: SparkSession, h: Handle, nShards: Int)
      : (DataFrame, DataFrame, Long, () => Unit) = {
    def shardOf(c: org.apache.spark.sql.Column) =
      pmod(c.cast("long"), lit(nShards.toLong)).cast("int")
    val chunkNodes = h.chunks(spark).select(
      col("uid").cast("long").as("_nid"),
      col(h.vecCol).cast("array<double>").as("_nvec"),
      shardOf(col("cell_id")).as("_shard"))
    val centNodes = h.centroids(spark).select(
        col("centroid_id").cast("long").as("_nid"),
        col("centroid_vec").cast("array<double>").as("_nvec"),
        shardOf(col("centroid_id")).as("_shard"))
      .join(chunkNodes.select("_nid"), Seq("_nid"), "left_anti")
    // both frames PERSIST for the lifetime of the tier startup: the
    // estimates, the cross-edge count, the centroid placement map, and
    // the shard build all consume them, and without the persist the
    // node/edge shard joins re-executed once per consumer (r17
    // advice). The caller releases via the returned thunk once the
    // shards are pinned.
    val nodes = chunkNodes.unionByName(centNodes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodeShard = nodes.select(col("_nid"), col("_shard"))
    val edges = spark.read.parquet(h.edgesDir)
      .select(col("src").cast("long"), col("dst").cast("long"))
      .join(nodeShard.select(col("_nid").as("src"), col("_shard").as("_sshard")), "src")
      .join(nodeShard.select(col("_nid").as("dst"), col("_shard").as("_dshard")), "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val crossDropped = edges.filter(col("_sshard") =!= col("_dshard")).count()
    val intra = edges.filter(col("_sshard") === col("_dshard"))
      .select(col("_sshard").as("_shard"), col("src"), col("dst"))
    (nodes, intra, crossDropped,
      () => { nodes.unpersist(); edges.unpersist(); () })
  }

  /** Build the sharded tier from a built store (see [[HotSharded]]).
    * SIZE-GUARDED PER SHARD: every shard's estimated resident layout
    * must fit `budgetBytes` (the [[hot]] guard composed — budget now
    * bounds ONE executor's pin, not the whole graph) or this refuses
    * with the worst shard's numbers before any data moves. Reports the
    * cross-shard edges dropped (zero for fresh cell-confined builds —
    * only centroid-clique edges ever cross), and with `recallFloor >
    * 0` + `recallKeyCols` ENFORCES quality: the tier's own walk is
    * measured against exact brute force ([[measureRecall]] — pass the
    * real workload as `recallQueriesDf` when one exists) and a result
    * under the floor releases the tier and throws, the
    * [[buildServing]] gatedPublish discipline applied to serving. */
  def hotSharded(spark: SparkSession, h: Handle, nShards: Int,
                 budgetBytes: Long = DefaultHotBudgetBytes,
                 recallFloor: Double = 0.0,
                 recallKeyCols: Seq[String] = Nil,
                 recallQueriesDf: Option[DataFrame] = None,
                 recallQueries: Int = 20, recallK: Int = 10): HotSharded = {
    require(nShards >= 1, s"hotSharded: nShards=$nShards must be >= 1")
    require(recallFloor <= 0.0 || recallKeyCols.nonEmpty,
      "hotSharded: a recallFloor needs recallKeyCols (the store's natural " +
        "key columns) so measureRecall can compare walk hits to ground truth")
    // stamp before any store read — see hot()'s rationale
    val stamp = storeStamp(spark, h)
    val (nodes, intra, crossDropped, release) = shardedFrames(spark, h, nShards)
    try {
    val ests = shardEstimatesFrom(spark, h, nodes, intra, nShards)
    val worst = ests.indices.maxBy(i => ests(i))
    if (ests(worst) > budgetBytes)
      throw new IllegalStateException(
        f"GraphIndex.hotSharded: shard $worst%d of $nShards%d estimates " +
          f"${ests(worst)}%,d bytes (~${ests(worst) / (1L << 20)}%,d MiB) " +
          f"resident — over the per-shard budget $budgetBytes%,d " +
          f"(~${budgetBytes / (1L << 20)}%,d MiB). Refusing before any " +
          "build work. Raise nShards (halves the worst shard roughly " +
          "2×), or raise budgetBytes deliberately.")
    if (crossDropped > 0)
      System.err.println(s"[graph] hotSharded($nShards): dropped " +
        s"$crossDropped cross-shard centroid-clique edge(s) — mid-walk " +
        "re-routing outside a query's entry shards is confined; " +
        "recall-gate the sharded tier like any confined build " +
        "(pass recallFloor + recallKeyCols to make that a refusal)")
    val part = new org.apache.spark.HashPartitioner(nShards)
    val nodesRdd = nodes.rdd
      .map(r => (r.getInt(2), (r.getLong(0), r.getSeq[Double](1).toArray)))
      .partitionBy(part)
    val edgesRdd = intra.rdd
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
      .partitionBy(part)
    val shardRdd = nodesRdd.zipPartitions(edgesRdd, preservesPartitioning = true) {
      (ns, es) =>
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val seen = new java.util.HashMap[java.lang.Long, Integer]()
        var sid = -1
        ns.foreach { case (s, (id, v)) =>
          sid = s
          if (!seen.containsKey(Long.box(id))) {
            seen.put(Long.box(id), Int.box(ids.length))
            ids += id
            vecs += v
          }
        }
        if (ids.isEmpty) Iterator.empty
        else {
          val norms = vecs.map(CosineKernel.norm).toArray
          val adjBuf = Array.fill(ids.length)(
            scala.collection.mutable.ArrayBuffer.empty[Int])
          es.foreach { case (_, (s, d)) =>
            val si = seen.get(Long.box(s))
            val di = seen.get(Long.box(d))
            if (si != null && di != null) adjBuf(si.intValue()) += di.intValue()
          }
          Iterator.single((sid,
            new GraphArrays(ids.toArray, vecs.toArray, norms,
              adjBuf.map(_.toArray))))
        }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    shardRdd.count() // materialize: pin every shard before serving
    val centRows = h.centroids(spark).orderBy("centroid_id")
      .select(col("centroid_id").cast("long"),
        col("centroid_vec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // centroid → shard from the ACTUAL node placement (≤|C| rows),
    // consumed by routeEntries — see its scaladoc for why recomputing
    // `id mod nShards` there was a silent recall loss
    val centShardMap = nodes
      .join(h.centroids(spark).select(col("centroid_id").cast("long").as("_nid")),
        Seq("_nid"))
      .select(col("_nid"), col("_shard"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val centShards = centRows.map { case (id, _) =>
      centShardMap.getOrElse(id, throw new IllegalStateException(
        s"GraphIndex.hotSharded: centroid $id has no node placement — " +
          "the store's centroid sidecar and node set disagree"))
    }
    val chunksDf = h.chunks(spark).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    chunksDf.count()
    val tier = new HotSharded(h, nShards, shardRdd, centRows.map(_._1),
      centRows.map(_._2), centShards, tombSnapshot(spark, h), chunksDf,
      Some(stamp))
    // the r17 posture gap: cross-shard drops only WARNED while every
    // published store REFUSES below a floor (gatedPublish). With a
    // floor, the sharded tier measures its own walk against exact
    // brute force (measureRecall's leave-self-out probes, or the
    // caller's real workload) and refuses under it, naming the
    // dropped-edge count — the same discipline, applied to the tier.
    if (recallFloor > 0.0) {
      val idx = h.chunks(spark).drop("uid", "uid_bucket", "cell_id")
      val recall = measureRecall(spark, tier, idx, recallKeyCols, h.vecCol,
        recallQueries, recallK, recallQueriesDf)
      if (recall < recallFloor) {
        tier.cool()
        throw new IllegalStateException(
          f"GraphIndex.hotSharded: measured recall@$recallK = $recall%.3f " +
            f"over the sharded walk is below the floor $recallFloor%.2f " +
            f"($nShards shards, $crossDropped cross-shard edge(s) dropped) " +
            "— the tier was released, not served. Lower nShards, serve " +
            "from hot(), or lower the floor deliberately.")
      }
    }
    tier
    } finally release()
  }

  /** Stable 60-bit row id from the natural key columns: the first 15
    * md5 hex chars as a long. Map-only (a global row_number would
    * single-partition 100 TB through one sort); deterministic across
    * runs AND replayable in the SQL oracle (md5 hex text is
    * engine-identical). 2^60 space makes collisions negligible at any
    * plausible chunk count. */
  def uidFor(keyCols: Seq[String]): org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("#", keyCols.map(c => col(c).cast("string")): _*)),
      1, 15), 16, 10).cast("long")

  private def bucketOf(uid: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(uid, lit(nBuckets))

  /** Node-count crossover at which the DEFAULT edge build switches
    * from the plain in-cell pair join to the OR-banded LSH-confined one
    * ([[Ann.knnGraphLshBanded]] over two 2-plane data-row bands — the
    * q_rag_graph_recipe recipe, oracle-replayable because the planes
    * are the 4 lowest-uid rows' own vectors).
    *
    * Why 100k and not the equal-cost point: the sf1→sf10 decade
    * (SCALECURVE_SF10.json, ~108k → ~1.08M nodes) measured the plain
    * edge stage at 22.2×/decade (~N^1.35, Σ|cell|² under the √N
    * codebook) vs the banded one at 9.7× (~N^0.99), with banding
    * costing 1.81× at 108k nodes (11.4 vs 20.6 s whole-query). Fitting
    * those power laws, costs cross at ~5× the sf1 corpus ≈ 5×10^5
    * nodes — but the penalty for banding early is BOUNDED (≤1.81×,
    * measured, and shrinking toward parity), while the penalty for
    * banding late compounds per decade without bound. The default
    * flips at 10^5 — below the fitted crossover, deliberately on the
    * bounded side of that asymmetry — so the default build is never
    * the named scale-killer. Explicit `lshPlanes`/`lshBands` always
    * win; `autoBandAt = Long.MaxValue` restores the old always-plain
    * default. */
  val DefaultAutoBandAt: Long = 100000L

  /** Node-count crossover at which the DEFAULT cell ASSIGNMENT switches
    * from the flat argmax (N·|C| dots — N^1.5 at the √N codebook, the
    * flagship's one remaining super-linear term after r16 banded the
    * edge stage) to two-level routing through |S| = ⌊√|C|⌋
    * head-of-codebook supers at the build's `superProbes`
    * ([[Ann.assignCellsHier]] — |S| + p·|C|/|S| ≈ (1+p)·N^0.25 dots per
    * row, ~N^1.25 corpus-wide; q_ann_graph_hier measured the two-level
    * build at 16.4×/decade at sf10 where the flat form predicts 31.6×).
    *
    * Same crossover value and same asymmetric-penalty reasoning as
    * [[DefaultAutoBandAt]] (SCALE.md): at 10^5 nodes the flat
    * assignment term is a trivial 3·10^7 dots, so routing early costs
    * ~nothing (and below the crossover the default is bit-for-bit the
    * historical flat build, spec-pinned), while routing late compounds
    * ~√10 ≈ 3.2× per decade without bound. Assignment becomes
    * approximate past the crossover (IVF's nprobe trade — head-of-
    * codebook supers at p = `superProbes`; pass TRAINED `superVecs`
    * for recall-critical serving, the [[buildServing]] path, which
    * derives its own supers and is unaffected by this default).
    * Explicit `nSupers`/`superVecs` always win;
    * `autoHierAt = Long.MaxValue` restores the always-flat default. */
  val DefaultAutoHierAt: Long = 100000L

  /** Sentinel for [[build]]'s `nCentroids`: derive |C| = ⌊√N⌋ from the
    * row count the build's uid guard already aggregates — callers that
    * want the production codebook discipline no longer pre-count the
    * (often chunk→embed-expensive) input themselves. */
  val DeriveSqrtN: Int = -1

  /** The size-derived default super count: 0 (flat, bit-for-bit the
    * historical behavior) below the crossover; ⌊√|C|⌋ at/above it. */
  private def deriveAutoSupers(n: Long, nCentroids: Int, autoHierAt: Long): Int =
    if (n < autoHierAt) 0
    else math.max(1, math.floor(math.sqrt(nCentroids.toDouble)).toInt)

  /** The size-derived default bands: above the crossover, two 2-plane
    * sign-LSH bands whose plane vectors are the 4 lowest-uid rows' own
    * vectors — deterministic in the row set alone (so [[rebuild]] ≡
    * fresh [[build]] holds), and exactly what the q_rag_graph_recipe
    * oracle replays by uid order. Below the crossover: none (the plain
    * build, bit-for-bit the pre-auto-band behavior). */
  private def deriveAutoBands(withUid: DataFrame, vecCol: String,
                              n: Long, autoBandAt: Long): Seq[Seq[Seq[Double]]] = {
    if (n < autoBandAt) Nil
    else {
      val rows = withUid.orderBy("uid").limit(4)
        .select(col(vecCol).cast("array<double>")).collect()
        .map(_.getSeq[Double](0)).toSeq
      // a corpus past the crossover trivially has >= 4 rows; the guard
      // keeps a pathological autoBandAt=1 test fixture honest
      if (rows.length >= 4) Seq(rows.take(2), rows.drop(2)) else Nil
    }
  }

  /** Ingest-time build over an embedded index (any schema with `vecCol`
    * plus natural-key `keyCols`). Entry centroids are the `nCentroids`
    * lowest-uid rows — with hashed uids that is a deterministic random
    * sample (the same role [[Ann.headCentroids]] plays for IVF;
    * [[Ann.kmeansRefine]] drops in upstream when data-aware cells are
    * worth the extra passes). The sidecar is written
    * `partitionBy(uid_bucket)` — the search-path access (fetch ~beam·
    * degree uids) partition-prunes; it also carries `cell_id` so
    * [[insert]] can read a cell's members with a pushed filter instead
    * of re-assigning the corpus. The whole build is the one
    * corpus-sized job; everything after reads the store.
    *
    * The DEFAULT edge build is size-derived ([[DefaultAutoBandAt]]):
    * below the crossover it is the plain in-cell pair join, bit-for-bit
    * the historical behavior; at/above it the in-cell join is OR-band-
    * confined to two data-row sign-LSH bands — the measured scale-safe
    * shape. The DEFAULT assignment is size-derived the same way
    * ([[DefaultAutoHierAt]]): flat argmax below the crossover,
    * two-level routing through ⌊√|C|⌋ head-of-codebook supers at
    * `superProbes` at/above it. Passing explicit `lshPlanes`/
    * `lshBands` (edges) or `nSupers`/`superVecs` (assignment)
    * overrides the respective derivation. */
  def build(spark: SparkSession, index: DataFrame, keyCols: Seq[String],
            vecCol: String, dir: String, nCentroids: Int = 8, m: Int = 4,
            nBuckets: Int = 16, beamWidth: Int = 8, hops: Int = 3,
            nSupers: Int = 0, lshPlanes: Seq[Seq[Double]] = Nil,
            superProbes: Int = 2, superVecs: Seq[Seq[Double]] = Nil,
            lshBands: Seq[Seq[Seq[Double]]] = Nil,
            autoBandAt: Long = DefaultAutoBandAt,
            autoHierAt: Long = DefaultAutoHierAt): Handle = {
    requireTopology(nCentroids, m, nBuckets, beamWidth, hops)
    val in = uidInput(index, keyCols, vecCol)
    try buildUid(spark, in, vecCol, dir, nCentroids, m, nBuckets, beamWidth, hops,
      nSupers, lshPlanes, superProbes, superVecs, lshBands, autoBandAt, autoHierAt)
    finally in.rows.unpersist() // no-op under localCheckpoint; frees the persist path
  }

  private def requireTopology(nCentroids: Int, m: Int, nBuckets: Int,
                              beamWidth: Int, hops: Int): Unit = {
    require(nCentroids == DeriveSqrtN || nCentroids >= 1,
      s"GraphIndex.build: nCentroids=$nCentroids must be >= 1 (or " +
        s"DeriveSqrtN to size-derive the codebook)")
    require(m >= 1 && nBuckets >= 1 && beamWidth >= 1 && hops >= 0,
      s"GraphIndex.build: m=$m nBuckets=$nBuckets " +
        s"beamWidth=$beamWidth hops=$hops must all be positive (hops >= 0)")
  }

  /** The uid'd input of a build, materialized once, with the one guard
    * aggregate over it: row count `n`, and `dim` (the widest vector; 0
    * for an empty input). */
  private final case class UidInput(rows: DataFrame, n: Long, dim: Int)

  /** Materialize `index` + `uid` ONCE — a build takes several actions
    * over the input (key guard, super seeding and training, centroid
    * pick, sidecar write), and an expensive upstream (chunk → embed is
    * the usual caller) must not re-run per action — and run the key
    * guard: duplicate natural keys (or a 2^-60 hash collision) would
    * silently merge two chunks into one graph node, so the build fails
    * loudly instead. One aggregate gives n, the distinct uids and dim. */
  private def uidInput(index: DataFrame, keyCols: Seq[String], vecCol: String): UidInput = {
    val rows = graft.Materialize(index.withColumn("uid", uidFor(keyCols)))
    val r = rows.agg(count(lit(1)), countDistinct(col("uid")), max(size(col(vecCol)))).head()
    val (n, nDistinct) = (r.getLong(0), r.getLong(1))
    require(n == nDistinct,
      s"GraphIndex.build: ${n - nDistinct} duplicate uid(s) — keyCols " +
        s"${keyCols.mkString("(", ",", ")")} are not unique over the index")
    UidInput(rows, n, if (r.isNullAt(2)) 0 else r.getInt(2))
  }

  /** [[build]] over an already-materialized, key-guarded input. */
  private def buildUid(spark: SparkSession, in: UidInput, vecCol: String, dir: String,
                       nCentroids: Int, m: Int, nBuckets: Int, beamWidth: Int,
                       hops: Int, nSupers: Int, lshPlanes: Seq[Seq[Double]],
                       superProbes: Int, superVecs: Seq[Seq[Double]],
                       lshBands: Seq[Seq[Seq[Double]]],
                       autoBandAt: Long, autoHierAt: Long): Handle = {
    val n = in.n
    // |C| = ⌊√N⌋ derivation rides the guard aggregate's n (r19): the
    // callers that want the production codebook discipline previously
    // pre-counted the input themselves — one extra full pass over the
    // (chunk → embed) upstream that this build was already counting.
    val effCents =
      if (nCentroids == DeriveSqrtN)
        math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong).toInt
      else nCentroids
    val effBands =
      if (lshPlanes.nonEmpty || lshBands.nonEmpty) lshBands
      else deriveAutoBands(in.rows, vecCol, n, autoBandAt)
    val effSupers =
      if (nSupers > 0 || superVecs.nonEmpty) nSupers
      else deriveAutoSupers(n, effCents, autoHierAt)
    buildFromUid(spark, in.rows, vecCol, dir, effCents, m,
      nBuckets, beamWidth, hops, effSupers, lshPlanes, superProbes, superVecs,
      effBands).copy(vecCol = vecCol)
  }

  /** Mean recall@k of a built store's walk vs EXACT brute force. The
    * probe workload is request-sized: ONE collect holds it on the
    * driver. Exact ground truth is one map-side pass that scores every
    * corpus row against all probes ([[graft.functions.QueryCosines]] —
    * nQueries·N dots, small next to the build the caller just paid, and
    * no probe vector copied onto a row) and explodes (probe, sim), then
    * a per-probe top-k window; the approximate side is one batched walk
    * over the store. Both sides break ties (sim desc, uid asc), and
    * recall is set overlap over natural keys. Query ids must be
    * distinct.
    *
    * Probe choice is what makes the number honest. Default probes are
    * the `nQueries` lowest-uid rows' own vectors (deterministic, no
    * RNG) with the probe's OWN ROW EXCLUDED from both sides: a
    * self-including in-corpus probe is trivially easy (the walk anchors
    * on an indexed point and recall-of-self is free), and was measured
    * to OVERSTATE real-query recall badly — 0.955 self-including vs
    * 0.405 on text-derived queries for one mis-trained store
    * (SCALE.md). When the caller HAS a real query workload, pass it as
    * `queries` (query_id, vector) — that number is the one a serving
    * consumer experiences, and is what [[buildServing]]'s gate should
    * see whenever the workload exists at build time. */
  def measureRecall(spark: SparkSession, serving: Serving, index: DataFrame,
                    keyCols: Seq[String], vecCol: String,
                    nQueries: Int = 20, k: Int = 10,
                    queries: Option[DataFrame] = None): Double = {
    require(nQueries >= 1 && k >= 1,
      s"measureRecall: nQueries=$nQueries k=$k must be >= 1")
    val withUid = index.withColumn("_muid", uidFor(keyCols))
    val leaveSelfOut = queries.isEmpty
    val qDf = queries.map { q =>
      val cols = q.columns
      require(cols.length == 2,
        s"measureRecall: queries must be (query_id, vector), got ${cols.toSeq}")
      q.select(col(cols(0)).as("query_id"),
        col(cols(1)).cast("array<double>").as("_qv"))
    }.getOrElse(withUid.orderBy("_muid").limit(nQueries)
      .select(col("_muid").as("query_id"),
        col(vecCol).cast("array<double>").as("_qv")))
    val (qids, table) = Ann.queryTable(qDf, "query_id", "_qv")
    def keyOf(r: org.apache.spark.sql.Row): Seq[Any] =
      keyCols.indices.map(i => r.get(i + 1))
    val exactBase = probeScores(withUid, keyCols, vecCol, table)
    val exact = (if (leaveSelfOut) exactBase.filter(col("_muid") =!=
                   element_at(typedLit(qids), col("_qi") + 1))
                 else exactBase)
      .withColumn("_rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("_qi").orderBy(desc("_sim"), col("_muid"))))
      .filter(col("_rn") <= k)
      .select(col("_qi") +: keyCols.map(col): _*)
      .collect().groupBy(_.getInt(0)).map { case (qi, rs) => qids(qi) -> rs.map(keyOf).toSet }
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("sim"), col("uid"))
    // the walk reads the probes back from the driver, not from qDf's lineage
    val probeDf = spark.createDataFrame(qids.toSeq.zip(table.toSeq.map(_.toSeq)))
      .toDF("query_id", "_qv")
    val gotBase = serving.searchBatch(spark, probeDf, "query_id", "_qv")
    val got = (if (leaveSelfOut) gotBase.filter(col("uid") =!= col("query_id"))
               else gotBase)
      .withColumn("_rn", row_number().over(wg))
      .filter(col("_rn") <= k)
      .select(col("query_id") +: keyCols.map(col): _*)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(keyOf).toSet }
    // per-query normalization is min(k, |truth|), not k: an index with
    // fewer than k rows whose walk returns the exact answer measures
    // 1.0, not |index|/k — the same honesty fix as Ann.meanRecall (a
    // tiny-but-perfect store must not be deleted by the gate)
    val recalls = exact.toSeq.map { case (q, truth) =>
      truth.intersect(got.getOrElse(q, Set.empty)).size.toDouble /
        math.max(1, math.min(k, truth.size))
    }
    // an empty workload must refuse LOUDLY: recalls.sum/0 is NaN, and
    // NaN < recallFloor is false — an accidentally-empty recallQueriesDf
    // would otherwise publish a store with recall=NaN, silently
    // bypassing the very gate this measurement exists to enforce
    require(recalls.nonEmpty,
      "measureRecall: the query workload produced zero probes " +
        "(empty queries DataFrame, or an index too small to probe) — " +
        "refusing to report a recall over nothing")
    recalls.sum / recalls.length
  }

  /** [[measureRecall]]'s exact side before its top-k: every row of
    * `withUid` (which carries `_muid`) scored against every probe of
    * `table` — (`_muid`, keyCols, `_qi` the probe index, `_sim`). */
  private[graft] def probeScores(withUid: DataFrame, keyCols: Seq[String], vecCol: String,
                                 table: Array[Array[Double]]): DataFrame =
    withUid
      .select(col("_muid") +: keyCols.map(col) :+
        explode(graft.functions.QueryCosines.all(col(vecCol), table)).as("_s"): _*)
      .select(col("_muid") +: keyCols.map(col) :+
        col("_s.qi").as("_qi") :+ col("_s.sim").as("_sim"): _*)

  /** The PRODUCTION serving build — the measured-recipe defaults wired
    * in, behind a recall gate. Everything size-derives: |C| = ⌊√N⌋
    * (the codebook discipline every scaled query carries), coarse
    * quantizer |S| = ⌊√|C|⌋ with a TRAINED super book
    * ([[Ann.kmeansRefine]], optionally over a deterministic hashed
    * `trainSampleFrac` of the corpus — at N = 1e9 the trainer is
    * otherwise the next bottleneck) probed at `superProbes` (measured
    * on the real PMC corpus: trained supers at p=4 reproduce the flat
    * build's recall@10 of 0.98 at 69 vs 181 dots/row — SCALE.md), and
    * optionally `lshBands` OR-amplified edge bands to confine the
    * in-cell pair stage — ORTHOGONALIZED by default
    * ([[Ann.orthogonalPlaneBands]]; correlated centered bands cap at
    * 0.88 recall where orthogonal ones recover 0.98 at beam 64 —
    * callers turning bands on should widen the walk, the measured
    * full-recipe point is bands=2x2, m=32, beam=64 at 0.975).
    *
    * The gate is the part SCALE.md's own warning asked for ("never
    * ship a hier/LSH serving config without a recall row"): after the
    * build, [[measureRecall]] probes the store against exact brute
    * force, and a result below `recallFloor` DELETES the store and
    * refuses loudly — a silently low-recall index never reaches
    * serving. Pass the REAL query workload as `recallQueriesDf`
    * whenever one exists at build time: the default in-corpus
    * leave-self-out probes are deterministic and workload-free, but an
    * in-corpus probe can still flatter a store whose routing is tuned
    * to indexed points (measured gap on PMC: see measureRecall's
    * scaladoc) — the workload number is the honest one. Returns the
    * handle and the measured recall (record it; it is the build's
    * acceptance evidence). */
  def buildServing(spark: SparkSession, index: DataFrame, keyCols: Seq[String],
                   vecCol: String, dir: String,
                   m: Int = 16, nBuckets: Int = 64, beamWidth: Int = 32,
                   hops: Int = 3, superProbes: Int = 4, trainIters: Int = 2,
                   trainSampleFrac: Double = 1.0,
                   lshBands: Int = -1, lshPlanesPerBand: Int = 2,
                   lshOrthogonal: Boolean = true,
                   recallFloor: Double = 0.9, recallQueries: Int = 20,
                   recallK: Int = 10,
                   recallQueriesDf: Option[DataFrame] = None,
                   autoBandAt: Long = DefaultAutoBandAt): (Handle, Double) = {
    requireTopology(DeriveSqrtN, m, nBuckets, beamWidth, hops)
    val in = uidInput(index, keyCols, vecCol)
    try {
      val n = in.n
      require(n > 0, "buildServing: empty index")
      // lshBands < 0 (the default) SIZE-DERIVES the band count: 0 below
      // the measured crossover (banding costs ~1.8× while cells are
      // small), 2 at/above it (the Σ|cell|² in-cell join is the one
      // edge stage measured super-linear at the sf10 decade — see
      // [[DefaultAutoBandAt]]). Explicit 0 still means "never band";
      // the recall gate below guards quality either way.
      val effLshBands =
        if (lshBands >= 0) lshBands
        else if (n >= autoBandAt) 2
        else 0
      val nCents = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong).toInt
      val nSupers = math.max(1, math.floor(math.sqrt(nCents.toDouble)).toInt)
      // super seeds: head rows in NATURAL-KEY order — measured to
      // matter enormously on sparse TF-IDF (the PMC recall probe's seed
      // diagnostics, SCALE.md "Measured scaling curve" routing-quality
      // table; the probe itself is in commit be29786): head-order seeds
      // train supers that route text queries at 0.98, hash-random seeds
      // collapse to 0.405 even trained on the full corpus; k-means on
      // sparse high-dim spaces is that seed-sensitive, and document-head
      // rows are dense topic-representative vectors where random
      // mid-article chunks are not
      val seeds = in.rows.orderBy(keyCols.map(col): _*).limit(nSupers)
        .select(col("uid").as("centroid_id"),
          col(vecCol).cast("array<double>").as("centroid_vec"))
      val trainedSupers = Ann.kmeansRefine(in.rows, "uid", vecCol, seeds, in.dim,
          iters = trainIters, sampleFrac = trainSampleFrac)
        .orderBy("centroid_id")
        .select(col("centroid_vec").cast("array<double>")).collect()
        .map(_.getSeq[Double](0)).toSeq
      val bands =
        if (effLshBands > 0 && lshOrthogonal)
          Ann.orthogonalPlaneBands(in.rows, "uid", vecCol, effLshBands, lshPlanesPerBand)
        else if (effLshBands > 0)
          Ann.centeredPlaneBands(in.rows, "uid", vecCol, effLshBands, lshPlanesPerBand)
        else Nil
      // the band decision was made HERE (size-derived or explicit) —
      // suppress build()'s own auto-derivation so an explicit
      // lshBands=0 stays genuinely unbanded
      val h = buildUid(spark, in, vecCol, dir,
        nCentroids = nCents, m = m, nBuckets = nBuckets,
        beamWidth = beamWidth, hops = hops, nSupers = nSupers, lshPlanes = Nil,
        superProbes = superProbes, superVecs = trainedSupers,
        lshBands = bands, autoBandAt = Long.MaxValue, autoHierAt = DefaultAutoHierAt)
      val recall = measureRecall(spark, h, in.rows, keyCols, vecCol,
        recallQueries, recallK, recallQueriesDf)
      if (recall < recallFloor) {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        throw new IllegalStateException(
          f"GraphIndex.buildServing: measured recall@$recallK = $recall%.3f over " +
            f"$recallQueries probes is below the floor $recallFloor%.2f " +
            s"(|C|=$nCents, |S|=$nSupers, p=$superProbes, bands=$effLshBands" +
            s"x$lshPlanesPerBand, trainFrac=$trainSampleFrac) — the store was " +
            "deleted, not published. Raise superProbes / drop the LSH bands / " +
            "train on a larger fraction, or lower the floor deliberately.")
      }
      (h, recall)
    } finally in.rows.unpersist()
  }

  /** Re-open a built store from its own meta sidecar — a serving
    * process needs only the path; every layout constant a prober must
    * agree on (bucket modulus above all: a mismatched one silently
    * prunes every partition away) travels WITH the store, exactly like
    * the BM25 index's meta. [[build]] and [[rebuild]] both (re)write
    * the sidecar, so an open() after a topology-changing rebuild sees
    * the new layout. */
  def open(spark: SparkSession, dir: String): Handle = {
    val r = spark.read.parquet(dir + "/meta").head()
    Handle(dir, r.getAs[Int]("n_buckets"), r.getAs[Int]("beam_width"),
      r.getAs[Int]("hops"), r.getAs[Int]("m"), r.getAs[String]("vec_col"))
  }

  /** The store-writing core shared by [[build]] and [[rebuild]]: input
    * is already uid'd and unique-keyed.
    *
    * Build-scaling knobs (both default OFF — the flat build is the
    * hash-gated reference semantics; [[rebuild]] always trues stores up
    * to the flat discipline):
    *  - `nSupers > 0`: assignment routes through
    *    [[Ann.assignCellsHier]]'s two-level coarse quantizer —
    *    N·(|S| + |C|/|S|) dots instead of N·|C| (the N^1.25-vs-N^1.5
    *    difference at the √N codebook);
    *  - `lshPlanes` non-empty: the in-cell edge stage runs
    *    [[Ann.knnGraphLsh]] — candidates confined to a deterministic
    *    sign-LSH bucket inside the cell, bounding the pair set by the
    *    largest cell×bucket block instead of Σ|cell|². Plane vectors
    *    are the CALLER's (mean-center them for non-negative embedding
    *    spaces like TF-IDF, where raw sign bits all land positive). */
  private def buildFromUid(spark: SparkSession, withUid: DataFrame,
                           vecCol: String, dir: String, nCentroids: Int,
                           m: Int, nBuckets: Int, beamWidth: Int,
                           hops: Int, nSupers: Int = 0,
                           lshPlanes: Seq[Seq[Double]] = Nil,
                           superProbes: Int = 2,
                           superVecs: Seq[Seq[Double]] = Nil,
                           lshBands: Seq[Seq[Seq[Double]]] = Nil): Handle = {
    spark.range(1).select(lit(nBuckets).as("n_buckets"), lit(m).as("m"),
        lit(beamWidth).as("beam_width"), lit(hops).as("hops"),
        lit(vecCol).as("vec_col"))
      .coalesce(1).write.mode("overwrite").parquet(dir + "/meta")
    val cents = withUid.orderBy("uid").limit(nCentroids)
      .select(col("uid").as("centroid_id"), col(vecCol).as("centroid_vec"))
    cents.write.mode("overwrite").parquet(dir + "/centroids")
    val storedCents = spark.read.parquet(dir + "/centroids")
    val assigned = (if (nSupers > 0 || superVecs.nonEmpty)
        Ann.assignCellsHier(withUid, "uid", vecCol,
          storedCents, "centroid_id", "centroid_vec", nSupers, superProbes,
          superVecs)
      else
        Ann.assignCells(withUid, "uid", vecCol,
          storedCents, "centroid_id", "centroid_vec")).drop("cell_sim")
    assigned
      .withColumn("uid_bucket", bucketOf(col("uid"), nBuckets))
      // cluster writers by the partition column: one file per bucket
      // dir instead of (input partitions × nBuckets) shards — the
      // search path partition-prunes, so its latency rides files-per-
      // bucket, and small-file sprawl is the classic partitioned-store
      // failure mode at 100 TB
      .repartition(col("uid_bucket"))
      .write.mode("overwrite").partitionBy("uid_bucket").parquet(dir + "/chunks")
    // knnGraph over the SAME materialized lineage, not a store
    // re-read: the quadratic stage then runs at the input's
    // parallelism (the sidecar's nBuckets dirs would cap it at
    // nBuckets tasks — measurably slower whenever nBuckets < cores),
    // and the map-only cell assignment recomputed per branch is
    // cheaper than another corpus read
    require(lshPlanes.isEmpty || lshBands.isEmpty,
      "GraphIndex.build: pass lshPlanes (one band) OR lshBands (OR-amplified), not both")
    val edges = if (lshBands.nonEmpty)
        Ann.knnGraphLshBanded(assigned, "uid", vecCol,
          storedCents, "centroid_id", "centroid_vec", m, lshBands)
      else if (lshPlanes.nonEmpty)
        Ann.knnGraphLsh(assigned, "uid", vecCol,
          storedCents, "centroid_id", "centroid_vec", m, lshPlanes)
      else
        Ann.knnGraph(assigned, "uid", vecCol,
          storedCents, "centroid_id", "centroid_vec", m)
    Ann.writeGraphIndex(edges, dir + "/edges", nBuckets)
    Handle(dir, nBuckets, beamWidth, hops, m)
  }

  /** Live incremental ingest (the reference's upload path: new docs
    * join the running index without a rebuild). New rows are uid'd and
    * cell-assigned against the STORED centroids, linked by
    * [[Ann.graphInsert]] (batch-aware top-m + reverse edges + up-links)
    * against ONLY the members of the touched cells — read from the
    * sidecar with a pushed `cell_id` filter, never a corpus re-scan —
    * and both stores grow by `mode("append")` files: existing data is
    * never rewritten. Cost is |batch|·|touched cells|, independent of
    * index size. Returns the number of edge rows appended. */
  /** Drift accounting for [[insert]]: the `_drift` sidecar carries
    * (inserts_since_rebuild, last_recall) — incremental inserts are a
    * provably bounded approximation that [[rebuild]] trues up
    * (GraphIndexSpec pins rebuild ≡ fresh build), but WITHOUT a
    * cadence nothing ever says when a store has drifted enough to need
    * it. [[driftStatus]] reads the counter; [[driftProbe]] runs the
    * sampled recall measurement and surfaces the rebuild signal.
    * Reset (sidecar deleted) by [[rebuild]]. */
  private def driftPath(h: Handle) = new org.apache.hadoop.fs.Path(h.dir + "/_drift")

  private def driftAsidePath(h: Handle) =
    new org.apache.hadoop.fs.Path(h.dir + "/_drift_prev")

  /** (inserts since the last rebuild, the last cadence-probe recall if
    * one ever ran). (0, None) for a store that never inserted. If a
    * crash mid-[[writeDrift]] swap left only the renamed-aside prior
    * counter, its CONTENTS are read from the aside — the accumulated
    * rebuild-cadence signal survives the crash (the whole point of the
    * rename-aside-then-swap discipline) — but this is a READ API and
    * never mutates the store: the r16 shape renamed the aside back
    * here, which made a reader racing a live [[writeDrift]]'s swap
    * window (after rename-aside, before publish) "recover" the aside
    * out from under the writer — its publish rename then failed
    * spuriously — and made nominally read-only callers fail outright
    * on read-only filesystems. The on-disk restore happens only in
    * [[writeDrift]] (the next write publishes the merged counter and
    * sweeps the aside) or [[repairDrift]]. */
  def driftStatus(spark: SparkSession, h: Handle): (Long, Option[Double]) = {
    val (inserts, recall, _) = driftStatusFull(spark, h)
    (inserts, recall)
  }

  /** Cheap point-in-time fingerprint of a store's MUTABLE surface —
    * the staleness contract for resident snapshots (r17 verdict: hot /
    * hotText / hotSharded and everything derived from the same corpus
    * — the resident TF-IDF vocab, the resident chunk text — were
    * point-in-time copies with no signal when the store they mirror
    * moved on). Folds the `_drift` insert counter with one-level file
    * listings (name, length, mtime) of the edge, chunk, and tombstone
    * dirs: inserts bump the counter and the chunk listing, deletes add
    * tombstone files, rebuild/compact rewrite the edge dir — each
    * mutation class moves the stamp. Pure filesystem metadata + one
    * tiny sidecar read; zero Spark jobs, so a serving process can poll
    * it per-request ([[graft.AskServer]]'s `staleCheck` knob) or on a
    * cadence. NOT a content hash: a byte-identical rewrite restamps
    * (false staleness is a spurious re-hot, never a wrong answer). */
  def storeStamp(spark: SparkSession, h: Handle): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val md = java.security.MessageDigest.getInstance("MD5")
    def fold(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p))
        fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
          md.update((st.getPath.getName + "|" + st.getLen + "|" +
            st.getModificationTime + ";")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }
    val (inserts, _) = driftStatus(spark, h)
    md.update(("drift=" + inserts + ";")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    fold(h.edgesDir); fold(h.chunksDir); fold(h.tombstonesDir)
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Explicit repair entry point for a `_drift` swap interrupted by a
    * crash (aside present, `_drift` absent): restores the aside as the
    * live sidecar. [[driftStatus]] already READS the aside in that
    * state, and the next [[writeDrift]] re-publishes through it, so
    * this is only needed to normalize the on-disk layout by hand.
    * Never call it while a writer is live against the store. */
  def repairDrift(spark: SparkSession, h: Handle): Boolean = {
    val p = driftPath(h)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = driftAsidePath(h)
    if (!fs.exists(p) && fs.exists(aside)) {
      if (!fs.rename(aside, p))
        throw new IllegalStateException(
          s"GraphIndex.repairDrift: could not restore the interrupted " +
            s"_drift swap from $aside — fix the filesystem first")
      true
    } else false
  }

  /** [[driftStatus]] plus the insert count at the LAST cadence probe
    * (0 when none ever ran) — what [[driftProbe]]'s due test runs on. */
  private def driftStatusFull(spark: SparkSession, h: Handle): (Long, Option[Double], Long) = {
    val p = driftPath(h)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = driftAsidePath(h)
    // crash tolerance, read-only: swap died between aside and publish —
    // the prior counter IS the aside; read it where it lies rather than
    // silently resetting to a fresh-store (0, None). No rename here
    // (see the scaladoc); writeDrift/repairDrift own the restore.
    val readFrom =
      if (fs.exists(p)) Some(p)
      else if (fs.exists(aside)) Some(aside)
      else None
    if (readFrom.isEmpty) (0L, None, 0L)
    else {
      val df = spark.read.parquet(readFrom.get.toString)
      val r = df.head()
      val rec = r.getAs[Double]("last_recall")
      // sidecars written before the cadence fix lack the column — their
      // probe position is unknown; 0 makes the next probe fire as soon
      // as the cadence allows, the conservative reading
      val probed =
        if (df.columns.contains("last_probe_inserts"))
          r.getAs[Long]("last_probe_inserts")
        else 0L
      (r.getAs[Long]("inserts_since_rebuild"),
        if (rec.isNaN) None else Some(rec), probed)
    }
  }

  private def writeDrift(spark: SparkSession, h: Handle, inserts: Long,
                         lastRecall: Double, lastProbeInserts: Long): Unit = {
    val p = driftPath(h)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // rename-aside-then-swap (not delete-then-rename): the prior
    // counter survives a crash at ANY point — before the aside (old
    // dir intact), between aside and publish (recovered by
    // driftStatus), after publish (aside is garbage, swept below).
    // Rename failures PROPAGATE: silently losing the counter is the
    // exact failure this sidecar exists to prevent.
    val tmp = new org.apache.hadoop.fs.Path(
      h.dir + s"/_drift_tmp_${java.util.UUID.randomUUID}")
    spark.range(1)
      .select(lit(inserts).as("inserts_since_rebuild"),
        lit(lastRecall).as("last_recall"),
        lit(lastProbeInserts).as("last_probe_inserts"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val aside = driftAsidePath(h)
    // sweep the aside: either stale garbage from a post-publish crash,
    // or — after a crash BETWEEN aside and publish — the prior counter,
    // whose contents every writer already folded in via the
    // driftStatusFull read that precedes each writeDrift call (the
    // publish below re-persists the merged value)
    fs.delete(aside, true)
    if (fs.exists(p) && !fs.rename(p, aside)) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"GraphIndex.writeDrift: could not rename-aside the prior _drift " +
          s"sidecar at $p — refusing to overwrite the drift counter")
    }
    if (!fs.rename(tmp, p)) {
      // restore the prior counter before failing; a false return here
      // used to be silently swallowed (the counter reset to fresh-store)
      if (fs.exists(aside)) fs.rename(aside, p)
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"GraphIndex.writeDrift: publish rename to $p failed — prior " +
          "counter restored, update not recorded")
    }
    fs.delete(aside, true)
  }

  /** The insert-drift cadence probe: when the store has accumulated a
    * multiple of `every` inserts since its last rebuild, measure
    * sampled recall@`k` of the live store against exact brute force
    * over its OWN chunk sidecar (the [[measureRecall]] defaults —
    * deterministic leave-self-out probes; self-contained, no external
    * corpus needed) and record it in the `_drift` sidecar. Returns
    * Some((recall, rebuildRecommended)) when the probe ran, None when
    * the cadence hasn't come due. The signal is ADVISORY — inserts
    * are individually correct (every guard unaffected); a recall
    * under `floor` says the accumulated approximation (unpruned
    * reverse degree, stale entry routing) has drifted past the
    * serving bar and [[rebuild]] should run. Cost: one nQueries×N
    * batched scan — schedule `every` so it amortizes against the
    * inserts themselves. */
  def driftProbe(spark: SparkSession, h: Handle, keyCols: Seq[String],
                 every: Int, floor: Double = 0.9,
                 nQueries: Int = 20, k: Int = 10): Option[(Double, Boolean)] = {
    require(every >= 1, s"driftProbe: every=$every must be >= 1")
    // due = `every` or more inserts since the LAST probe (recorded in
    // the sidecar), not `inserts % every == 0`: a caller that does not
    // probe after every single insert used to be able to step OVER the
    // exact multiple and never fire again — silently disabling the
    // advisory signal this probe exists to provide
    val (inserts, _, lastProbed) = driftStatusFull(spark, h)
    if (inserts == 0 || inserts - lastProbed < every) None
    else {
      val idx = h.chunks(spark).drop("uid", "uid_bucket", "cell_id")
      val recall = measureRecall(spark, h, idx, keyCols, h.vecCol, nQueries, k)
      writeDrift(spark, h, inserts, recall, inserts)
      val recommend = recall < floor
      if (recommend)
        System.err.println(f"[graph] drift probe at $inserts inserts: sampled " +
          f"recall@$k = $recall%.3f < floor $floor%.2f — REBUILD RECOMMENDED " +
          s"(GraphIndex.rebuild trues the store up to the fresh-build invariant)")
      Some((recall, recommend))
    }
  }

  /** `trackDrift = false` skips the per-call `_drift` sidecar
    * read-modify-write (a parquet read + staged write + two renames —
    * several driver-side FS ops per call, one per streaming
    * micro-batch) for ingestion paths that run their rebuild cadence
    * externally; the counter then simply under-counts, and
    * [[driftProbe]] fires later than a fully-tracked store would. */
  def insert(spark: SparkSession, h: Handle, newRows: DataFrame,
             keyCols: Seq[String], vecCol: String,
             trackDrift: Boolean = true): Long = {
    import spark.implicits._
    val cents = h.centroids(spark)
    // many actions consume the assigned batch (three guards, the
    // touched-cell probe, the edge build, two writes) — materialize it
    // ONCE, the build() discipline, so the assignment cross-product
    // never recomputes per action
    val newAssigned = graft.Materialize(Ann.assignCells(
      newRows.withColumn("uid", uidFor(keyCols)), "uid", vecCol,
      cents, "centroid_id", "centroid_vec"))
    val nRows = newAssigned.count()
    val batchUids = newAssigned.select("uid").distinct()
      .collect().map(_.getLong(0))
    // guard 1 — duplicate natural keys WITHIN the batch: the same
    // silent-merge class build() refuses (two sidecar rows behind one
    // node → every hit surfaces twice)
    require(batchUids.length == nRows,
      s"GraphIndex.insert: ${nRows - batchUids.length} duplicate uid(s) " +
        s"within the batch — keyCols ${keyCols.mkString("(", ",", ")")} " +
        "are not unique over the upload")
    val batchUidDf = batchUids.toSeq.toDF("uid")
    // guard 2 — a marked uid must not be re-inserted: the serve-time
    // gate would silently suppress the new rows (delete wins until
    // compaction). Re-uploads use a fresh natural key by contract (O-3
    // ids carry the upload timestamp); anything else is a caller bug —
    // fail loudly. Bucket-pruned, batch-sized mark read.
    val marked = Ann.filterTombstoned(spark,
      batchUidDf.select(col("uid").as("vec_id")), "vec_id",
      h.tombstonesDir, h.nBuckets).count()
    require(marked == batchUids.length,
      "GraphIndex.insert: batch contains tombstoned uid(s) — deleted " +
        "documents must re-ingest under a new natural key (see delete())")
    // guard 3 — nor may a LIVE uid be re-inserted (retried failed
    // insert, same-key re-upload): appends are not idempotent, so a
    // duplicate lands a second sidecar row behind the node. Same
    // bucket-pruned probe shape.
    val batchBuckets = batchUids.map(u =>
      Long.box(((u % h.nBuckets) + h.nBuckets) % h.nBuckets)).distinct
    val clash = h.chunks(spark)
      .filter(col("uid_bucket").isin(batchBuckets: _*))
      .join(broadcast(batchUidDf), "uid").count()
    require(clash == 0,
      s"GraphIndex.insert: $clash uid(s) already in the index — re-upload " +
        "under a fresh natural key, or delete() + compact()/rebuild() first")
    val touched = newAssigned.select("cell_id").distinct()
      .collect().map(_.getLong(0))
    val existing = h.chunks(spark)
      .filter(col("cell_id").isin(touched.map(Long.box): _*))
      .select(col("cell_id"), col("uid"), col(vecCol))
    val newEdges = Ann.graphInsert(existing,
      newAssigned.select(col("cell_id"), col("uid"), col(vecCol)),
      "uid", vecCol, h.m)
    val n = newEdges.count()
    Ann.appendGraphIndex(newEdges, h.edgesDir, h.nBuckets)
    newAssigned.drop("cell_sim")
      .withColumn("uid_bucket", bucketOf(col("uid"), h.nBuckets))
      .write.mode("append").partitionBy("uid_bucket").parquet(h.chunksDir)
    // drift accounting, AFTER both appends landed: a refused or failed
    // insert must not advance the cadence ([[driftProbe]] decides when
    // the counter warrants a sampled recall measurement)
    if (trackDrift) {
      val (prevInserts, prevRecall, prevProbed) = driftStatusFull(spark, h)
      writeDrift(spark, h, prevInserts + 1,
        prevRecall.getOrElse(Double.NaN), prevProbed)
    }
    newAssigned.unpersist() // no-op under localCheckpoint; frees the persist path
    n
  }

  /** Mark-delete documents from the index by natural key (the
    * reference's delete-by-`_id` — OpenSearch likewise only MARKS until
    * a segment merge). Append-only ([[Ann.writeGraphTombstones]]): the
    * marked nodes keep routing walks but stop appearing in results the
    * moment this returns (cold handles see marks immediately; a [[Hot]]
    * is a snapshot — re-hot to see them). Physical removal happens at
    * the next [[compact]]. Re-ingesting a deleted document is an
    * [[insert]] under a NEW natural key (the reference's doc ids carry
    * an upload timestamp — O-3 — so re-uploads never reuse a uid);
    * un-deleting a marked uid is not supported, matching the
    * tombstone-until-merge model. Returns the number of marked uids. */
  def delete(spark: SparkSession, h: Handle, keys: DataFrame,
             keyCols: Seq[String]): Long =
    deleteByUid(spark, h, keys.select(uidFor(keyCols).as("uid")))

  /** [[delete]] for callers that already hold uids. Every uid must
    * exist in the index (or already be marked — retried deletes are
    * idempotent until the next compact): a mistyped key would
    * otherwise write a mark that silently blocks that key's FIRST
    * legitimate insert, with nothing ever surfacing the bad delete.
    * Delete requests are request-sized, so the existence probe is the
    * same bucket-pruned batch-sized read as insert's guards. */
  def deleteByUid(spark: SparkSession, h: Handle, uids: DataFrame): Long = {
    import spark.implicits._
    val uidArr = uids.select(col("uid").cast("long")).distinct()
      .collect().map(_.getLong(0))
    val uidDf = uidArr.toSeq.toDF("uid")
    val buckets = uidArr.map(u =>
      Long.box(((u % h.nBuckets) + h.nBuckets) % h.nBuckets)).distinct
    val live = h.chunks(spark)
      .filter(col("uid_bucket").isin(buckets: _*))
      .join(broadcast(uidDf), "uid")
      .select("uid").as[Long].collect().toSet
    val unmarked = Ann.filterTombstoned(spark,
        uidDf.select(col("uid").as("vec_id")), "vec_id",
        h.tombstonesDir, h.nBuckets)
      .as[Long].collect().toSet
    val unknown = uidArr.filter(u => !live(u) && unmarked(u))
    require(unknown.isEmpty,
      s"GraphIndex.delete: ${unknown.length} uid(s) not in the index " +
        "(not a chunk row, not an existing mark) — refusing a delete " +
        "that could only poison a future insert of that key")
    Ann.writeGraphTombstones(uidDf, "uid", h.tombstonesDir, h.nBuckets)
    uidArr.length.toLong
  }

  /** Apply accumulated tombstones physically and merge the per-batch
    * small files [[insert]] accrues — the segment-merge maintenance
    * pass (run it on the same cadence the reference's OpenSearch runs
    * force-merge). After compaction:
    *
    *  - the chunk sidecar drops every marked row (ONE file per uid
    *    bucket again), so a deleted doc can no longer surface — the
    *    re-attach inner join is itself the filter;
    *  - the edge store drops all edges of marked NON-centroid nodes
    *    (they stop routing) and goes back to one file per src bucket;
    *    marked centroids keep their edges — they are structural (the
    *    clique + up-links hang off them; unlinking could strand their
    *    cell) — and stay filtered by the serve-time tombstone gate;
    *  - the tombstone store shrinks to just those structural marks
    *    (usually empty → the gate becomes a free no-op).
    *
    * Serving correctness across the swap follows the store's existing
    * single-writer discipline; a [[Hot]] loaded before compaction
    * keeps serving its snapshot unaffected. Deleted docs may free beam
    * slots, so post-compact walks can only see MORE live candidates
    * than the marked walk did — never fewer. */
  def compact(spark: SparkSession, h: Handle): Unit = {
    val tombPath = new org.apache.hadoop.fs.Path(h.tombstonesDir)
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chunks = h.chunks(spark)
    val keptChunks =
      if (!fs.exists(tombPath)) chunks
      else chunks.join(
        spark.read.parquet(h.tombstonesDir).select(col("tomb_id").as("uid")),
        Seq("uid"), "left_anti")
    Ann.rewriteStore(spark, keptChunks, h.chunksDir, "uid_bucket")
    val protectedIds = h.centroids(spark)
      .select(col("centroid_id").cast("long")).collect().map(_.getLong(0)).toSeq
    Ann.compactGraphIndex(spark, h.edgesDir, h.nBuckets, h.tombstonesDir,
      protectedIds)
  }

  /** Re-index the store from its own sidecar — the structural half of
    * maintenance, where [[compact]] is the physical half (HNSW
    * deployments rebuild on the same cadence reasoning: [[insert]]
    * links a batch against the cells as they were, existing nodes'
    * reverse degree grows unpruned, and the entry centroids go stale
    * as the corpus drifts; the reference re-creates its OpenSearch
    * index likewise). Reads ONLY the sidecar — never the corpus — so
    * at 100 TB it is an index-sized job, and it subsumes compaction:
    * tombstoned rows (structural or not) are dropped on the way in,
    * the mark store is cleared, and every store comes back one file
    * per bucket.
    *
    * THE invariant (pinned by GraphIndexSpec): rebuilding after any
    * insert history yields row-identical stores to a fresh [[build]]
    * over the same surviving rows — centroid pick (lowest uids),
    * assignment, and [[Ann.knnGraph]] are all deterministic in the
    * row set alone. Incremental inserts are thus a provably bounded
    * approximation: rebuild periodically and the index is exactly
    * what a from-scratch ingest would have produced. */
  /** [[rebuild]] keeping the handle's own topology (m, buckets, beam,
    * hops) — the safe default: other serving processes hold Handles
    * with the SAME layout constants, and a rebuild that silently
    * changed nBuckets would make their pruned reads name partitions
    * that no longer exist. */
  def rebuild(spark: SparkSession, h: Handle, nCentroids: Int): Handle =
    rebuild(spark, h, nCentroids, h.m, h.nBuckets, h.beamWidth, h.hops)

  def rebuild(spark: SparkSession, h: Handle, nCentroids: Int,
              m: Int, nBuckets: Int, beamWidth: Int,
              hops: Int, autoBandAt: Long = DefaultAutoBandAt,
              autoHierAt: Long = DefaultAutoHierAt): Handle = {
    val tombPath = new org.apache.hadoop.fs.Path(h.tombstonesDir)
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = {
      val c = h.chunks(spark).drop("uid_bucket", "cell_id")
      if (!fs.exists(tombPath)) c
      else c.join(
        spark.read.parquet(h.tombstonesDir).select(col("tomb_id").as("uid")),
        Seq("uid"), "left_anti")
    }
    // stage the survivors as REAL files before overwriting the stores
    // they were read from (the upsert staging discipline — an in-memory
    // materialization with lineage could recompute from the overwritten
    // store after a lost block)
    val staging = h.dir + "/_rebuild_staging"
    rows.write.mode("overwrite").parquet(staging)
    val staged = spark.read.parquet(staging)
    // rebuild ≡ fresh build is THE invariant — a fresh build past the
    // crossovers auto-bands AND auto-routes assignment, so rebuild must
    // derive the same bands and supers from the same (surviving) rows
    // or the invariant breaks exactly where the derivations matter
    val nStaged = staged.count()
    val autoBands = deriveAutoBands(staged, h.vecCol, nStaged, autoBandAt)
    val autoSupers = deriveAutoSupers(nStaged, nCentroids, autoHierAt)
    val out = buildFromUid(spark, staged, h.vecCol,
      h.dir, nCentroids, m, nBuckets, beamWidth, hops,
      nSupers = autoSupers, lshBands = autoBands)
    val sp = new org.apache.hadoop.fs.Path(staging)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
    if (fs.exists(tombPath)) fs.delete(tombPath, true)
    // the rebuild trues the store up to the fresh-build invariant —
    // the drift counter (and its last probe) restarts from zero; the
    // aside goes too, or a later driftStatus would READ the
    // pre-rebuild counter from it
    if (fs.exists(driftPath(h))) fs.delete(driftPath(h), true)
    fs.delete(driftAsidePath(h), true)
    out.copy(vecCol = h.vecCol)
  }
}
