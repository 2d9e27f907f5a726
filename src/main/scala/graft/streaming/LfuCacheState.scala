package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.CosineKernel

/** The LFU semantic cache as a keyed streaming state operator (SURVEY.md
  * §2.H S-4) — the `flatMapGroupsWithState` form of the batch
  * `operators.CacheLfu` semantics, pinned to the reference
  * (app/main.py:67-128):
  *
  *  - lookup hit iff best cosine ≥ threshold, INCLUSIVE (:89);
  *  - a hit bumps the entry's freq in place (:92-96) and emits the cached
  *    response; a miss inserts a fresh freq-1 entry (:121-128);
  *  - insert at capacity first evicts the minimum-freq entry, ties to the
  *    MOST RECENT (Redis LPUSH keeps newest at index 0; the linear scan
  *    keeps the first strict minimum in list order, :107-114).
  *
  * State is the Redis list itself: entries NEWEST-FIRST, exactly the
  * LPUSH order, so both scans reproduce the reference's tie-breaks by
  * construction. State size is bounded by `capacity` per cache key —
  * under RocksDB at scale this is O(caches × capacity), independent of
  * corpus size. Events within a micro-batch are applied in `seq` order
  * (the iterator order of flatMapGroupsWithState is not guaranteed
  * chronological).
  */
object LfuCacheState {

  /** One "ask" arriving at the cache: its query embedding plus the
    * response that would be inserted on a miss. */
  case class CacheOp(cache_id: String, seq: Long, embedding: Seq[Double], response: String)

  case class LfuEntry(entry_id: Long, embedding: Seq[Double], response: String, freq: Long)

  /** `entries` is newest-first (LPUSH order); `next_id` makes entry ids
    * insertion-ordered, so newest ⇔ highest id (the batch operator's
    * tie-break key). */
  case class LfuState(next_id: Long, entries: List[LfuEntry])

  case class CacheOutcome(cache_id: String, seq: Long, hit: Boolean,
                          entry_id: Long, response: String, freq: Long)

  /** Left-fold cosine with the reference's zero-norm guard — same
    * arithmetic as VectorFunctions.cosine (app/main.py:59-64), through
    * [[CosineKernel]]'s dense fold. A dimension mismatch is refused, as
    * the dot product refuses it, instead of scoring the common prefix. */
  private[graft] def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    if (a.length != b.length) throw new IllegalArgumentException(
      s"lfuCache: dimension mismatch (${a.length} vs ${b.length})")
    val (x, y) = (a.toArray, b.toArray)
    CosineKernel.cosine(CosineKernel.dot(x, Array.emptyIntArray, y, vFinite = false),
      CosineKernel.norm(x), CosineKernel.norm(y))
  }

  /** One op against one state — the pure transition function. */
  private[streaming] def applyOp(state: LfuState, op: CacheOp, threshold: Double,
                                 capacity: Int): (LfuState, CacheOutcome) = {
    // argmax scan in list (newest-first) order, keeping strict maxima only
    var best: LfuEntry = null
    var bestSim = Double.NegativeInfinity
    state.entries.foreach { e =>
      val s = cosine(e.embedding, op.embedding)
      if (s > bestSim) { bestSim = s; best = e }
    }
    if (best != null && bestSim >= threshold) {
      val bumped = state.entries.map(e =>
        if (e.entry_id == best.entry_id) e.copy(freq = e.freq + 1) else e)
      (state.copy(entries = bumped),
        CacheOutcome(op.cache_id, op.seq, hit = true, best.entry_id, best.response, best.freq + 1))
    } else {
      // evict BEFORE insert when at capacity (app/main.py:124-126):
      // min-freq scan in list order, keeping strict minima only
      val pruned =
        if (state.entries.size >= capacity) {
          var victim: LfuEntry = null
          var minFreq = Long.MaxValue
          state.entries.foreach(e => if (e.freq < minFreq) { minFreq = e.freq; victim = e })
          state.entries.filterNot(_.entry_id == victim.entry_id)
        } else state.entries
      val entry = LfuEntry(state.next_id, op.embedding, op.response, 1L)
      (LfuState(state.next_id + 1, entry :: pruned),
        CacheOutcome(op.cache_id, op.seq, hit = false, entry.entry_id, op.response, 1L))
    }
  }

  /** flatMapGroupsWithState update function: fold this micro-batch's ops
    * (in seq order) through the state, emitting one outcome per op. */
  def update(threshold: Double, capacity: Int)(
      cacheId: String,
      ops: Iterator[CacheOp],
      state: GroupState[LfuState]): Iterator[CacheOutcome] = {
    val sorted = ops.toIndexedSeq.sortBy(_.seq)
    var st = state.getOption.getOrElse(LfuState(0L, Nil))
    val out = sorted.map { op =>
      val (next, outcome) = applyOp(st, op, threshold, capacity)
      st = next
      outcome
    }
    state.update(st)
    out.iterator
  }

  /** Wire the cache over a (streaming or batch) op Dataset. */
  def lfuCache(ops: Dataset[CacheOp],
               threshold: Double = graft.Schemas.CacheThreshold,
               capacity: Int = graft.Schemas.CacheCapacity): Dataset[CacheOutcome] = {
    implicit val outEnc = Encoders.product[CacheOutcome]
    implicit val stateEnc = Encoders.product[LfuState]
    ops
      .groupByKey(_.cache_id)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        update(threshold, capacity))
  }
}
