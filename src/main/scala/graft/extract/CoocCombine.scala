package graft.extract

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset

/** Per-partition combiner for packed co-occurrence pairs — the round-5
  * replacement for explode → partial HashAggregate on the corpus-sized pair
  * stream.
  *
  * Why: the exploded pair stream is ~C(mentions_per_doc, 2) rows per doc
  * (~90x the doc count). Catalyst's partial HashAggregate probes an
  * UnsafeRow hash map per row (~110 ns/row measured at 16 cores); this
  * combiner probes a primitive open-addressing long→long map (~6x cheaper
  * per probe) and emits only the partition-local distinct (pair, count)
  * partials. Distinct pairs are bounded by the dictionary (C(|dict|, 2)),
  * so the downstream exchange is dictionary-sized, not corpus-sized —
  * downstream must SUM the partials. A flush threshold bounds the map for
  * adversarial dictionaries: when local distinct pairs exceed `flushAt`
  * the map drains to output (duplicate partials are merged by the same
  * downstream sum), so memory is O(flushAt) regardless of dictionary size.
  *
  * One kernel per table layout serves both public combiners: a dense
  * long[] of counts at closed-dictionary sizes ([[DenseMaxDictCounts]]),
  * the hash map above it.
  */
object CoocCombine {

  /** Per-doc capped+sorted rank selection of both kernels: ranks
    * ascending; docs over `maxEntities` keep the top entities by
    * (score desc, rank asc), score = scoreUnit(rank) * n. */
  private[graft] def cappedSortedRanks(pm: Array[Long], su: Array[Double],
      maxEntities: Int): Array[Int] = {
    val n = pm.length
    val ranks = new Array[Int](n)
    var i = 0
    while (i < n) { ranks(i) = (pm(i) >>> 32).toInt; i += 1 }
    if (n > maxEntities) {
      val scores = new Array[Double](n)
      i = 0
      while (i < n) {
        val v = pm(i)
        scores(i) = su((v >>> 32).toInt) * (v & 0xffffffffL)
        i += 1
      }
      assertDistinct(java.util.Arrays.copyOf(ranks, n), sorted = false)
      Mentions.topRanksByScore(ranks, scores, maxEntities)
    } else {
      java.util.Arrays.sort(ranks)
      assertDistinct(ranks, sorted = true)
      ranks
    }
  }

  /** partialPairCounts is a public API whose input contract (one pm entry
    * per DISTINCT entity rank, as ExtractMentionsKT emits) is enforced here:
    * a duplicate rank would otherwise emit a semantically meaningless
    * self-pair (ADVICE r5). Free in the common branch (already sorted). */
  private def assertDistinct(ranks: Array[Int], sorted: Boolean): Unit = {
    if (!sorted) java.util.Arrays.sort(ranks)
    var i = 1
    while (i < ranks.length) {
      if (ranks(i) == ranks(i - 1))
        throw new IllegalArgumentException(
          s"duplicate entity rank ${ranks(i)} in a packed mention row — pm rows " +
            "must carry one entry per distinct entity (ExtractMentionsKT contract)")
      i += 1
    }
  }

  /** Dense gate for both combiners: at `|entities| <= DenseMaxDictCounts`
    * (distinct curies) the (a, b) pair domain is a long[] of entities²
    * counts — 8 MB/task at 1024 — and one increment per pair replaces the ~6 ns
    * open-addressing probe (the AhoCorasick dense-trie precedent). Above
    * the gate the hash map keeps memory O(flushAt) for open dictionaries. */
  val DenseMaxDictCounts = 1024

  /** The same gate under the name the pair+rank-key combiner used when it
    * had a dense kernel of its own. kgbench's start-up guard still reads
    * both names; drop this one once that guard does. */
  val DenseMaxDict = DenseMaxDictCounts

  /** `pmRows` is the fused working set's `pm` column (one packed array per
    * document). Returns PARTIAL (pair, cnt) counts — one small
    * `groupBy(pair).sum(cnt)` exchange completes the aggregate. */
  def partialPairCounts(pmRows: Dataset[Array[Long]],
      bcDict: Broadcast[MentionDict], maxEntities: Int,
      flushAt: Int = 1 << 22, denseMax: Int = DenseMaxDictCounts): Dataset[(Long, Long)] = {
    val spark = pmRows.sparkSession
    import spark.implicits._
    pmRows.mapPartitions(it =>
      partials(it, bcDict.value, maxEntities, flushAt, denseMax, rankKeys = false))
  }

  /** Shared-scan combiner for the fused triples path: ONE pass over the
    * packed mention sets emits BOTH key families the triple table needs,
    * disambiguated by packing — rank PRESENCE as self-pairs `(r, r)` (a
    * real co-occurrence pair is strictly `a < b` by [[cappedSortedRanks]]'
    * ascending emission, so `hi == lo` is unambiguous), and the capped
    * co-occurrence pairs as `(a, b)`. Counts are dropped: a triple is
    * presence, not frequency, so the downstream aggregate is a plain
    * `distinct` over the packed key, which
    * [[graft.KgPipeline.triplesFromSets]] puts behind a barrier so this
    * scan runs once per action no matter how many consumers sit above.
    *
    * Self keys cover ALL ranks of every doc (including singleton docs and
    * ranks dropped by the per-doc cap — node presence is uncapped, matching
    * [[partialRankSets]]); pair keys are [[partialPairCounts]]' keys, from
    * the same kernel. */
  def partialPairAndRankKeys(pmRows: Dataset[Array[Long]],
      bcDict: Broadcast[MentionDict], maxEntities: Int,
      flushAt: Int = 1 << 22, denseMax: Int = DenseMaxDict): Dataset[Long] = {
    val spark = pmRows.sparkSession
    import spark.implicits._
    pmRows.mapPartitions(it =>
      partials(it, bcDict.value, maxEntities, flushAt, denseMax, rankKeys = true).map(_._1))
  }

  /** The one per-partition pair combiner, in the layout the dictionary size
    * picks. With `rankKeys` each doc also counts the self key `(r, r)` of
    * every rank it holds. */
  private def partials(it: Iterator[Array[Long]], dict: MentionDict, maxEntities: Int,
      flushAt: Int, denseMax: Int, rankKeys: Boolean): Iterator[(Long, Long)] = {
    val nEntities = dict.byRank.length
    if (nEntities <= denseMax) densePairs(it, dict, maxEntities, nEntities, rankKeys)
    else hashPairs(it, dict, maxEntities, flushAt, rankKeys)
  }

  private def densePairs(it: Iterator[Array[Long]], dict: MentionDict,
      maxEntities: Int, n: Int, rankKeys: Boolean): Iterator[(Long, Long)] = {
    val su = dict.scoreUnitByRank
    val counts = new Array[Long](n * n)
    while (it.hasNext) {
      val pm = it.next()
      if (rankKeys) {
        var i = 0
        while (i < pm.length) {
          val r = (pm(i) >>> 32).toInt
          counts(r * n + r) += 1
          i += 1
        }
      }
      if (pm.length >= 2) {
        val arr = cappedSortedRanks(pm, su, maxEntities)
        val m = arr.length
        var a = 0
        while (a < m) {
          val base = arr(a) * n
          var b = a + 1
          while (b < m) { counts(base + arr(b)) += 1; b += 1 }
          a += 1
        }
      }
    }
    new Iterator[(Long, Long)] {
      private val end = n * n
      private def seekFrom(j0: Int): Int = {
        var j = j0
        while (j < end && counts(j) == 0L) j += 1
        j
      }
      private var nextIdx = seekFrom(0)
      def hasNext: Boolean = nextIdx < end
      def next(): (Long, Long) = {
        val cur = nextIdx
        nextIdx = seekFrom(cur + 1)
        (((cur / n).toLong << 32) | (cur % n).toLong, counts(cur))
      }
    }
  }

  private def hashPairs(it: Iterator[Array[Long]], dict: MentionDict,
      maxEntities: Int, flushAt: Int, rankKeys: Boolean): Iterator[(Long, Long)] = {
    val su = dict.scoreUnitByRank
    var agg = new LongLongMap(1 << 16)
    new Iterator[(Long, Long)] {
      private var drained: Iterator[(Long, Long)] = Iterator.empty
      private def pump(): Unit = {
        while (!drained.hasNext && it.hasNext) {
          val pm = it.next()
          if (rankKeys) {
            var i = 0
            while (i < pm.length) {
              val r = pm(i) >>> 32
              agg.inc(r << 32 | r)
              i += 1
            }
          }
          if (pm.length >= 2) {
            val arr = cappedSortedRanks(pm, su, maxEntities)
            val m = arr.length
            var a = 0
            while (a < m) {
              val hi = arr(a).toLong << 32
              var b = a + 1
              while (b < m) { agg.inc(hi | arr(b).toLong); b += 1 }
              a += 1
            }
          }
          if (agg.size >= flushAt) {
            drained = agg.iterator
            agg = new LongLongMap(1 << 16)
          }
        }
        if (!drained.hasNext && !it.hasNext && agg.size > 0) {
          drained = agg.iterator
          agg = new LongLongMap(4) // emptied; keeps the post-drain state clean
        }
      }
      def hasNext: Boolean = { if (!drained.hasNext) pump(); drained.hasNext }
      def next(): (Long, Long) = { if (!drained.hasNext) pump(); drained.next() }
    }
  }

  /** Per-partition DISTINCT-RANK collector over packed mention sets: the
    * rank domain is entity-bounded, so a boolean array + touched list
    * replaces explode(all mentions) + partial HashAggregate (~110 ns/probe
    * over a corpus-sized row stream) — the exchange downstream carries at
    * most nPartitions × |entities| ints. Callers still `.distinct()` the
    * result (this emits one rank per partition it appears in). */
  def partialRankSets(pmRows: Dataset[Array[Long]],
      bcDict: Broadcast[MentionDict]): Dataset[Int] = {
    val spark = pmRows.sparkSession
    import spark.implicits._
    pmRows.mapPartitions { it =>
      val seen = new Array[Boolean](bcDict.value.byRank.length)
      val touched = new Array[Int](seen.length)
      var nt = 0
      while (it.hasNext) {
        val pm = it.next()
        var i = 0
        while (i < pm.length) {
          val r = (pm(i) >>> 32).toInt
          if (!seen(r)) { seen(r) = true; touched(nt) = r; nt += 1 }
          i += 1
        }
      }
      (0 until nt).iterator.map(touched)
    }
  }

  /** Open-addressing long→long counter. Keys are stored internally biased
    * by +1 so the slot value 0 is ALWAYS the empty sentinel — any
    * non-negative caller key (packed pairs are < 2⁶³-1, so the bias never
    * overflows) is live-storable, including 0 itself; the earlier
    * unbiased layout silently mis-stored key 0 (ADVICE r5). */
  private[graft] final class LongLongMap(initCap: Int) {
    private var mask = initCap - 1
    private var keys = new Array[Long](initCap)
    private var vals = new Array[Long](initCap)
    private var n = 0
    def size: Int = n
    def inc(k0: Long): Unit = {
      val k = k0 + 1
      var i = java.lang.Long.hashCode(k * -7046029254386353131L) & mask
      while (keys(i) != 0L) {
        if (keys(i) == k) { vals(i) += 1; return }
        i = (i + 1) & mask
      }
      keys(i) = k; vals(i) = 1L; n += 1
      if (n * 2 > mask) grow()
    }
    /** `k` is already biased (internal rehash path). */
    private def addBiased(k: Long, v: Long): Unit = {
      var i = java.lang.Long.hashCode(k * -7046029254386353131L) & mask
      while (keys(i) != 0L) {
        if (keys(i) == k) { vals(i) += v; return }
        i = (i + 1) & mask
      }
      keys(i) = k; vals(i) = v; n += 1
      if (n * 2 > mask) grow()
    }
    private def grow(): Unit = {
      val (ok, ov) = (keys, vals)
      mask = mask * 2 + 1
      keys = new Array[Long](mask + 1)
      vals = new Array[Long](mask + 1)
      n = 0
      var i = 0
      while (i < ok.length) { if (ok(i) != 0L) addBiased(ok(i), ov(i)); i += 1 }
    }
    def iterator: Iterator[(Long, Long)] = {
      val (ks, vs) = (keys, vals)
      new Iterator[(Long, Long)] {
        private var i = 0
        private def seek(): Unit = { while (i < ks.length && ks(i) == 0L) i += 1 }
        def hasNext: Boolean = { seek(); i < ks.length }
        def next(): (Long, Long) = { seek(); val r = (ks(i) - 1, vs(i)); i += 1; r }
      }
    }
  }
}
