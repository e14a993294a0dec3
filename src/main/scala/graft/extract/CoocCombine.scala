package graft.extract

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Per-partition combiners for packed co-occurrence pairs — the
  * replacement for explode → partial HashAggregate on the corpus-sized pair
  * stream.
  *
  * Why: the exploded pair stream is ~C(mentions_per_doc, 2) rows per doc
  * (~90x the doc count). Catalyst's partial HashAggregate probes an
  * UnsafeRow hash map per row (~110 ns/row measured at 16 cores).
  *
  *  - Counts ([[partialPairCounts]]): a primitive open-addressing long→long
  *    map (~6x cheaper per probe) emits only the partition-local distinct
  *    (pair, count) partials, and downstream SUMs them. When local distinct
  *    pairs exceed `flushAt` the map drains to output (duplicate partials
  *    merge in the same sum), so memory is O(flushAt).
  *  - Keys ([[distinctPairAndRankKeys]], the fused triples path): no count,
  *    so no hash map. A map task sort-dedups a buffer of at most `flushAt`
  *    keys and ships one sorted `long[]` block per reduce partition; the
  *    exchange carries blocks, not rows, and the reduce side merges them.
  *    Sorting wins here because the keys are fixed-width and almost all
  *    distinct (a hash insert reduced corpus_bigdict's keys only to 0.87).
  *
  * At closed-dictionary sizes ([[DenseMaxDictCounts]]) both take a dense
  * long[] of counts, one increment per pair; the key path feeds that
  * table's keys to the same block emitter.
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
    * open-addressing probe. Above the gate the counts' hash map and the
    * keys' sort-dedup buffer keep memory O(flushAt) for open dictionaries. */
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
    pmRows.mapPartitions { it =>
      val dict = bcDict.value
      val n = dict.byRank.length
      if (n <= denseMax) densePairs(it, dict, maxEntities, n, rankKeys = false)
      else hashPairs(it, dict, maxEntities, flushAt)
    }(PairCount)
  }

  /** (pair, cnt) rows, derived once (a product encoder walks its type by
    * reflection on every derivation). */
  private val PairCount = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Shared-scan key kernel of the fused triples path: ONE pass over the
    * packed mention sets emits BOTH key families the triple table needs,
    * disambiguated by packing — rank PRESENCE as self-pairs `(r, r)` (a
    * real co-occurrence pair is strictly `a < b` by [[cappedSortedRanks]]'
    * ascending emission, so `hi == lo` is unambiguous), and the capped
    * co-occurrence pairs as `(a, b)`. Counts are dropped: a triple is
    * presence, not frequency.
    *
    * Self keys cover ALL ranks of every doc (including singleton docs and
    * ranks dropped by the per-doc cap — node presence is uncapped, matching
    * [[partialRankSets]]); pair keys are [[partialPairCounts]]' keys, from
    * the same capped selection.
    *
    * This is the flattened map side of [[distinctPairAndRankKeys]]: the
    * keys of its sorted blocks, distinct within each block flush of a
    * partition (a key may repeat across flushes, never inside one). */
  def partialPairAndRankKeys(pmRows: Dataset[Array[Long]],
      bcDict: Broadcast[MentionDict], maxEntities: Int,
      flushAt: Int = 1 << 22, denseMax: Int = DenseMaxDict): Dataset[Long] = {
    val spark = pmRows.sparkSession
    import spark.implicits._
    val nParts = shufflePartitions(spark)
    pmRows.mapPartitions(it =>
      keyBlocks(it, bcDict.value, maxEntities, flushAt, denseMax, nParts).flatMap(_._2.iterator))
  }

  /** The distinct keys of [[partialPairAndRankKeys]] through one block
    * exchange — no per-row aggregate. Each map task buffers up to `flushAt`
    * keys (plus one doc's), sort-dedups them and ships one sorted `long[]`
    * block per reduce partition it touches; a `HashPartitioner` keyed by
    * the block's partition id routes it to exactly that reduce partition
    * (an `Int` key hashes to itself), and each reduce task merges its
    * blocks into its distinct keys. The exchange carries at most (map
    * tasks × flushes × partitions) records, where a per-row `distinct`
    * shuffled one row per partition-distinct key and probed an UnsafeRow
    * hash map per row on both sides. The partition count is
    * `spark.sql.shuffle.partitions`.
    *
    * The keys stay packed: each row is a sorted run of at most
    * [[KeyChunk]] distinct keys of one reduce partition, 8 B per key, and
    * no key is in two rows. A consumer explodes them; materializing them
    * as one row per key costs an object and a copy per key. */
  private[graft] def distinctPairAndRankKeys(pmRows: Dataset[Array[Long]],
      bcDict: Broadcast[MentionDict], maxEntities: Int,
      flushAt: Int = 1 << 22, denseMax: Int = DenseMaxDictCounts): Dataset[Array[Long]] = {
    val spark = pmRows.sparkSession
    import spark.implicits._
    spark.createDataset(routedKeyBlocks(pmRows, bcDict, maxEntities, flushAt, denseMax)
      .mapPartitions(it => mergeBlocks(it.map(_._2)), preservesPartitioning = true))
  }

  /** Keys per row of [[distinctPairAndRankKeys]] (8 MB): bounds a row far
    * below Spark's 2 GB row and block limits at any partition size. */
  private val KeyChunk = 1 << 20

  /** The map side and the routing of [[distinctPairAndRankKeys]]: reduce
    * partition `p` receives exactly the blocks tagged `p`. */
  private[graft] def routedKeyBlocks(pmRows: Dataset[Array[Long]],
      bcDict: Broadcast[MentionDict], maxEntities: Int,
      flushAt: Int, denseMax: Int): RDD[(Int, Array[Long])] = {
    val nParts = shufflePartitions(pmRows.sparkSession)
    pmRows.rdd
      .mapPartitions(it => keyBlocks(it, bcDict.value, maxEntities, flushAt, denseMax, nParts))
      .partitionBy(new HashPartitioner(nParts))
  }

  private def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** The reduce partition of a key: the high half of a Fibonacci hash,
    * scaled onto `[0, nParts)`. */
  @inline private def keyPartition(k: Long, nParts: Int): Int =
    ((((k * -7046029254386353131L) >>> 32) * nParts) >>> 32).toInt

  /** The map side of the key path, in the layout the dictionary size picks:
    * the dense counts table under [[DenseMaxDictCounts]] (its keys arrive
    * sorted and distinct), a sort-dedup buffer of at most `flushAt` keys
    * plus one doc's above it. Either way the keys leave as
    * [[KeyBlocks]]. */
  private def keyBlocks(it: Iterator[Array[Long]], dict: MentionDict, maxEntities: Int,
      flushAt: Int, denseMax: Int, nParts: Int): Iterator[(Int, Array[Long])] = {
    val nEntities = dict.byRank.length
    val blocks = new KeyBlocks(nParts, flushAt)
    if (nEntities <= denseMax) {
      val keys = densePairs(it, dict, maxEntities, nEntities, rankKeys = true)
      blocks.emitFrom(() => { while (!blocks.full && keys.hasNext) blocks.add(keys.next()._1) })
    } else {
      val su = dict.scoreUnitByRank
      blocks.emitFrom { () =>
        while (!blocks.full && it.hasNext) {
          val pm = it.next()
          var i = 0
          while (i < pm.length) {
            val r = pm(i) >>> 32
            blocks.add(r << 32 | r)
            i += 1
          }
          if (pm.length >= 2) {
            val arr = cappedSortedRanks(pm, su, maxEntities)
            val m = arr.length
            var a = 0
            while (a < m) {
              val hi = arr(a).toLong << 32
              var b = a + 1
              while (b < m) { blocks.add(hi | arr(b).toLong); b += 1 }
              a += 1
            }
          }
        }
      }
    }
  }

  /** A map task's key buffer. `add` appends; once `full` (at `cap` keys —
    * a doc's keys are added whole, so it can pass `cap` by one doc's),
    * `drain` sorts and dedups the buffer and splits it into one sorted
    * block per [[keyPartition]], reusing the buffer for the next fill. */
  private final class KeyBlocks(nParts: Int, cap: Int) {
    private var buf = new Array[Long](math.max(1, math.min(cap, 1 << 16)))
    private var n = 0
    def full: Boolean = n >= cap
    def add(k: Long): Unit = {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
      buf(n) = k
      n += 1
    }

    private def drain(): Iterator[(Int, Array[Long])] = {
      java.util.Arrays.sort(buf, 0, n)
      val m = dedupSorted(buf, n)
      val sizes = new Array[Int](nParts)
      var i = 0
      while (i < m) { sizes(keyPartition(buf(i), nParts)) += 1; i += 1 }
      val out = Array.tabulate(nParts)(p => new Array[Long](sizes(p)))
      java.util.Arrays.fill(sizes, 0)
      i = 0
      while (i < m) {
        val k = buf(i)
        val p = keyPartition(k, nParts)
        out(p)(sizes(p)) = k
        sizes(p) += 1
        i += 1
      }
      n = 0
      (0 until nParts).iterator.filter(out(_).nonEmpty).map(p => (p, out(p)))
    }

    /** Blocks of every fill `fill` makes: `fill` adds keys until the buffer
      * is full or its input ends, and is called again once the previous
      * fill's blocks are consumed. */
    def emitFrom(fill: () => Unit): Iterator[(Int, Array[Long])] =
      new Iterator[(Int, Array[Long])] {
        private var drained: Iterator[(Int, Array[Long])] = Iterator.empty
        private def pump(): Unit =
          while (!drained.hasNext && { fill(); n > 0 }) drained = drain()
        def hasNext: Boolean = { pump(); drained.hasNext }
        def next(): (Int, Array[Long]) = { pump(); drained.next() }
      }
  }

  /** Dedups the sorted prefix `a[0, n)` in place; returns its distinct count. */
  private def dedupSorted(a: Array[Long], n: Int): Int = {
    if (n == 0) return 0
    var m = 1
    var i = 1
    while (i < n) {
      if (a(i) != a(m - 1)) { a(m) = a(i); m += 1 }
      i += 1
    }
    m
  }

  /** A reduce task's distinct keys from its sorted blocks — concatenated,
    * sorted and deduped in one `long[]` — as sorted [[KeyChunk]] runs. */
  private def mergeBlocks(blocks: Iterator[Array[Long]]): Iterator[Array[Long]] = {
    val bs = blocks.toArray
    val all = new Array[Long](bs.iterator.map(_.length).sum)
    var off = 0
    for (b <- bs) { System.arraycopy(b, 0, all, off, b.length); off += b.length }
    java.util.Arrays.sort(all)
    val m = dedupSorted(all, all.length)
    Iterator.range(0, m, KeyChunk).map(i => java.util.Arrays.copyOfRange(all, i, math.min(m, i + KeyChunk)))
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
      maxEntities: Int, flushAt: Int): Iterator[(Long, Long)] = {
    val su = dict.scoreUnitByRank
    var agg = new LongLongMap(1 << 16)
    new Iterator[(Long, Long)] {
      private var drained: Iterator[(Long, Long)] = Iterator.empty
      private def pump(): Unit = {
        while (!drained.hasNext && it.hasNext) {
          val pm = it.next()
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
