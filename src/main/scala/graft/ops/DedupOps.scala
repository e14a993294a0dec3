package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. All hashing is md5-derived integer
  * arithmetic — deterministic and portable across engines, so every
  * operator has an exact DuckDB oracle.
  *
  * Scale notes: exact dedup is one hash aggregate on the content hash.
  * Jaccard is shingle-join bounded (quadratic only within a shingle
  * bucket, and stop-shingles above a document-frequency cap are dropped
  * before the join); MinHash+LSH replaces it at scale — candidates come
  * from band-bucket grouping (one shuffle, no self-join), with a
  * bucket-size cap so a viral near-dup cluster of m docs cannot emit
  * m²/2 pairs.
  */
object DedupOps {

  import TextOps.{tokenHash, tokens, Mod}

  /** Exact duplicate groups by content hash: (h, keep_id, n_copies);
    * keeper = smallest doc_id (reference dedup keeps first-seen;
    * min is the deterministic distributed analogue). */
  def exactGroups(documents: DataFrame): DataFrame =
    documents.groupBy(md5(encode(col("text"), "UTF-8")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles per doc: (doc_id, shingle). The token
    * array is bound in its own projection first: higher-order lambdas are
    * interpreted, so an inline `split(text)` inside the lambda body would
    * re-split the whole text once per shingle (O(tokens²) per doc). */
  def shingles(documents: DataFrame, n: Int): DataFrame = {
    val toks = col("toks")
    val sh = when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "),
      ))).otherwise(array().cast("array<string>"))
    documents.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(sh).as("shingle"))
  }

  /** Candidate near-duplicate pairs by n-gram Jaccard >= minJ:
    * (doc_a, doc_b, n_common, n_a, n_b, jaccard), doc_a < doc_b.
    *
    * Shingles with document frequency > `maxDf` are stop-shingles: they
    * are excluded everywhere (from the per-doc counts AND the join), so
    * the self-join fan-out per shingle is bounded by maxDf — without the
    * cap one corpus-common bigram joins quadratically at 100x scale. The
    * hot-shingle table is tiny by construction (≤ rows/maxDf entries), so
    * the anti-join broadcasts (AQE). */
  def jaccardPairs(documents: DataFrame, n: Int = 3, minJ: Double = 0.5,
      maxDf: Int = 100): DataFrame = {
    // join on the 56-bit shingle hash: long equi-join beats string compare,
    // and the md5-derived hash is what the oracle uses anyway. BARRIER the
    // hashed shingle table: one materialization for its three consumers —
    // df aggregate, per-doc counts, pair groups.
    // Hashing is the fused ShingleHashSet expression (r9, guide §4): the
    // builtin shingles() chain built every window string in an INTERPRETED
    // transform lambda and round-tripped md5 through hex+conv — parity
    // proven in NgramHashSpec (string-space distinct, raw 56-bit hash,
    // short docs emit nothing), measured ~3-5x on the selfgram twin.
    val allSh = locally {
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      graft.Barrier(documents
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(column(
          graft.functions.ShingleHashSet(expression(col("toks")), n))).as("shingle")))
    }
    val hot = allSh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")).filter(col("df") > maxDf).select("shingle")
    val sh = allSh.join(hot, Seq("shingle"), "left_anti")
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // pair emission via per-shingle sorted member lists — the lshCandidates
    // shape: ONE exchange on the shingle key instead of a self-join that
    // shuffles the (doc_id, shingle) table twice and probes it against
    // itself. Shingles are per-doc-distinct, so each doc appears once per
    // list; the hot-shingle anti-join above caps every list at maxDf, so
    // the collected list is bounded (hub-safe) and pair emission per
    // shingle is exactly the self-join's doc_a < doc_b output. A doc that
    // appears twice in one list (a doc_id listed twice, or two of its
    // shingles colliding in the 56-bit hash) would pair with itself; the
    // doc_a =!= doc_b filter keeps the self-join's strict inequality.
    val grouped = sh.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val pairExpr = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
    val pairs = grouped.select(explode(pairExpr).as("p"))
      .filter(col("p.doc_a") =!= col("p.doc_b"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    // counts feeds BOTH endpoint joins — barrier it too (per-doc rows)
    val countsB = graft.Barrier(counts)
    pairs
      .join(countsB.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(countsB.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** Per-document shingle-hash array — materialized ONCE in its own
    * projection so every downstream signature column reads the bound
    * column instead of re-running md5 over every shingle (higher-order
    * functions are interpreted and get no common-subexpression
    * elimination; CollapseProject keeps this boundary because the
    * producer expression is non-cheap and consumed k times). */
  private[graft] def shingleHashes(documents: DataFrame, n: Int): DataFrame = {
    // fused ShingleHashSetText expression (r9, guide §4) replacing the
    // interpreted transform + md5-hex-conv chain — parity in
    // NgramHashSpec: string-space distinct (hash collisions keep both
    // values), pmod(·, Mod), short docs hash the WHOLE TEXT as one gram
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    documents.select(col("doc_id"),
      column(graft.functions.ShingleHashSetText(
        expression(tokens(col("text"))), expression(col("text")), n, Mod)).as("hv"))
  }

  /** MinHash signature columns sig0..sig{k-1} over word n-gram shingles.
    * Hash family: h_j(x) = ((2j+1) * (x mod M) + 12345j + 7) mod M over the
    * 56-bit md5 token hash. One narrow pass, no explode, no shuffle: the
    * md5 hash array is computed once per row ([[shingleHashes]]) and all k
    * minima come from ONE fused codegen'd loop
    * ([[graft.functions.AffineMinHash]] — replaces k interpreted
    * `array_min(transform(...))` scans). */
  def minhashSignatures(documents: DataFrame, n: Int = 3, k: Int = 16): DataFrame =
    minhashSignaturesFrom(shingleHashes(documents, n), k)

  /** [[minhashSignatures]] over a PRE-BUILT `(doc_id, hv)` shingle-hash
    * frame ([[shingleHashes]]): split out so a caller running several LSH
    * operating points over one corpus (e.g. the recall sweep) can barrier
    * the hash pass once instead of re-tokenizing per point. */
  private[graft] def minhashSignaturesFrom(hashed: DataFrame, k: Int = 16): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val sigs = column(graft.functions.AffineMinHash(expression(col("hv")), k, Mod))
    hashed
      .select(col("doc_id"), sigs.as("sigs"))
      .select(col("doc_id") +:
        (0 until k).map(j => element_at(col("sigs"), j + 1).as(s"sig$j")): _*)
  }

  /** LSH band buckets: k signatures split into bands of r; bucket key =
    * band values joined. (doc_id, band, bucket). Candidate pairs are docs
    * sharing any (band, bucket). */
  def lshBuckets(documents: DataFrame, n: Int = 3, k: Int = 16, r: Int = 4): DataFrame =
    lshBucketsFrom(minhashSignatures(documents, n, k), k, r)

  /** Banding over a pre-built signature frame (doc_id, sig0..sig{k-1}) —
    * the signature pass is r-independent, so a sweep over band widths can
    * compute it once. */
  private[graft] def lshBucketsFrom(sigs: DataFrame, k: Int, r: Int): DataFrame = {
    val bands = (0 until k / r).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until r).map(j => col(s"sig${b * r + j}")): _*).as("bucket"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate pairs from LSH buckets (doc_a < doc_b, distinct).
    *
    * Shape: ONE shuffle (groupBy band+bucket) followed by doc-local pair
    * emission from the sorted member list — no self-join, so the signature
    * plan is evaluated exactly once per document. Buckets larger than
    * `maxBucket` are skipped entirely (a near-dup cluster of m docs would
    * otherwise emit m²/2 pairs; at web scale one viral page cluster can be
    * millions of docs — the cap bounds pair emission at maxBucket²/2 per
    * bucket, and the skipped buckets remain observable via [[lshBuckets]]). */
  def lshCandidates(documents: DataFrame, n: Int = 3, k: Int = 16, r: Int = 4,
      maxBucket: Int = 64): DataFrame =
    lshCandidatesFrom(minhashSignatures(documents, n, k), k, r, maxBucket)

  /** [[lshCandidates]] over a pre-built signature frame (see
    * [[lshBucketsFrom]]). */
  private[graft] def lshCandidatesFrom(sigs: DataFrame, k: Int, r: Int,
      maxBucket: Int = 64): DataFrame = {
    val grouped = lshBucketsFrom(sigs, k, r)
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    // ordered pairs from the sorted member list: ids[i] x ids[i+1..]
    val pairs = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
    grouped.select(explode(pairs).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** Two-stage verified near-duplicates — the production LSH discipline:
    * approximate candidate pairs ([[lshCandidates]]) VERIFIED by the exact
    * n-gram Jaccard, computed only for candidate pairs (LSH alone admits
    * banding false positives; clustering on unverified pairs over-merges).
    * Returns (doc_a, doc_b, n_common, jaccard), jaccard >= minJ.
    *
    * Scale shape: the corpus-sized work is exactly what lshCandidates
    * already does; verification first SEMI-reduces the per-doc shingle-set
    * table to candidate docs (few, bucket-capped), then scores each pair
    * with one array intersection — no new corpus shuffle, no self-join. */
  def verifiedNearDupPairs(documents: DataFrame, n: Int = 2, k: Int = 16,
      r: Int = 8, maxBucket: Int = 64, minJ: Double = 0.3): DataFrame =
    verifyCandidates(documents, lshCandidates(documents, n, k, r, maxBucket), n, minJ)

  /** The verification stage alone: exact n-gram Jaccard over an already-
    * computed candidate-pair set. Split out so one candidate ARTIFACT can
    * feed candidates/clusters/verify/apply without recomputing the LSH
    * pipeline per consumer (VERDICT r4 #3). */
  def verifyCandidates(documents: DataFrame, cand: DataFrame, n: Int,
      minJ: Double): DataFrame =
    verifyCandidatesFrom(shingleSets(documents, n), cand, minJ)

  /** Per-doc sorted-distinct shingle-hash sets `(doc_id, hs)` — the
    * verification side's input, split out so several verify calls over one
    * corpus (the recall sweep) can share a single tokenize+hash pass. */
  private[graft] def shingleSets(documents: DataFrame, n: Int): DataFrame =
    shingleSetsFrom(shingleHashes(documents, n))

  /** [[shingleSets]] over a pre-built [[shingleHashes]] frame. */
  private[graft] def shingleSetsFrom(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"), array_sort(array_distinct(col("hv"))).as("hs"))

  /** [[verifyCandidates]] over a pre-built [[shingleSets]] frame. */
  private[graft] def verifyCandidatesFrom(sets: DataFrame, cand: DataFrame,
      minJ: Double): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // BARRIER the semi-reduced set table: it feeds both the doc_a and the
    // doc_b join sides, and without the barrier each side re-runs the full
    // shingle-hash scan over the corpus (measured: two corpus scans per
    // verify call in the r8 plan). The barriered rows are candidate-doc-
    // bounded — few by construction (bucket-capped LSH proposals).
    val reduced = graft.Barrier(sets.join(candDocs, Seq("doc_id"), "left_semi"))
    // n_common comes out of an explode(array(e)) Generate, a pushdown
    // barrier: with plain withColumn+filter, the jaccard predicate was
    // pushed INTO the second join's condition, inlining the (expensive)
    // array_intersect into the join condition AND keeping it in the
    // projection - evaluated up to three times per passing pair. Behind
    // the barrier the intersection runs exactly once; the filter's
    // remaining arithmetic over (n_common, sizes) is cheap to re-derive.
    cand
      .join(reduced.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(reduced.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), size(col("ha")).as("sz_a"), size(col("hb")).as("sz_b"),
        explode(array(size(array_intersect(col("ha"), col("hb"))).cast("long"))).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
  }

  /** Connected-component cluster assignment over candidate pairs: every doc
    * that appears in a pair maps to its component's smallest doc_id (the
    * canonical keeper — the distributed form of the reference's first-wins
    * dedup applied to near-duplicate clusters). Singleton docs (no candidate
    * pair) are their own cluster and are omitted.
    *
    * Algorithm: alternating large-star/small-star (Kiveris et al., MapReduce
    * connected components) — each round halves path lengths toward the
    * component min, so rounds are O(log n) in the component size even on
    * adversarial chains (web-scale boilerplate families), vs O(diameter)
    * for plain min-label propagation. Each round is two join+agg jobs over
    * the (shrinking-toward-star) edge set, behind a [[graft.Barrier]] that
    * the round's convergence fingerprint materializes, so lineage stays one
    * round deep and the next round re-scans the barrier's blocks.
    * Convergence = the edge set's (count, hash-xor) fingerprint is
    * unchanged — at that fixed point the edges form stars (u, componentMin). */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    dedupClustersStats(pairs, maxIter)._1

  /** Driver-side union-find over a SMALL collected edge set (≤ the
    * [[dedupClustersStats]] threshold): roots always attach under the
    * smaller id per `lt`, so find() yields the component min — identical
    * output to the distributed star rounds at none of their per-round job
    * latency. ONE implementation for every key type; the caller supplies
    * the order that matches Spark's `least`/`min` for that type. */
  private def unionFindLabels[K](edges: Array[(K, K)],
      lt: (K, K) => Boolean): Seq[(K, K)] = {
    val parent = scala.collection.mutable.HashMap.empty[K, K]
    def find(x: K): K = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      val m = if (lt(rb, ra)) rb else ra
      parent.getOrElseUpdate(m, m)
    }
    val members = edges.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    members.toSeq.map(m => (m, find(m)))
  }

  /** UTF-8 binary order — what Spark's `least`/`min` use on strings
    * (UTF8String compares unsigned bytes). Java String `<` is UTF-16
    * code-unit order, which DISAGREES for supplementary-plane code
    * points: U+10000+ sorts via 0xD800-range surrogates in UTF-16 (below
    * U+E000..U+FFFF) but via 0xF0-lead bytes in UTF-8 (above them) — so
    * the fast path must compare bytes or its component labels could
    * diverge from the distributed rounds'. */
  private def ltUtf8(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  private def localUnionFindStr(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val edges = e.as[(String, String)].collect()
    // union-find performs O(E·α) comparisons over up to 2^20 edges; encode
    // each distinct key's UTF-8 bytes ONCE instead of re-encoding both
    // sides on every ltUtf8 call (ADVICE r8 — millions of transient arrays)
    val bytes = new java.util.HashMap[String, Array[Byte]]()
    def enc(s: String): Array[Byte] = {
      var b = bytes.get(s)
      if (b == null) {
        b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8); bytes.put(s, b)
      }
      b
    }
    edges.foreach { case (a, b) => enc(a); enc(b) }
    val ltCached = (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(enc(a), enc(b)) < 0
    spark.createDataset(unionFindLabels(edges, ltCached))
      .toDF("doc_id", "cluster")
  }

  private def localUnionFind(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    spark.createDataset(
        unionFindLabels(e.as[(Long, Long)].collect(), (a: Long, b: Long) => a < b))
      .toDF("doc_id", "cluster")
  }

  /** [[dedupClusters]] plus the number of large-star/small-star rounds run
    * (spec hook for the O(log n) convergence bound).
    *
    * NOTE this method is EAGER: building the returned DataFrame runs jobs
    * (the canonical edge set is barriered and counted — the count IS the
    * size gate below, so it cannot be deferred). Callers composing plans
    * lazily should call it last (VERDICT r8).
    *
    * `localThreshold` is
    * the adaptive small-graph gate: when the (already bucket-capped)
    * candidate-pair set fits comfortably on the driver and is long- or
    * string-keyed,
    * a single union-find pass replaces the O(log n) distributed rounds —
    * the same kind of size-gated physical choice AQE makes for joins. The
    * distributed path is the contract (spec-proven equal on the same
    * inputs, including the 1000-chain); set `localThreshold = 0` to force
    * it. */
  def dedupClustersStats(pairs: DataFrame, maxIter: Int = 50,
      localThreshold: Long = 1L << 20): (DataFrame, Int) = {
    // canonical orientation big -> small; the star edges keep it throughout
    var e = graft.Barrier(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("src"),
        least(col("doc_a"), col("doc_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())

    val longKeyed = e.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val stringKeyed = e.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.StringType)
    if ((longKeyed || stringKeyed) && localThreshold > 0
        && e.count() <= localThreshold)
      return (if (longKeyed) localUnionFind(e) else localUnionFindStr(e), 0)

    // set fingerprint: row count + XOR of per-edge hashes (order-independent,
    // overflow-free under ANSI; the edge set is distinct so XOR cannot cancel)
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("src"), col("dst")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // large-star: connect every neighbor v > u to m(u) = min(N(u) ∪ {u}).
    // Shape: one groupBy for the per-node min + one equi-join back — no
    // collect_list, so a hub node never materializes its neighbor list.
    def largeStar(edges: DataFrame): DataFrame = {
      val bidir = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val mins = bidir.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("mn"), col("src")).as("m"))
      bidir.filter(col("dst") > col("src"))
        .join(mins, col("src") === col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    // small-star: connect every smaller neighbor (and u itself) to
    // m(u) = min of u's smaller neighbors. Input/output oriented src > dst.
    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val moved = edges.join(mins, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      moved.union(mins.select(col("src"), col("m").as("dst"))).distinct()
    }

    var fp = fingerprint(e)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      val next = graft.Barrier(smallStar(largeStar(e)))
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      e = next
      rounds += 1
    }
    val labels = e.select(col("src").as("doc_id"), col("dst").as("cluster"))
      .union(e.select(col("dst").as("doc_id"), col("dst").as("cluster")).distinct())
      .distinct()
    (labels, rounds)
  }

  /** Apply near-dup clusters to the corpus — the dedup family's end
    * product: keep every document that is its cluster's keeper (the
    * component-min doc_id) or belongs to no cluster. One LEFT ANTI join
    * against the non-keeper set (|members| − |clusters| rows — tiny
    * relative to the corpus, so AQE broadcasts it); the corpus itself is
    * never shuffled. */
  def applyClusters(documents: DataFrame, clusters: DataFrame): DataFrame =
    documents.join(
      clusters.filter(col("doc_id") =!= col("cluster")).select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Intra-corpus repeated-n-gram self-dedup — the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" shape:
    * score every document by how many of its distinct `n`-token windows
    * also occur in at least `minDf - 1` OTHER documents (boilerplate,
    * templates, licence headers). This is the self-referential complement
    * of [[TextOps.ngramContamination]], which only measures overlap with
    * an EXTERNAL benchmark set. Returns (doc_id, n_grams, n_shared,
    * shared_ratio) per document; downstream removal is a threshold filter
    * + [[applyClusters]]-style anti-join.
    *
    * Scale shape (never all-pairs): one explode of per-doc-distinct gram
    * hashes, one map-side-combined count per gram (per-doc distinctness
    * makes df a plain `count(*)` — partial-aggregable, so a boilerplate
    * gram present in 10M documents arrives at its reducer as ≤ #tasks
    * partial rows, no hot key), one hash join of the thin (doc_id, h)
    * stream against the df-filtered gram set (AQE skew-split applies),
    * and a map-side-combined per-doc re-aggregation. The corpus text is
    * shuffled nowhere; everything that moves is (long, long) rows. */
  def selfNgramDedup(documents: DataFrame, n: Int = 8, minDf: Long = 2L): DataFrame = {
    // BARRIER the thin (doc_id, h) stream: it feeds BOTH the df aggregate
    // and the join side, and without the barrier each consumer re-runs the
    // expensive Generate pass (tokenize + one md5 per gram occurrence) over
    // the corpus — measured as two full corpus scans in the r8 plan. The
    // barriered rows are two longs + the doc id, far cheaper to replay
    // than to recompute (guide §2.4: share one evaluation, not re-derive).
    val g = graft.Barrier(documents.select(col("doc_id"),
      explode(TextOps.ngramHashes(col("text"), n)).as("h")))
    val shared = g.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    g.join(shared, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("df")).as("n_shared"),
        round(count(col("df")).cast("double") / count(lit(1)), 6).as("shared_ratio"))
  }

  /** Apply [[selfNgramDedup]] — the family's end product, mirroring
    * [[applyClusters]]: keep every document whose shared-window ratio is
    * BELOW `maxRatio` (strictly: drop docs with
    * `n_shared / n_grams >= maxRatio`; `maxRatio = 1.0` drops only docs
    * made entirely of cross-document boilerplate, lower values cut
    * deeper). Returns the surviving documents with their original
    * columns. One semi-reduction: the scorer's thin output filters to a
    * doc_id-only drop set and the corpus anti-joins against it. Unlike
    * [[applyClusters]]' non-keeper set (tiny by construction), an
    * aggressive boilerplate threshold can drop a real fraction of the
    * corpus — the drop column is still just a long per dropped doc, so
    * AQE broadcasts it when small and otherwise falls back to one
    * doc_id-keyed shuffled anti-join (the corpus moves at most once, on
    * its own key). */
  def applySelfNgram(documents: DataFrame, n: Int = 8, minDf: Long = 2L,
      maxRatio: Double = 1.0): DataFrame = {
    val drop = selfNgramDedup(documents, n, minDf)
      .filter(col("n_shared").cast("double") >= col("n_grams").cast("double") * maxRatio)
      .select(col("doc_id"))
    documents.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Span view of [[selfNgramDedup]]: every occurrence (including repeats
    * within one document) of a cross-document-shared `n`-token window, as
    * (doc_id, start_pos, h, df) with `start_pos` the 1-based token index —
    * the slice list Lee-et-al-style substring removal cuts out. Shared-ness
    * (`df`) still counts each document ONCE however often it repeats the
    * window internally, so the doc-level and span-level views agree on
    * what "shared with another document" means. Same never-all-pairs
    * shape as the doc-level scorer; the positional explode is the only
    * addition, and the inner join keeps only shared spans — typically a
    * small fraction — before anything re-aggregates. */
  def selfNgramSpans(documents: DataFrame, n: Int = 8, minDf: Long = 2L): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    // ONE barriered positional pass: the df side derives from the same
    // rows (df counts each document once per gram however often the doc
    // repeats it, so `count_distinct(doc_id)` over occurrences ==
    // `count(*)` over the per-doc-distinct gram set — the r8 shape paid a
    // SECOND full tokenize+md5 Generate pass for exactly that set), and
    // the final join replays the barrier instead of re-hashing the corpus.
    // The per-window hashes come from the fused NgramHashAll expression
    // (element i = window starting at token i+1, so posexplode's 0-based
    // pos + 1 IS start_pos — same rows as the old positional gram chain).
    val pos = graft.Barrier(documents
      .select(col("doc_id"), posexplode(
        column(graft.functions.NgramHashAll(
          expression(tokens(col("text"))), n, TextOps.Mod))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("start_pos"),
        col("col").as("h")))
    val shared = pos.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
    pos.join(shared, Seq("h"))
      .select(col("doc_id"), col("start_pos"), col("h"), col("df"))
  }

  /** 16-bit SimHash over token hashes: bit b set iff the sum over tokens of
    * (+1 if bit b of hash(token) else -1) is positive. The token-hash array
    * is bound once (same CollapseProject boundary as [[shingleHashes]]). */
  def simhash(documents: DataFrame, bits: Int = 16): DataFrame = {
    val hashed = documents.select(col("doc_id"),
      transform(array_distinct(tokens(col("text"))), t => tokenHash(t)).as("hv"))
    val bitSum = (b: Int) =>
      aggregate(col("hv"), lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
    val sim = (0 until bits).map(b =>
      when(bitSum(b) > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    hashed.select(col("doc_id"), sim.as("simhash"))
  }
}
