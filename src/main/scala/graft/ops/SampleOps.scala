package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sampling / split operators for training-data pipelines.
  *
  * Everything is deterministic-hash based (md5-derived integer arithmetic,
  * like the dedup family): a document's split assignment depends only on
  * its id and the seed — stable across runs, engines, cluster sizes and
  * input order, which is what makes train/test splits reproducible and
  * leak-free at 100 TB (no RNG state, no global sort, no shuffle at all:
  * the split is a narrow per-row projection the scan pipeline absorbs).
  */
object SampleOps {

  /** Hash bucket in [0, buckets) from the doc id and seed — the same
    * 56-bit md5 prefix arithmetic as [[TextOps.tokenHash]], so DuckDB
    * replays it exactly. */
  def hashBucket(id: Column, seed: String, buckets: Int): Column =
    pmod(TextOps.tokenHash(concat(id.cast("string"), lit(seed))),
      lit(buckets.toLong))

  /** Deterministic weighted split: adds a `split` column with the name of
    * the first split whose cumulative weight bound exceeds the doc's hash
    * bucket (weights are normalized; 10,000 buckets give 0.01%
    * granularity). Typical use: `hashSplit(docs, Seq("train" -> 0.98,
    * "val" -> 0.01, "test" -> 0.01))`. */
  def hashSplit(documents: DataFrame, splits: Seq[(String, Double)],
      seed: String = "graft", idCol: String = "doc_id",
      buckets: Int = 10000): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), s"bad split weights: $splits")
    val total = splits.map(_._2).sum
    val bounds = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(b => math.round(b * buckets))
    val b = hashBucket(col(idCol), seed, buckets)
    val expr = splits.zip(bounds).reverse.foldLeft(lit(splits.last._1): Column) {
      case (acc, ((name, _), bound)) => when(b < bound, lit(name)).otherwise(acc)
    }
    documents.withColumn("split", expr)
  }

  /** Deterministic stratified sampling: per-stratum keep fractions (e.g.
    * downsample dominant languages, keep all of a rare one). A row is kept
    * iff its hash bucket falls under its stratum's bound — the same
    * seeded-hash discipline as [[hashSplit]], so the sample is stable
    * across runs/engines/cluster sizes and needs NO shuffle, no per-stratum
    * count pass, and no RNG state (Spark's `sampleBy` is seed-stable but
    * partition-layout-dependent; this is content-keyed). Strata missing
    * from `fractions` are dropped, like `sampleBy`. */
  def stratifiedSample(df: DataFrame, strataCol: String,
      fractions: Map[String, Double], seed: String = "graft",
      idCol: String = "doc_id", buckets: Int = 10000): DataFrame = {
    require(fractions.nonEmpty && fractions.values.forall(f => f >= 0 && f <= 1),
      s"fractions must be in [0,1]: $fractions")
    val bounds = typedLit(fractions.map { case (k, f) =>
      k -> math.round(f * buckets)
    })
    df.filter(hashBucket(col(idCol), seed, buckets) <
      coalesce(element_at(bounds, col(strataCol)), lit(0L)))
  }

  /** Deterministic WEIGHTED sampling: keep a row with probability
    * `weightPpm / 1e6`, decided content-keyed — the quality-weighted
    * downsampling step (keep high-quality documents with certainty,
    * low-quality ones in proportion to their score). `weightPpm` is any
    * integer Column in parts-per-million; values ≥ 1e6 keep always, ≤ 0
    * never. Same seeded-hash discipline as [[hashSplit]]: the decision is
    * a pure function of (id, seed), so the sample is stable across runs,
    * engines and cluster layouts, and the scan needs NO shuffle, no
    * per-bucket count pass, and no RNG state. 100-TB shape: a codegen'd
    * filter fused into the scan — weight-proportional sampling costs the
    * same as a WHERE clause. */
  def weightedSample(df: DataFrame, weightPpm: Column, seed: String = "graft",
      idCol: String = "doc_id"): DataFrame =
    df.filter(hashBucket(col(idCol), seed, 1000000) < weightPpm.cast("long"))

  /** Corpus MIXTURE composition — the Pile/Dolma data-mixing shape: build
    * a training corpus of ~`totalDocs` documents where source `s`
    * contributes `targetShares(s) * totalDocs` of them, UP- or
    * DOWN-sampling each source as needed. A source whose target exceeds
    * its size is repeated (epochs — the standard small-high-quality-source
    * treatment); one whose target is smaller is hash-downsampled. Returns
    * (original columns…, epoch) with one row per kept copy; epoch numbers
    * the copies 0..k. Shares are taken as given (pass values summing to 1;
    * they are deliberately NOT renormalized — a float sum's order
    * dependence would break exact cross-engine replay).
    *
    * Deterministic like the rest of the family: the per-source RATE
    * (= totalDocs * share / |source|, capped at `maxEpochs`) splits into
    * whole epochs (always kept) plus one fractional epoch kept iff the
    * (id, epoch)-seeded hash bucket clears the fractional bound — no RNG,
    * no shuffle of the corpus. Scale shape: one map-side-combined count
    * per source (dims-sized, collected), a broadcast literal rate map,
    * then a per-row generator explode bounded by `maxEpochs` — the corpus
    * is scanned once and never shuffled. */
  def mixtureSample(documents: DataFrame, targetShares: Map[String, Double],
      totalDocs: Long, sourceCol: String = "source", seed: String = "graft",
      idCol: String = "doc_id", buckets: Int = 10000,
      maxEpochs: Int = 16): DataFrame = {
    require(targetShares.nonEmpty && targetShares.values.forall(_ > 0),
      s"shares must be positive: $targetShares")
    require(totalDocs > 0 && maxEpochs >= 1)
    val counts = documents.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates: Map[String, Double] = targetShares.flatMap { case (s, share) =>
      counts.get(s).filter(_ > 0).map { n =>
        s -> math.min(totalDocs * share / n, maxEpochs.toDouble)
      }
    }
    val fullMap = typedLit(rates.map { case (s, r) => s -> math.floor(r).toLong })
    val fracMap = typedLit(rates.map { case (s, r) =>
      s -> math.round((r - math.floor(r)) * buckets)
    })
    val fullN = coalesce(element_at(fullMap, col(sourceCol)), lit(0L))
    val fracBound = coalesce(element_at(fracMap, col(sourceCol)), lit(0L))
    // epochs 0..fullN-1 always kept; the extra epoch `fullN` survives the
    // fractional hash test (sources absent from the shares emit only that
    // epoch and fail it with bound 0 — dropped, like stratifiedSample)
    documents
      .withColumn("epoch", explode(sequence(lit(0L), fullN)))
      .filter(col("epoch") < fullN ||
        hashBucket(concat(col(idCol).cast("string"), lit(":"),
          col("epoch").cast("string")), seed, buckets) < fracBound)
  }

  /** Concat-then-chunk sequence packing for LLM pretraining: documents in
    * deterministic `idCol` order form one global token stream, and each
    * document's START OFFSET in that stream assigns it to fixed-capacity
    * training sequences — `seq_id = start_offset div capacity`, with
    * `n_seqs` (sequences the doc spans) exposing the boundary-crossing
    * documents a loader will split. Output:
    * (doc_id, n_tokens, start_offset, seq_id, n_seqs); token counts are
    * the whitespace tokens of [[TextOps.tokenCounts]].
    *
    * Scale shape — a DISTRIBUTED PREFIX SUM, not a global window: a bare
    * `sum(n) over (order by doc_id)` clusters the whole corpus into ONE
    * partition (the classic running-total scalability cliff). Instead:
    * range-repartition by id (the layout a sorted 100-TB table already
    * has), per-partition partial sums (one row per partition), a window
    * over that PARTITION-COUNT-sized frame for the base offsets,
    * broadcast-join the bases back, and finish with a per-partition
    * window — parallelism stays = partitions end to end, every exchange
    * carries thin (id, long) rows, and nothing is collected to the
    * driver. The partials branch and the main branch share the range
    * exchange: both subtrees are pure Catalyst, so AQE's ReusedExchange
    * fires and the input is scanned once (verified at runtime, PLANS.md
    * r8 plan audits — unlike object-operator subtrees, which
    * AQE does not unify; see `KgPipeline.triplesFromSets`).
    * Deterministic: the offsets depend only on the global id order, not
    * on the partition boundaries (spec-proven identical at 1 and 7
    * partitions).
    *
    * Input contract (ADVICE r7 #4): the `parted` subtree is evaluated by
    * both the partials branch and the main branch; when AQE's
    * ReusedExchange does not fire, the `_pid` join is only correct if
    * both executions range-partition identically — guaranteed for a
    * DETERMINISTIC input (a table scan, or any pure-Catalyst plan over
    * one), which every training corpus is. Do not feed this a plan
    * downstream of a nondeterministic shuffle (e.g. round-robin
    * `repartition()`) — sort or write it out first. */
  def packSequences(documents: DataFrame, capacity: Long,
      numPartitions: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val parted = documents
      .select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .repartitionByRange(p, col("doc_id"))
      .withColumn("_pid", spark_partition_id())
    // base offset per partition: partials are numPartitions rows, so the
    // single-partition window over them is driver-free AND trivially small
    val bases = parted.groupBy("_pid").agg(sum("n_tokens").as("_psum"))
      .withColumn("_base", coalesce(
        sum(col("_psum")).over(Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_base"))
    parted.join(broadcast(bases), Seq("_pid"))
      .withColumn("start_offset", col("_base") + coalesce(
        sum(col("n_tokens")).over(Window.partitionBy("_pid").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        expr(s"start_offset DIV ${capacity}L").as("seq_id"),
        (expr(s"(start_offset + n_tokens - 1) DIV ${capacity}L") -
          expr(s"start_offset DIV ${capacity}L") + lit(1L)).as("n_seqs"))
  }

  /** Token-budget corpus selection — "the best `budgetTokens` worth of
    * the corpus": documents are ordered by (`orderCol` DESC, id) — put a
    * quality score there — and the maximal prefix whose cumulative token
    * count stays ≤ `budgetTokens` is kept (strict: a document that would
    * cross the budget is dropped, as are all below it). The standard
    * budgeted-curation step between quality scoring and training.
    *
    * Returns `(doc_id, n_tokens, cum_tokens)` for the kept prefix,
    * `cum_tokens` inclusive — so the loader knows both the cut and each
    * doc's position in it.
    *
    * Scale shape: the [[packSequences]] distributed prefix sum applied to
    * a DESCENDING quality order — range partition by (quality DESC, id),
    * per-partition partials (one row each), a partition-count-sized
    * window for the bases, broadcast back, then a per-partition running
    * sum and a codegen'd filter. NEVER the single-partition global
    * window. Both range keys flow through both branches, so AQE reuses
    * the exchange (the shuffleOrder column-pruning lesson does not bite:
    * partitioning columns cannot be pruned). */
  def budgetSelect(documents: DataFrame, budgetTokens: Long, orderCol: String,
      numPartitions: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0: $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val parted = documents
      .select(col(idCol).as("doc_id"), col(orderCol).as("_q"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .repartitionByRange(p, col("_q").desc, col("doc_id"))
      .withColumn("_pid", spark_partition_id())
    val bases = parted.groupBy("_pid").agg(sum("n_tokens").as("_psum"))
      .withColumn("_base", coalesce(
        sum(col("_psum")).over(Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_base"))
    parted.join(broadcast(bases), Seq("_pid"))
      .withColumn("cum_tokens", col("_base") +
        sum(col("n_tokens")).over(
          Window.partitionBy("_pid").orderBy(col("_q").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
  }

  /** Per-sequence slice view of [[packSequences]] — the loader contract's
    * other half (VERDICT r7 #4): one row per (sequence, document)
    * intersection, `(seq_id, doc_id, skip_tokens, take_tokens)`, meaning
    * "sequence `seq_id` takes `take_tokens` tokens of `doc_id` starting
    * after its first `skip_tokens`". A boundary-crossing document emits
    * one row per sequence it spans; a fully-contained document emits one
    * row with `skip_tokens = 0, take_tokens = n_tokens`.
    *
    * Pure per-row arithmetic on the packing's prefix sums — a generator
    * explode over `n_seqs` (bounded by ceil(n_tokens/capacity) + 1), no
    * extra shuffle beyond [[packSequences]] itself. Invariants
    * property-proven (PackProps): per-doc slice lengths sum to n_tokens,
    * and every sequence is filled to exactly `capacity` except the last. */
  def packSlices(documents: DataFrame, capacity: Long,
      numPartitions: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val packed = packSequences(documents, capacity, numPartitions, idCol, textCol)
    val cap = lit(capacity)
    packed
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        explode(sequence(col("seq_id"), col("seq_id") + col("n_seqs") - 1)).as("seq_id"))
      .withColumn("_from", greatest(col("start_offset"), col("seq_id") * cap))
      .withColumn("_until", least(col("start_offset") + col("n_tokens"),
        (col("seq_id") + 1) * cap))
      .select(col("seq_id"), col("doc_id"),
        (col("_from") - col("start_offset")).as("skip_tokens"),
        (col("_until") - col("_from")).as("take_tokens"))
  }

  /** Deterministic seeded GLOBAL SHUFFLE of the training order — every
    * epoch of LLM pretraining starts with one. Returns `(doc_id, pos)`
    * where `pos` is the document's 0-based position in the shuffled
    * order, defined purely by content: sort key = the seeded 56-bit md5
    * hash of the id (ties broken by id), so the permutation is stable
    * across runs, engines, cluster sizes and input layouts — rerunning
    * the job resumes the SAME order, which is what makes mid-epoch
    * checkpoint recovery deterministic.
    *
    * Scale shape: the same distributed prefix machinery as
    * [[packSequences]], applied to row COUNTS instead of token sums — a
    * bare `row_number() over (order by key)` would funnel 100 TB through
    * one partition. Range-partition by the hash key (uniform by
    * construction, so ranges balance regardless of id skew),
    * per-partition counts (one row each), a partition-count-sized window
    * for the base positions, broadcast them back, and number rows
    * per-partition. Both branches are pure Catalyst, so AQE reuses the
    * range exchange and the input is scanned once. */
  def shuffleOrder(df: DataFrame, seed: String = "graft",
      numPartitions: Int = 0, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val keyed = df
      .select(col(idCol).as("doc_id"),
        TextOps.tokenHash(concat(col(idCol).cast("string"), lit(seed))).as("_k"))
      .repartitionByRange(p, col("_k"), col("doc_id"))
      .withColumn("_pid", spark_partition_id())
    val bases = keyed.groupBy("_pid").agg(count(lit(1)).as("_n"))
      .withColumn("_base", coalesce(
        sum(col("_n")).over(Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_base"))
    keyed.join(broadcast(bases), Seq("_pid"))
      .withColumn("pos", col("_base") +
        row_number().over(Window.partitionBy("_pid").orderBy("_k", "doc_id"))
          .cast("long") - 1L)
      .select(col("doc_id"), col("pos"))
  }

  /** Length-bucketed dynamic batching — the padding-efficiency shape for
    * variable-length training/inference: documents land in power-of-two
    * token-length buckets (`bucket` = bit length of `n_tokens`, so
    * lengths 8–15 share bucket 4), are deterministically shuffled WITHIN
    * their bucket (seeded hash order, like [[shuffleOrder]]), and cut
    * into fixed-count batches — `batch` = position-in-bucket div
    * `batchSize`. Batching similar lengths together bounds padding waste
    * at 2× worst-case per batch instead of max-doc-length.
    *
    * Output: `(doc_id, n_tokens, bucket, pos, batch)` with `pos` the
    * 0-based shuffled position within the bucket.
    *
    * Scale shape: the grouped form of the distributed prefix sum — NOT a
    * `row_number() over (partition by bucket ...)` window, which would
    * hash ALL of a bucket's rows into one partition (a handful of
    * power-of-two buckets ⇒ parallelism collapses to ~20 and the modal
    * bucket of a 100-TB corpus is terabytes). Instead range-partition by
    * (bucket, key) so buckets span many partitions contiguously, compute
    * per-(partition, bucket) counts (≤ partitions × buckets tiny rows),
    * turn them into base positions with a window over that small frame,
    * broadcast back, and number per-partition. */
  def lengthBatches(documents: DataFrame, batchSize: Int,
      seed: String = "graft", numPartitions: Int = 0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val keyed = documents
      .select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"),
        TextOps.tokenHash(concat(col(idCol).cast("string"), lit(seed))).as("_k"))
      // bit length = floor(log2)+1 in exact integer arithmetic (length of
      // the binary rendering — identical in Spark and DuckDB, no float log)
      .withColumn("bucket", length(bin(col("n_tokens"))).cast("long"))
      // n_tokens as a TRAILING range key is a no-op for the order (doc_id
      // is unique, so the prefix is already total) but makes it a
      // partitioning column that column pruning cannot inline into the
      // bucket expression on the partials branch — without it the two
      // range-exchange subtrees canonicalize differently and AQE scans +
      // tokenizes the corpus TWICE (measured, PLANS.md r8 audits; a
      // count("n_tokens") pin fails too: the optimizer rewrites
      // non-null-column counts back to count(1) and pruning re-inlines)
      .repartitionByRange(p, col("bucket"), col("_k"), col("doc_id"),
        col("n_tokens"))
      .withColumn("_pid", spark_partition_id())
    val bases = keyed.groupBy("_pid", "bucket").agg(count(lit(1)).as("_n"))
      .withColumn("_base", coalesce(
        sum(col("_n")).over(Window.partitionBy("bucket").orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("bucket"), col("_base"))
    keyed.join(broadcast(bases), Seq("_pid", "bucket"))
      .withColumn("pos", col("_base") +
        row_number().over(Window.partitionBy("_pid", "bucket")
          .orderBy("_k", "doc_id")).cast("long") - 1L)
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pos"),
        expr(s"pos DIV ${batchSize}L").as("batch"))
  }

  /** Global token vocabulary: top-`k` whitespace tokens by document-
    * corpus frequency, ties broken lexicographically. One explode + one
    * map-side-combined hash aggregate + a TakeOrdered top-k — the
    * standard shape for frequency tables at scale (the shuffle carries
    * only distinct tokens, not occurrences). */
  def topTokens(documents: DataFrame, k: Int = 20): DataFrame =
    documents
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
}
