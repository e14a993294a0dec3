package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{AnnOps, DedupOps, TextOps}

/** Unit semantics of the round-2 dedup/ANN operators (the oracle gate
  * checks end-to-end parity; these pin the edge cases). */
class OpsSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("dedupClusters: chains merge to the component-min keeper") {
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,11}; singleton 99 absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = DedupOps.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dedupClusters: converges on a cycle and a star") {
    val pairs = Seq((5L, 6L), (6L, 7L), (5L, 7L), (1L, 8L), (1L, 9L))
      .toDF("doc_a", "doc_b")
    val out = DedupOps.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out(5L) == 5L && out(6L) == 5L && out(7L) == 5L)
    assert(out(8L) == 1L && out(9L) == 1L && out(1L) == 1L)
  }

  test("packSequences: offsets follow id order and are partition-count independent") {
    import graft.ops.SampleOps
    // hand-checkable stream: docs 0..4 with 3/1/5/2/4 tokens, capacity 4
    val docs = Seq(
      (0L, "a b c"), (1L, "x"), (2L, "a b c d e"), (3L, "a b"), (4L, "a b c d"))
      .toDF("doc_id", "text")
    val out = SampleOps.packSequences(docs, capacity = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_offset", "seq_id", "n_seqs")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // stream offsets: 0,3,4,9,11 — doc0 fits seq0, doc1 crosses 3..3 (seq0),
    // doc2 spans 4..8 (seqs 1-2), doc3 9..10 (seq2), doc4 11..14 (seqs 2-3)
    assert(out == Seq(
      (0L, 3L, 0L, 0L, 1L), (1L, 1L, 3L, 0L, 1L), (2L, 5L, 4L, 1L, 2L),
      (3L, 2L, 9L, 2L, 1L), (4L, 4L, 11L, 2L, 2L)))
    // the distributed prefix sum must not depend on partition boundaries:
    // 1 partition (the naive global-window answer) == 7 partitions
    val big = (0L until 500L).map(i => (i, ("w " * (i % 13 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val one = SampleOps.packSequences(big, 32, numPartitions = 1).collect().toSet
    val seven = SampleOps.packSequences(big, 32, numPartitions = 7).collect().toSet
    assert(one == seven)
  }

  test("lmScore: hand-computed add-one bigram log-likelihoods") {
    import graft.ops.TextOps
    // uni: a=3 b=2 (V=2); bigrams: "b a"=2, "a b"=1
    // "a b" -> ln((1+1)/(3+2)) = ln(0.4); "b a" -> ln((2+1)/(2+2)) = ln(0.75)
    val docs = Seq((0L, "a b a"), (1L, "b a")).toDF("doc_id", "text")
    val out = TextOps.lmScore(docs).orderBy("doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val lnAB = math.log(2.0 / 5.0); val lnBA = math.log(3.0 / 4.0)
    assert(out == Seq(
      (0L, 2L, r6(lnAB + lnBA), r6((lnAB + lnBA) / 2)),
      (1L, 1L, r6(lnBA), r6(lnBA))))
    // single-token / empty docs have no bigrams and are not scored
    val one = TextOps.lmScore(Seq((9L, "solo")).toDF("doc_id", "text"))
    assert(one.count() == 0)
  }

  test("hashSplit is deterministic, exhaustive and proportional") {
    import graft.ops.SampleOps
    val docs = (0L until 2000L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = SampleOps.hashSplit(docs, splits)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    val b = SampleOps.hashSplit(docs.orderBy(col("doc_id").desc), splits)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(a == b, "assignment must not depend on input order")
    assert(a.values.sum == 2000, "every doc gets exactly one split")
    assert(a("train") > 1500 && a("train") < 1700, s"~80% train, got $a")
    assert(a("val") > 120 && a("val") < 280 && a("test") > 120 && a("test") < 280)
    // a different seed reshuffles, same seed reproduces
    val c = SampleOps.hashSplit(docs, splits, seed = "other")
      .filter(col("split") === "val").select("doc_id").as[Long].collect().toSet
    val aval = SampleOps.hashSplit(docs, splits)
      .filter(col("split") === "val").select("doc_id").as[Long].collect().toSet
    val aval2 = SampleOps.hashSplit(docs, splits)
      .filter(col("split") === "val").select("doc_id").as[Long].collect().toSet
    assert(aval == aval2 && aval != c)
  }

  test("applyClusters keeps component keepers and untouched docs") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "alone"))
      .toDF("doc_id", "text")
    // components {1,2,3} (keeper 1) and {4} never paired; 9 untouched
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster")
    val kept = DedupOps.applyClusters(docs, clusters)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 9L))
  }

  test("dedupClusters: 1000-doc chain converges in O(log n) DISTRIBUTED rounds") {
    // adversarial diameter-999 chain: min-label propagation would need ~999
    // rounds; large-star/small-star must stay logarithmic. localThreshold=0
    // forces the distributed path (the small-graph gate would shortcut it)
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (out, rounds) = DedupOps.dedupClustersStats(pairs, localThreshold = 0)
    assert(rounds >= 1 && rounds <= 12, s"expected O(log n) rounds, got $rounds")
    val m = out.as[(Long, Long)].collect().toMap
    assert(m.size == 1000)
    assert(m.values.forall(_ == 0L))
  }

  test("dedupClusters: small-graph union-find path equals the distributed path") {
    // chain + cycle + star + isolated pair, shared in one input
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (20L, 22L), (20L, 23L), (30L, 31L)))
      .toDF("doc_a", "doc_b")
    val (local, lr) = DedupOps.dedupClustersStats(pairs)
    val (dist, dr) = DedupOps.dedupClustersStats(pairs, localThreshold = 0)
    assert(lr == 0 && dr >= 1)
    assert(local.as[(Long, Long)].collect().toMap == dist.as[(Long, Long)].collect().toMap)
  }

  test("dedupClusters: STRING-keyed union-find path equals the distributed path") {
    // curie-shaped ids; lexicographic min must match Spark's string order
    val pairs = Seq(("op:scan", "op:sort"), ("op:sort", "store:row"),
      ("load:batch", "load:query"), ("engine:spark", "load:batch"))
      .toDF("doc_a", "doc_b")
    val (local, lr) = DedupOps.dedupClustersStats(pairs)
    val (dist, dr) = DedupOps.dedupClustersStats(pairs, localThreshold = 0)
    assert(lr == 0 && dr >= 1)
    assert(local.as[(String, String)].collect().toMap ==
      dist.as[(String, String)].collect().toMap)
    assert(local.as[(String, String)].collect().toMap ==
      Map("op:scan" -> "op:scan", "op:sort" -> "op:scan", "store:row" -> "op:scan",
        "engine:spark" -> "engine:spark", "load:batch" -> "engine:spark",
        "load:query" -> "engine:spark"))
  }

  test("dedupClusters: supplementary-plane ids label identically on both paths") {
    // U+10000 (surrogate pair) vs U+FFFF: UTF-16 code-unit order and
    // Spark's UTF-8 binary order DISAGREE on which is smaller — the fast
    // path must use byte order or the component label flips with the gate
    val hi = "￿-bmp"
    val supp = new String(Character.toChars(0x10000)) + "-supp"
    val pairs = Seq((hi, supp), (supp, hi)).toDF("doc_a", "doc_b")
    val local = DedupOps.dedupClustersStats(pairs)._1
      .as[(String, String)].collect().toMap
    val dist = DedupOps.dedupClustersStats(pairs, localThreshold = 0)._1
      .as[(String, String)].collect().toMap
    assert(local == dist)
    // UTF-8 binary order: U+FFFF (EF BF BF) < U+10000 (F0 90 80 80)
    assert(local.values.toSet == Set(hi))
  }

  test("budgetSelect orders by fractional quality scores without truncation") {
    import graft.ops.SampleOps
    // double scores in (0,1): a long cast would collapse them all to 0
    // and fall back to doc_id order (keeping docs 1 and 2)
    val docs = Seq(
      (1L, 0.1, "w w w w w w"), (2L, 0.5, "w w w"),
      (3L, 0.9, "w w")).toDF("doc_id", "q", "text")
    val kept = SampleOps.budgetSelect(docs, budgetTokens = 6, orderCol = "q")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // order: d3(0.9, 2 toks) cum 2, d2(0.5, 3) cum 5, d1(0.1, 6) cum 11 cut
    assert(kept == Set((3L, 2L), (2L, 5L)))
  }

  test("danglingEdgeReport: missing endpoints per side, counted, present ones silent") {
    val edges = Seq(("a", "x", "MENTIONS"), ("a", "y", "MENTIONS"),
      ("b", "x", "MENTIONS"), ("b", "y", "MENTIONS"))
      .toDF("src", "tgt", "label")
    val nodeIds = Seq("a", "x").toDF("id")
    val out = graft.dedup.Dedup.danglingEdgeReport(edges, nodeIds).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(out == Set(
      ("src", "MENTIONS", "b", 2L),   // b dangles twice
      ("tgt", "MENTIONS", "y", 2L)))  // y dangles twice; a and x are fine
  }

  test("lshCandidates respects the bucket-size cap") {
    // 3 identical docs + 1 distinct: all three share every band bucket
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d e"),
      (4L, "x y z w q")).toDF("doc_id", "text")
    val all = DedupOps.lshCandidates(docs, n = 2, k = 8, r = 4, maxBucket = 64)
    assert(all.count() == 3) // (1,2),(1,3),(2,3)
    val capped = DedupOps.lshCandidates(docs, n = 2, k = 8, r = 4, maxBucket = 2)
    assert(capped.count() == 0) // the 3-member bucket is skipped entirely
  }

  test("cosineNearDupPairs finds identical vectors at the near-dup threshold") {
    val emb = Seq(
      (1L, "a", Seq(0.5f, 0.5f, 0.1f, 0.2f)),
      (2L, "b", Seq(0.5f, 0.5f, 0.1f, 0.2f)),   // exact dup of 1
      (3L, "c", Seq(-0.5f, -0.5f, -0.1f, -0.2f)), // different sign bucket
      (4L, "d", Seq(0.9f, 0.1f, 0.3f, 0.4f)),
    ).toDF("vec_id", "label", "embedding")
    val pairs = AnnOps.cosineNearDupPairs(emb, minCos = 0.99, nBits = 4)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 == 1.0)
  }

  test("ivfAssign is the exact argmax (matches brute-force per row)") {
    val emb = (0L until 40L).map { i =>
      (i, s"v$i", (0 until 8).map(j =>
        (((i * 31 + j * 17) % 19).toFloat - 9f) / 10f))
    }.toDF("vec_id", "label", "embedding")
    val cents = AnnOps.ivfCentroids(emb, nList = 4)
    val assigned = AnnOps.ivfAssign(emb, cents)
      .select(col("vec_id"), col("embedding"), col("ivf_cid"))
      .collect()
    def quant(x: Float): Long = {
      val v = x.toDouble * 1000.0
      if (v >= 0) math.floor(v + 0.5).toLong else -math.floor(-v + 0.5).toLong
    }
    assigned.foreach { r =>
      val q = r.getSeq[Float](1).map(quant)
      val best = cents.map { case (cid, cq, cn) =>
        val dot = q.zip(cq).map { case (a, b) => a * b }.sum
        (cid, dot.toDouble / (math.sqrt(q.map(x => x.toDouble * x).sum) * cn))
      }.minBy { case (cid, cos) => (-cos, cid) }._1
      assert(r.getInt(2) == best, s"vec ${r.getLong(0)}")
    }
  }

  test("semanticNearDupPairs: within-cell pairs only, catches sign-straddling dups") {
    // 1 and 2 are near-identical but straddle a sign boundary in dim 1 —
    // sign-LSH misses them; both sit nearest the same trained centroid, so
    // the SemDeDup cell proposes them. 3/4 form a second, distant cluster.
    val emb = Seq(
      (1L, "a", Seq(0.01f, 0.9f, 0.8f, 0.7f)),
      (2L, "b", Seq(-0.01f, 0.9f, 0.8f, 0.7f)),
      (3L, "c", Seq(-0.9f, -0.8f, 0.1f, -0.7f)),
      (4L, "d", Seq(-0.9f, -0.8f, 0.1f, -0.6f)),
    ).toDF("vec_id", "label", "embedding")
    val cents = AnnOps.ivfTrainCentroids(emb, nList = 2, iters = 2)
    val sem = AnnOps.semanticNearDupPairs(emb, cents, minCos = 0.9)
      .as[(Int, Long, Long, Double)].collect()
    assert(sem.map(p => (p._2, p._3)).toSet == Set((1L, 2L), (3L, 4L)))
    // every pair stays inside one cell, and the straddling pair is the
    // one single-table sign-LSH structurally misses
    val lsh = AnnOps.cosineNearDupPairs(emb, minCos = 0.9, nBits = 4)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(!lsh.contains((1L, 2L)))
  }

  test("multi-table near-dup pairs are a superset of single-table with higher recall") {
    // 1 and 2 are near-dups straddling a sign boundary in dims 1-4 (table 0
    // misses them) but sign-identical in dims 5-8 (table 1 catches them)
    val emb = Seq(
      (1L, "a", Seq(0.01f, 0.5f, 0.5f, 0.5f, 0.9f, 0.9f, 0.9f, 0.9f)),
      (2L, "b", Seq(-0.01f, 0.5f, 0.5f, 0.5f, 0.9f, 0.9f, 0.9f, 0.9f)),
      (3L, "c", Seq(0.5f, 0.5f, 0.5f, 0.5f, 0.9f, 0.9f, 0.9f, 0.9f)),
      (4L, "d", Seq(-0.9f, -0.9f, 0.9f, -0.9f, -0.9f, 0.9f, -0.9f, 0.9f)),
    ).toDF("vec_id", "label", "embedding")
    val single = AnnOps.cosineNearDupPairs(emb, minCos = 0.9, nBits = 4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val multi = AnnOps.cosineNearDupPairsMulti(emb, minCos = 0.9, nBits = 4, tables = 2)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi))
    assert(!single.contains((1L, 2L)), "table 0 must miss the boundary pair")
    assert(multi.contains((1L, 2L)), "table 1 must recover it")
  }

  test("trained IVF centroids balance the lists (k-means moves the init)") {
    // two tight clusters of 20 vectors each around (1,0,..) and (0,1,..);
    // seeded init takes vec_ids 1,2 (both inside cluster A), so untrained
    // lists are skewed; after 2 k-means iterations each centroid owns one
    // cluster and the max/min list ratio collapses
    val mk = (base: Seq[Double], i: Int) =>
      base.map(x => (x + 0.001 * i).toFloat)
    val a = (0 until 20).map(i => (i.toLong + 1, "a", mk(Seq(1.0, 0.0, 0.1, 0.0), i)))
    val b = (0 until 20).map(i => (i.toLong + 21, "b", mk(Seq(0.0, 1.0, 0.0, 0.1), i)))
    val emb = (a ++ b).toDF("vec_id", "label", "embedding")
    val trained = AnnOps.ivfTrainCentroids(emb, nList = 2, iters = 2)
    val init = AnnOps.ivfCentroids(emb, nList = 2)
    assert(trained.map(_._2.toSeq) != init.map(_._2.toSeq), "training must move the centroids")
    def ratio(cents: Array[(Int, Array[Long], Double)]): Double = {
      val sizes = AnnOps.ivfAssign(emb, cents)
        .groupBy("ivf_cid").count().as[(Int, Long)].collect().toMap
      val counts = Seq(1, 2).map(c => sizes.getOrElse(c, 0L)) // cids = init vec_ids
      counts.max.toDouble / math.max(1L, counts.min)
    }
    // untrained: both init centroids sit inside cluster A -> skewed split;
    // training must strictly improve balance and land near 50/50
    val (trainedRatio, initRatio) = (ratio(trained), ratio(init))
    assert(initRatio > 1.5, s"init should be skewed, got $initRatio")
    assert(trainedRatio < initRatio && trainedRatio <= 1.5,
      s"expected balanced lists after training, got $trainedRatio vs init $initRatio")
  }

  test("persisted IVF index answers identically and scans only probed partitions") {
    val emb = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Seq(1.0, 0.1, 0.0, 0.0) else Seq(0.0, 0.0, 1.0, 0.1)
      (i.toLong, s"v$i", base.map(x => (x + 0.003 * i).toFloat))
    }.toDF("vec_id", "label", "embedding")
    val q = Seq(1.0, 0.1, 0.05, 0.0)
    val tmp = java.nio.file.Files.createTempDirectory("ivf-idx-").toString
    AnnOps.writeIvfIndex(emb, tmp, nList = 4, iters = 2)
    val fromIndex = AnnOps.ivfTopKFromIndex(spark, tmp, q, excludeId = 0L, k = 5, nProbe = 2)
    val inMemory = AnnOps.ivfTopK(emb, q, excludeId = 0L, k = 5, nList = 4, nProbe = 2)
    assert(fromIndex.as[(Long, String, Double)].collect().toSeq ==
      inMemory.as[(Long, String, Double)].collect().toSeq)
    // physical proof of partition pruning: multiple list partitions exist
    // on disk and the executed plan prunes on ivf_cid at the scan
    // (inputFiles is relation-level metadata, so the plan is the evidence)
    val allCids = java.nio.file.Files.list(java.nio.file.Paths.get(tmp, "vectors"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("ivf_cid=")).toSet
    assert(allCids.size > 2, s"index must span >nProbe partitions, got $allCids")
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cid"),
      s"expected ivf_cid partition filters at the scan:\n$plan")
  }

  test("multi-probe LSH is a superset of the single-bucket search") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val single = AnnOps.lshTopK(emb, q, 0L, k = 50, nBits = 8)
      .select("vec_id").as[Long].collect().toSet
    val multi = AnnOps.lshTopKMultiProbe(emb, q, 0L, k = 50, nBits = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(single.subsetOf(multi) || multi.size == 50) // probe set ⊇ bucket
  }

  test("jaccardPairs matches a hand-computed reference (r9 pair-emission shape)") {
    // doc1/doc2 share most bigrams; doc3 shares none. Shingles are
    // per-doc-distinct word bigrams. doc1: {a b, b c, c d} doc2: {a b,
    // b c, c x} -> common 2, union 4 -> jaccard 0.5; pairs with doc3: 0.
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c x"),
      (3L, "p q r s"),
    ).toDF("doc_id", "text")
    val out = DedupOps.jaccardPairs(docs, n = 2, minJ = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq((1L, 2L, 2L, 3L, 3L, 0.5)))
    // maxDf stop-shingle cap: with maxDf = 1 every shared shingle is
    // "hot", so no pair can form and per-doc counts exclude hot shingles
    val capped = DedupOps.jaccardPairs(docs, n = 2, minJ = 0.0, maxDf = 1)
    assert(capped.count() == 0)
  }

  test("jaccardPairs emits no self-pair when a doc_id is listed twice") {
    // doc 1 is listed twice with overlapping text, so its id appears twice
    // in the member list of every shingle the two rows share
    val docs = Seq(
      (1L, "a b c d"),
      (1L, "a b c x"),
      (2L, "a b c d"),
    ).toDF("doc_id", "text")
    val out = DedupOps.jaccardPairs(docs, n = 2, minJ = 0.0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(out.nonEmpty && out.forall { case (a, b) => a != b },
      s"no pair may join a doc with itself: ${out.mkString(",")}")
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("verifiedNearDupPairs: exact jaccard verifies LSH candidates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "completely different text about spark engines and parquet"),
    ).toDF("doc_id", "text")
    val v = DedupOps.verifiedNearDupPairs(docs, n = 2, k = 16, r = 8, minJ = 0.5)
      .collect()
    assert(v.length == 1, s"only the true dup pair survives: ${v.mkString(",")}")
    assert((v.head.getLong(0), v.head.getLong(1)) == ((1L, 2L)))
    assert(v.head.getDouble(3) == 1.0)
    // verified pairs are a subset of the raw candidates
    val cand = DedupOps.lshCandidates(docs, n = 2, k = 16, r = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
  }

  test("ngramContamination scores overlap against a benchmark set") {
    import graft.ops.TextOps
    val bench = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta"), // full overlap: every 3-gram hits
      (2L, "alpha beta gamma zeta"),  // 1 of 2 grams hits
      (3L, "eta theta iota kappa"),   // zero overlap
    ).toDF("doc_id", "text")
    val r = TextOps.ngramContamination(corpus, bench, n = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == (2L, 2L))
    assert(r(2L) == (2L, 1L))
    assert(r(3L) == (2L, 0L))
  }

  test("repetitionScores: repeated bigrams raise the repetition fraction") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "spam spam spam spam"),   // grams: 3x "spam spam" -> 1 distinct
      (2L, "all words are unique"),  // 3 grams, 3 distinct
      (3L, "tiny"),                  // shorter than n: whole text, 1 gram
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionScores(docs, n = 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((3L, 1L, 0.666667)))
    assert(r(2L) == ((3L, 3L, 0.0)))
    assert(r(3L) == ((1L, 1L, 0.0)))
  }

  test("redactPii scrubs emails and IPs and counts them") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "mail me at a.b+c@ex-ample.org or 10.0.0.255 thanks"),
      (2L, "nothing sensitive here"),
    ).toDF("doc_id", "text")
    val r = TextOps.redactPii(docs).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L) == ("mail me at <EMAIL> or <IP> thanks", 2L))
    assert(r(2L) == ("nothing sensitive here", 0L))
  }

  test("stratifiedSample keeps per-stratum hash fractions, deterministically") {
    import graft.ops.SampleOps
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val s1 = SampleOps.stratifiedSample(df, "lang", Map("en" -> 0.5, "de" -> 0.1))
    val counts = s1.groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(math.abs(counts("en") - 1000L) < 150, s"en ~50% of 2000: $counts")
    assert(math.abs(counts("de") - 200L) < 100, s"de ~10% of 2000: $counts")
    // deterministic: a second run yields the identical sample
    val s2 = SampleOps.stratifiedSample(df, "lang", Map("en" -> 0.5, "de" -> 0.1))
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq ==
      s2.select("doc_id").as[Long].collect().sorted.toSeq)
    // unknown strata are dropped
    val s3 = SampleOps.stratifiedSample(df, "lang", Map("en" -> 0.5))
    assert(s3.filter($"lang" === "de").count() == 0)
  }

  test("weightedSample keeps proportionally to the weight column, deterministically") {
    import graft.ops.SampleOps
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) 900000L else 100000L))
      .toDF("doc_id", "w")
    val s1 = SampleOps.weightedSample(df, col("w"))
    val byW = s1.groupBy("w").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(math.abs(byW(900000L) - 1800L) < 150, s"90% of 2000: $byW")
    assert(math.abs(byW(100000L) - 200L) < 100, s"10% of 2000: $byW")
    // weight >= 1e6 keeps always; <= 0 never
    assert(SampleOps.weightedSample(df, lit(1000000L)).count() == 4000)
    assert(SampleOps.weightedSample(df, lit(0L)).count() == 0)
    // deterministic across runs
    val s2 = SampleOps.weightedSample(df, col("w"))
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq ==
      s2.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("entity-resolution candidates: banded blocking finds exactly the brute pairs") {
    import graft.ops.ResolveOps
    val names = Seq("scan", "scna", "skan", "filter", "filtre", "window",
      "windoww", "completely-different").toDF("name")
    val got = ResolveOps.candidatePairs(names).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // brute-force truth at lev <= 2 over the distinct names
    val arr = names.as[String].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- arr; b <- arr if a < b && lev(a, b) <= 2
    } yield (a, b, lev(a, b).toLong)).toSet
    assert(got == want)
    assert(want.contains(("scan", "scna", 2L)) && want.contains(("window", "windoww", 1L)))
  }

  test("entity-resolution candidates: oversized blocks are dropped whole") {
    import graft.ops.ResolveOps
    // 5 same-length near-identical names all land in the same two blocks
    val names = Seq("aaaa", "aaab", "aaac", "aaad", "aaae").toDF("name")
    assert(ResolveOps.candidatePairs(names, maxBlock = 4).count() == 0)
    assert(ResolveOps.candidatePairs(names, maxBlock = 5).count() == 10)
  }

  test("bm25TopK: term frequency ranks within a term, rarity across terms, k cuts") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "scan scan scan filler filler"),  // tf(scan)=3
      (2L, "scan filler filler filler one"), // tf(scan)=1
      (3L, "rare filler filler filler two"), // tf(rare)=1, df(rare)=1
      (4L, "filler filler filler men three") // no query term
    ).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, Seq("scan", "rare"), k = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // doc 4 has no query term -> absent; the rare term (df 1, idf_ppm
    // 2333333) outscores even tf=3 of the common one (df 2, idf_ppm
    // 1000000, saturated sat_ppm 1571428); tf=3 still beats tf=1
    assert(out.map(_._1).toSeq == Seq(3L, 1L, 2L))
    val score = out.toMap
    assert(score(3L) == 2333333L && score(1L) == 1571428L && score(2L) == 1000000L)
    // k bounds the result deterministically
    assert(TextOps.bm25TopK(docs, Seq("scan", "rare"), k = 2)
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 1L))
  }

  test("rrfFuse: cross-ranker overlap outranks single hits, integer-exact ppm") {
    import graft.ops.AnnOps
    val lexical = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val vector = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    val out = AnnOps.rrfFuse(Seq(lexical, vector)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 1e6 div (60+r): r1 -> 16393, r2 -> 16129, r3 -> 15873
    assert(out.toSeq == Seq(
      (20L, 16129L + 16393L, 2L), // both rankers
      (10L, 16393L, 1L), (40L, 16129L, 1L), (30L, 15873L, 1L)))
    // k cuts after the deterministic (score, id) order
    assert(AnnOps.rrfFuse(Seq(lexical, vector), k = 2)
      .collect().map(_.getLong(0)).toSeq == Seq(20L, 10L))
  }

  test("budgetSelect: maximal quality-ordered prefix, strict budget, partition-independent") {
    import graft.ops.SampleOps
    // quality q, lengths 4/3/2/1 tokens; order by q desc, id
    val docs = Seq(
      (1L, 90L, "w w w w"), (2L, 80L, "w w w"),
      (3L, 80L, "w w"), (4L, 10L, "w")).toDF("doc_id", "q", "text")
    val out = SampleOps.budgetSelect(docs, budgetTokens = 9, orderCol = "q")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // order: d1(4) cum 4, d2(3) cum 7, d3(2) cum 9, d4(1) cum 10 > 9 cut
    assert(out == Set((1L, 4L, 4L), (2L, 3L, 7L), (3L, 2L, 9L)))
    // strict: a budget mid-doc drops that doc
    assert(SampleOps.budgetSelect(docs, 8, "q")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // partition independence
    val p1 = SampleOps.budgetSelect(docs, 9, "q", numPartitions = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val p5 = SampleOps.budgetSelect(docs, 9, "q", numPartitions = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(p1 == p5 && p1 == out.map(t => (t._1, t._3)))
  }

  test("selfNgramDedup marks cross-document shared windows, not within-doc repeats") {
    // docs 1 & 2 share the 3-gram "a b c"; doc 3 repeats "x y z" internally
    // (twice) but shares it with nobody; doc 4 is disjoint from everyone
    val docs = Seq(
      (1L, "a b c d"), (2L, "q a b c"), (3L, "x y z w x y z"), (4L, "m n o"))
      .toDF("doc_id", "text")
    val out = DedupOps.selfNgramDedup(docs, n = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    // doc1: grams {abc, bcd} -> 1 shared; doc2: {qab, abc} -> 1 shared;
    // doc3: 5 positional grams, 4 DISTINCT (xyz counted once) -> 0 shared;
    // doc4: 1 gram, 0 shared
    assert(out == Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 4L, 0L, 0.0), (4L, 1L, 0L, 0.0)))

    // span view: both occurrences of a shared window surface, with df
    // counting documents once each however often they repeat it
    val shared = Seq((1L, "a b c a b c"), (2L, "z a b c"), (3L, "u v w"))
      .toDF("doc_id", "text")
    val spans = DedupOps.selfNgramSpans(shared, n = 3)
      .orderBy("doc_id", "start_pos")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(spans.map(s => (s._1, s._2)) == Seq((1L, 1L), (1L, 4L), (2L, 2L)),
      s"expected abc at doc1 pos 1+4 and doc2 pos 2, got $spans")
    assert(spans.map(_._4).distinct == Seq(2L), "df counts each doc once")
  }

  test("qualityFilter gates match the standalone scorers' numbers") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "x y z w v u t s", "en"),          // clean, long enough
      (2L, "x y", "en"),                      // too short
      (3L, "the a the a the a the a", "en"),  // stopword-heavy + es-predicted
      (4L, "p q p q p q p q p q", "en"),      // repetitive bigrams
    ).toDF("doc_id", "text", "lang")
    val kept = TextOps.qualityFilter(docs, minTokens = 5, maxStopRatio = 0.4,
        maxRepetition = 0.5, keepLangs = Seq("en"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
    // signal parity with the standalone scorers on the survivors
    val row = TextOps.qualityFilter(docs, minTokens = 1,
        maxStopRatio = 1.0, maxRepetition = 1.0)
      .filter($"doc_id" === 4L)
      .select("n_tokens", "stopword_ratio", "repetition").head()
    val q = TextOps.qualityScores(docs).filter($"doc_id" === 4L)
      .select("n_tokens", "stopword_ratio").head()
    val r = TextOps.repetitionScores(docs, n = 2).filter($"doc_id" === 4L)
      .select("repetition").head()
    assert(row.getLong(0) == q.getLong(0) &&
      row.getDouble(1) == q.getDouble(1) && row.getDouble(2) == r.getDouble(0))
  }

  test("mixtureSample hits whole-epoch targets exactly and fractional ones deterministically") {
    import graft.ops.SampleOps
    val docs = ((1L to 4L).map(i => (i, "a")) ++ (5L to 6L).map(i => (i, "b")) ++
      Seq((7L, "c"))).toDF("doc_id", "source")
    // whole rates: a -> 8*0.5/4 = 1.0, b -> 8*0.5/2 = 2.0; c unlisted -> dropped
    val whole = SampleOps.mixtureSample(docs, Map("a" -> 0.5, "b" -> 0.5),
        totalDocs = 8, idCol = "doc_id")
      .select("doc_id", "source", "epoch").as[(Long, String, Long)].collect().toSet
    assert(whole == ((1L to 4L).map(i => (i, "a", 0L)) ++
      (5L to 6L).flatMap(i => Seq((i, "b", 0L), (i, "b", 1L)))).toSet)
    // fractional rates: a -> 6*0.5/4 = 0.75, b -> 6*0.5/2 = 1.5: every b doc
    // keeps epoch 0; the fractional tails are hash-decided but deterministic
    def frac() = SampleOps.mixtureSample(docs, Map("a" -> 0.5, "b" -> 0.5),
        totalDocs = 6, idCol = "doc_id")
      .select("doc_id", "source", "epoch").as[(Long, String, Long)].collect().toSet
    val f1 = frac()
    assert(f1 == frac(), "hash sampling must be run-stable")
    assert((5L to 6L).forall(i => f1.contains((i, "b", 0L))), "whole epochs always kept")
    assert(f1.collect { case (d, "a", e) => assert(e == 0L); d }.size <= 4)
    assert(!f1.exists(_._2 == "c"), "unlisted sources are dropped")
    // epoch cap: a tiny source cannot explode past maxEpochs copies
    val capped = SampleOps.mixtureSample(docs, Map("b" -> 1.0),
        totalDocs = 1000, idCol = "doc_id", maxEpochs = 3)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(capped == Map(5L -> 3L, 6L -> 3L))
  }

  test("applySelfNgram drops boilerplate-heavy docs at the ratio threshold") {
    // from the selfgram spec corpus: docs 1/2 have ratio 0.5, docs 3/4 have 0
    val docs = Seq(
      (1L, "a b c d"), (2L, "q a b c"), (3L, "x y z w x y z"), (4L, "m n o"))
      .toDF("doc_id", "text")
    def kept(maxRatio: Double) =
      graft.ops.DedupOps.applySelfNgram(docs, n = 3, maxRatio = maxRatio)
        .select("doc_id").as[Long].collect().toSet
    assert(kept(0.5) == Set(3L, 4L), "ratio-0.5 docs dropped at threshold 0.5 (>=)")
    assert(kept(0.6) == Set(1L, 2L, 3L, 4L), "threshold above the ratio keeps everything")
    // survivors keep their original columns
    val cols = graft.ops.DedupOps.applySelfNgram(docs, n = 3).columns.toSeq
    assert(cols == Seq("doc_id", "text"))
  }

  test("packSlices tiles every doc contiguously and fills each sequence to capacity") {
    import graft.ops.SampleOps
    // same corpus as the packSequences spec: offsets 0,3,4,9,11, capacity 4.
    // seq0 = doc0[0,3) + doc1[0,1); seq1 = doc2[0,4); seq2 = doc2[4,5) +
    // doc3[0,2) + doc4[0,1); seq3 = doc4[1,4)
    val docs = Seq(
      (0L, "a b c"), (1L, "x"), (2L, "a b c d e"), (3L, "a b"), (4L, "a b c d"))
      .toDF("doc_id", "text")
    val out = SampleOps.packSlices(docs, capacity = 4)
      .orderBy("seq_id", "doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 0L, 3L), (0L, 1L, 0L, 1L),
      (1L, 2L, 0L, 4L),
      (2L, 2L, 4L, 1L), (2L, 3L, 0L, 2L), (2L, 4L, 0L, 1L),
      (3L, 4L, 1L, 3L)))
  }

  test("cosinePairsBrute is the uncapped truth: superset of every LSH path's pairs") {
    import graft.ops.AnnOps
    val vecs = Seq(
      (1L, Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)),
      (2L, Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)),
      (3L, Array(-1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)),
      (4L, Array.fill(16)(-1f)),
    ).toDF("vec_id", "embedding")
    val truth = AnnOps.cosinePairsBrute(vecs, minCos = 0.5)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // (1,2) identical; (1,3)/(2,3) cosine 14/16 = 0.875; 4 is anti-aligned
    assert(truth == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // the sign-LSH path misses (1,3)/(2,3): vec 3's first-dim sign flips its
    // bucket — exactly the recall gap dedup_embedding_recall measures
    val lsh = AnnOps.cosineNearDupPairs(vecs, minCos = 0.5)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(lsh == Set((1L, 2L)) && lsh.subsetOf(truth))
  }

  test("shuffleOrder: a seeded permutation, partition-count independent") {
    import graft.ops.SampleOps
    val docs = (0L until 300L).map(i => (i, s"t $i")).toDF("doc_id", "text")
    val out = SampleOps.shuffleOrder(docs).as[(Long, Long)].collect()
    assert(out.map(_._2).sorted.toSeq == (0L until 300L), "positions form 0..n-1")
    assert(out.exists { case (id, pos) => id != pos }, "order is actually permuted")
    // the distributed prefix count must not depend on partition boundaries
    val one = SampleOps.shuffleOrder(docs, numPartitions = 1).collect().toSet
    val seven = SampleOps.shuffleOrder(docs, numPartitions = 7).collect().toSet
    assert(one == seven)
    // a different seed is a different permutation; the same seed reproduces
    val again = SampleOps.shuffleOrder(docs).as[(Long, Long)].collect()
    val other = SampleOps.shuffleOrder(docs, seed = "other").as[(Long, Long)].collect()
    assert(again.toMap == out.toMap && other.toMap != out.toMap)
  }

  test("lengthBatches: bit-length buckets, dense positions, batches cut at size") {
    import graft.ops.SampleOps
    val docs = (0L until 200L).map(i => (i, ("w " * (i % 23 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val out = SampleOps.lengthBatches(docs, batchSize = 8)
      .as[(Long, Long, Long, Long, Long)].collect()
    out.foreach { case (_, n, b, _, _) =>
      assert(b == java.lang.Long.toBinaryString(n).length, s"bucket of $n") }
    out.groupBy(_._3).foreach { case (b, rows) =>
      val positions = rows.map(_._4).sorted.toSeq
      assert(positions == (0L until rows.length.toLong), s"bucket $b positions dense")
      rows.foreach { case (_, _, _, pos, batch) => assert(batch == pos / 8) }
    }
    val one = SampleOps.lengthBatches(docs, 8, numPartitions = 1).collect().toSet
    val seven = SampleOps.lengthBatches(docs, 8, numPartitions = 7).collect().toSet
    assert(one == seven)
  }

  test("keywords: df filter drops common tokens; integer (tf, df, token) ranking") {
    val docs = Seq(
      ("d1", "x x y common"),
      ("d2", "y z common"),
      ("d3", "common common"),
    ).toDF("doc_id", "text")
    // maxDfPpm 667000: df <= 2 of 3 docs kept -> "common" (df 3) is out
    val kw = TextOps.keywords(docs, k = 2, maxDfPpm = 667000L)
      .as[(String, String, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (d, rs) => d -> rs.sortBy(_._5).toSeq }
      .toMap
    // d1: x (tf 2) first; y second
    assert(kw("d1").map(r => (r._2, r._3, r._5)) == Seq(("x", 2L, 1L), ("y", 1L, 2L)))
    // d2: tf tie at 1 -> rarer z (df 1) outranks y (df 2)
    assert(kw("d2").map(r => (r._2, r._4, r._5)) == Seq(("z", 1L, 1L), ("y", 2L, 2L)))
    // d3: only "common", filtered -> no rows at all
    assert(!kw.contains("d3"))
  }

  test("corpusStats aggregates per (source, lang)") {
    import graft.ops.TextOps
    val docs = Seq(
      (0L, "a b c", "en", "s0"), (1L, "d e", "en", "s0"), (2L, "x", "de", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextOps.corpusStats(docs).orderBy("source", "lang")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("s0", "en", 2L, 5L, 8L, 2.5), ("s1", "de", 1L, 1L, 1L, 1.0)))
  }

  test("degreeHistogram counts subjects by out-degree") {
    val triples = Seq(
      ("a", "p", "x"), ("a", "p", "y"), ("b", "p", "x"), ("c", "p", "x"),
      ("c", "q", "y"), ("c", "q", "z")).toDF("subj", "pred", "obj")
    val out = graft.sinks.Tables.degreeHistogram(triples)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
