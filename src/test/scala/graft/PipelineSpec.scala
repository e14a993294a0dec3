package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.corpus.{AnalyticsDomain, Corpus}
import graft.extract.{AhoCorasick, DictEntry, MentionDict, Mentions}
import graft.SparkTestBase.{bag, multiset}

class PipelineSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Two surfaces of one entity: `alpha` and `alphax` both link to `e:a`. */
  private def aliasDict = MentionDict.build(Seq(
    DictEntry("alpha", "e:a", "relational operator", 1.0),
    DictEntry("alphax", "e:a", "relational operator", 1.0),
    DictEntry("beta", "e:b", "storage structure", 1.0),
    DictEntry("gamma", "e:c", "execution engine", 1.0)))

  /** A pipeline over 5000 surfaces, above both dense combiner gates, so the
    * fused path runs the hash combiners; with a sparse vocabulary (one word
    * in three a surface) that keeps the string path's pair count small. */
  private def hashBranchPipeline(): (KgPipeline, IndexedSeq[String]) = {
    import graft.extract.CoocCombine
    val surfaces = (0 until 5000).map(i => f"kw$i%04d")
    assert(surfaces.size > CoocCombine.DenseMaxDict && surfaces.size > CoocCombine.DenseMaxDictCounts)
    val classes = AnalyticsDomain.dictionary.map(_._2).distinct
    val dict = MentionDict.build(surfaces.zipWithIndex.map { case (s, i) =>
      DictEntry(s, s"e:$s", classes(i % classes.size), 1.0) })
    (new KgPipeline(spark, AnalyticsDomain.context(), dict),
      surfaces.take(600) ++ surfaces.take(600).map(_ + "x") ++ surfaces.take(600).map("y" + _))
  }

  test("aho-corasick finds overlapping + whole-word matches") {
    val ac = AhoCorasick.build(Seq("he", "she", "his", "hers"))
    val all = ac.findAll("ushers").toList.map { case (s, p) => (s, ac.patterns(p)) }
    assert(all.toSet == Set((1, "she"), (2, "he"), (2, "hers")))
    val ww = AhoCorasick.build(Seq("scan", "join"))
    assert(ww.findWholeWords("scan join rescan scanjoin scan").toList.map(_._1) == List(0, 5, 26))
  }

  test("a dictionary past the old dense-table cap matches a naive matcher (ADVICE r5)") {
    // 30k random 12-letter surfaces build about 280k states, past the 200k-state
    // cap of the dense ASCII table the flat byte trie replaced
    val rng = new scala.util.Random(7)
    val big = (0 until 30000).map(_ => (0 until 12).map(_ => ('a' + rng.nextInt(26)).toChar).mkString).distinct
    val bigAc = AhoCorasick.build(big)
    val probe = s"${big.head} xyz ${big.last} ${big.head}x"
    val hits = bigAc.findWholeWords(probe).toList.map { case (s, p) => (s, bigAc.patterns(p)) }
    assert(hits.map(_._2).toSet.subsetOf(Set(big.head, big.last)))
    assert(hits.count(_._2 == big.head) == 1) // "${big.head}x" is not whole-word
    val probes = Seq(probe, big.take(40).mkString(" "), big.slice(40, 80).mkString("-"),
      big.slice(80, 90).mkString, s"${big(90).drop(3)} ${big(91).take(9)}é ${big(92)}")
    for (t <- probes)
      assert(bigAc.findWholeWords(t).toList.sorted == PropGen.naiveWholeWords(big, t).sorted, s"text='$t'")
  }

  test("MentionDict.build rejects an empty surface, naming the entry") {
    val e = intercept[IllegalArgumentException] {
      MentionDict.build(Seq(DictEntry("scan", "op:scan", "c", 1.0), DictEntry("", "e:empty", "c", 1.0)))
    }
    assert(e.getMessage.contains("e:empty"))
  }

  test("detect reports char_start in UTF-16 units after non-ASCII text") {
    val docs = Seq(
      graft.model.Doc("d1", Seq(graft.model.Span("text", "é scan", null, 0))),
      graft.model.Doc("d2", Seq(graft.model.Span("text", "𝐀 scan 😀 join", null, 0))),
    ).toDS()
    val bc = spark.sparkContext.broadcast(AnalyticsDomain.dict)
    val got = Mentions.detect(docs, bc).collect().map(m => (m.doc_id, m.curie, m.char_start)).toSet
    assert(got == Set(("d1", "op:scan", 2), ("d2", "op:scan", 3), ("d2", "op:join", 11)))
  }

  test("LongLongMap stores key 0 and the rank-distinct contract raises on duplicates (ADVICE r5)") {
    import graft.extract.CoocCombine
    val m = new CoocCombine.LongLongMap(4)
    m.inc(0L); m.inc(0L); m.inc(5L)
    assert(m.size == 2)
    assert(m.iterator.toMap == Map(0L -> 2L, 5L -> 1L))
    // growth keeps biased keys intact (force several rehashes through 0)
    val g = new CoocCombine.LongLongMap(4)
    (0L until 100L).foreach(k => g.inc(k))
    g.inc(0L)
    assert(g.iterator.toMap == (0L until 100L).map(k => k -> (if (k == 0) 2L else 1L)).toMap)
    // duplicate rank in a pm row = contract violation, loud in both branches
    val su = Array.fill(300)(1.0)
    val dup = Array((0L << 32) | 3L, (0L << 32) | 2L, (1L << 32) | 1L)
    intercept[IllegalArgumentException] {
      CoocCombine.cappedSortedRanks(dup, su, maxEntities = 256)
    }
    intercept[IllegalArgumentException] {
      CoocCombine.cappedSortedRanks(dup ++ (2 until 260).map(r => (r.toLong << 32) | 1L), su, maxEntities = 256)
    }
  }

  test("occurrence counts saturate identically on string and fused paths") {
    // can't build a >2^31-occurrence doc; assert the clamp constant is the
    // packed-long bound and that normal counts are untouched
    assert(Mentions.MaxOccurrencesPerDoc == 0x7fffffffL)
    val bc = spark.sparkContext.broadcast(AnalyticsDomain.dict)
    val docs = Seq(graft.model.Doc("d", Seq(
      graft.model.Span("text", "scan scan scan join", null, 0)))).toDS()
    val n = Mentions.detectPerDoc(docs, bc).collect().map(m => m.curie -> m.n).toMap
    assert(n("op:scan") == 3 && n("op:join") == 1)
  }

  test("fused mention-set pipeline == string pipeline, end to end") {
    val docs = Corpus.synthesize(spark, 400, AnalyticsDomain.vocab).persist()
    val pipe = graft.KgPipeline.analytics(spark)
    val (ns, es, ts) = pipe.run(docs)
    val (nsF, esF, tsF) = pipe.runFused(docs)
    assert(bag(nsF) == bag(ns))
    assert(bag(esF) == bag(es))
    assert(bag(tsF) == bag(ts))
    docs.unpersist()
  }

  test("fused plans hold no dictionary-sized LocalRelation (hash-combiner dictionary)") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
    import graft.extract.CoocCombine
    // a decode table of the hash-branch dictionary's size would be
    // re-walked by every Catalyst rule on every query
    val (pipe, vocab) = hashBranchPipeline()
    val docs = Corpus.synthesize(spark, 300, vocab, seed = 11).persist()
    def bigLocal(plan: LogicalPlan): Seq[Int] =
      plan.collectWithSubqueries { case l: LocalRelation if l.data.size > 64 => l.data.size }
    val (nsF, esF, tsF) = pipe.runFused(docs)
    for ((name, ds) <- Seq("fused nodes" -> nsF, "fused edges" -> esF, "fused triples" -> tsF)) {
      val qe = ds.queryExecution
      assert(bigLocal(qe.analyzed).isEmpty, s"$name: analyzed plan holds LocalRelation(s) ${bigLocal(qe.analyzed)}")
      assert(bigLocal(qe.optimizedPlan).isEmpty, s"$name: optimized plan holds LocalRelation(s) ${bigLocal(qe.optimizedPlan)}")
    }
    val (_, es, ts) = pipe.run(docs)
    val want = bag(ts)
    assert(want.keys.exists(_.pred == "COOCCURS_WITH"), "corpus must produce co-occurrence triples")
    assert(bag(tsF) == want)
    assert(bag(esF) == bag(es))
    docs.unpersist()
  }

  test("pair+rank key combiner: dense path == hash-map path") {
    // the analytics dict (22 terms) takes the dense path; denseMax = 0
    // forces the open-dictionary hash fallback on the same input — the
    // distinct key sets must agree exactly (self keys AND capped pairs)
    val docs = Corpus.synthesize(spark, 300, AnalyticsDomain.vocab).persist()
    val pipe = graft.KgPipeline.analytics(spark)
    val ms = pipe.mentionSets(docs).persist()
    val pm = ms.select(org.apache.spark.sql.functions.col("pm")).as[Array[Long]]
    for (cap <- Seq(3, graft.extract.Mentions.DefaultMaxEntitiesPerDoc)) {
      val dense = graft.extract.CoocCombine
        .partialPairAndRankKeys(pm, pipe.bcDict, cap).collect().toSet
      val hash = graft.extract.CoocCombine
        .partialPairAndRankKeys(pm, pipe.bcDict, cap, denseMax = 0).collect().toSet
      assert(dense == hash, s"cap=$cap dense=${dense.size} hash=${hash.size}")
      assert(dense.exists(k => (k >>> 32) == (k & 0xffffffffL)), "self keys present")
      assert(dense.exists(k => (k >>> 32) != (k & 0xffffffffL)), "pair keys present")
      // counts combiner: dense long[] path == hash path after the
      // downstream partial-sum (partials may differ in grouping, totals
      // must not)
      def totals(denseMax: Int) = graft.extract.CoocCombine
        .partialPairCounts(pm, pipe.bcDict, cap, denseMax = denseMax)
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _).collect().toMap
      assert(totals(graft.extract.CoocCombine.DenseMaxDictCounts) == totals(0),
        s"cap=$cap count totals diverge")
    }
    ms.unpersist(); docs.unpersist()
  }

  test("hash combiner flush drain: partials merge to the dense run's keys and totals") {
    // flushAt = 3 drains the hash map after almost every doc, so the same
    // key leaves a partition as several partials; the downstream distinct
    // and sum must still give exactly the dense (unflushed) result
    import graft.extract.CoocCombine
    val docs = Corpus.synthesize(spark, 300, AnalyticsDomain.vocab).persist()
    val pipe = graft.KgPipeline.analytics(spark)
    val pm = pipe.mentionSets(docs).select(col("pm")).as[Array[Long]].persist()
    val cap = Mentions.DefaultMaxEntitiesPerDoc
    val denseKeys = CoocCombine.partialPairAndRankKeys(pm, pipe.bcDict, cap).collect()
    val flushedKeys = CoocCombine
      .partialPairAndRankKeys(pm, pipe.bcDict, cap, flushAt = 3, denseMax = 0).collect()
    assert(flushedKeys.length > flushedKeys.distinct.length, "the flush must split some key")
    assert(flushedKeys.toSet == denseKeys.toSet)
    def totals(ds: org.apache.spark.sql.Dataset[(Long, Long)]) =
      ds.collect().groupMapReduce(_._1)(_._2)(_ + _)
    val dense = CoocCombine.partialPairCounts(pm, pipe.bcDict, cap)
    val flushed = CoocCombine.partialPairCounts(pm, pipe.bcDict, cap, flushAt = 3, denseMax = 0)
    assert(flushed.count() > flushed.map(_._1).distinct().count(), "the flush must split some pair")
    assert(totals(flushed) == totals(dense))
    pm.unpersist(); docs.unpersist()
  }

  test("triplesFromSets == triples(nodes, edges) under a tight per-doc entity cap") {
    // the shared-scan combiner must replicate BOTH families exactly: rank
    // presence UNCAPPED (node/type parity) while pair emission honors the
    // per-doc cap (edge parity) — a cap of 3 forces the capped branch on
    // most docs, which the default-cap end-to-end tests never exercise
    val docs = Corpus.synthesize(spark, 300, AnalyticsDomain.vocab).persist()
    val pipe = graft.KgPipeline.analytics(spark)
    val ms = pipe.mentionSets(docs).persist()
    val ns = pipe.nodesFromSets(ms)
    val es = pipe.mentionEdgesFromSets(ms)
      .union(pipe.cooccurrenceEdgesFromSets(ms, maxEntitiesPerDoc = 3))
    val want = bag(pipe.triples(ns, es))
    val got = bag(pipe.triplesFromSets(ms, maxEntitiesPerDoc = 3))
    assert(got == want)
    ms.unpersist(); docs.unpersist()
  }

  test("triplesFromSets: reliable (checkpoint-dir) barrier == local barrier (VERDICT r7 #1)") {
    // the fused path's pushdown barrier is config-gated: with a checkpoint
    // dir set it becomes a cluster-durable Dataset.checkpoint instead of
    // localCheckpoint. Both branches must produce the identical triple set.
    val docs = Corpus.synthesize(spark, 200, AnalyticsDomain.vocab).persist()
    val pipe = graft.KgPipeline.analytics(spark)
    val ms = pipe.mentionSets(docs).persist()
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "test JVM must start without a checkpoint dir (local branch is the default)")
    val local = pipe.triplesFromSets(ms).collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = pipe.triplesFromSets(ms).collect().toSet
      assert(reliable == local, "reliable-barrier triples diverge from local-barrier triples")
      // checkpoint files actually landed on the (test-local) "cluster" FS
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable branch wrote no checkpoint files")
      // the opt-out conf forces the local branch back even with a dir set
      spark.conf.set("spark.graft.barrier", "local")
      assert(pipe.triplesFromSets(ms).collect().toSet == local)
    } finally {
      // the dir cannot be unset on a live context: leave the force-local
      // conf in place so later tests keep exercising the default branch
      spark.conf.set("spark.graft.barrier", "local")
      ms.unpersist(); docs.unpersist()
    }
  }

  test("key-block exchange: blocks reach only their own reduce partition; distinct keys == the map side's") {
    // a tiny flushAt makes every doc flush several blocks per partition and
    // 13 partitions make a wrong routing (e.g. Murmur3 on the block id)
    // land a block on a partition other than its id
    import graft.extract.CoocCombine
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    val (hashPipe, hashVocab) = hashBranchPipeline()
    val cases = Seq(
      ("analytics dense", graft.KgPipeline.analytics(spark), AnalyticsDomain.vocab, CoocCombine.DenseMaxDictCounts),
      ("analytics hash", graft.KgPipeline.analytics(spark), AnalyticsDomain.vocab, 0),
      ("5000-surface hash", hashPipe, hashVocab, CoocCombine.DenseMaxDictCounts))
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try {
      for ((name, pipe, vocab, denseMax) <- cases) {
        val docs = Corpus.synthesize(spark, 300, vocab, seed = 11)
        val pm = pipe.mentionSets(docs).select(col("pm")).as[Array[Long]].persist()
        val cap = 3
        val want = CoocCombine.partialPairAndRankKeys(pm, pipe.bcDict, cap, flushAt = 5, denseMax = denseMax)
          .distinct().collect().toSet
        assert(want.exists(k => (k >>> 32) != (k & 0xffffffffL)), s"$name: pair keys present")
        val blocks = CoocCombine.routedKeyBlocks(pm, pipe.bcDict, cap, flushAt = 5, denseMax = denseMax)
          .mapPartitionsWithIndex((i, it) => it.map { case (p, b) =>
            (i, p, b.length, b.sliding(2).forall(w => w.length < 2 || w(0) < w(1))) })
          .collect()
        assert(blocks.length > 13, s"$name: the flush must split the keys into many blocks")
        assert(blocks.forall(b => b._1 == b._2), s"$name: misrouted (partition, block id): " +
          blocks.filter(b => b._1 != b._2).map(b => (b._1, b._2)).distinct.mkString(" "))
        assert(blocks.forall(_._4), s"$name: every block is sorted and distinct")
        assert(blocks.map(_._1).distinct.length > 1, s"$name: blocks spread over partitions")
        for (barrier <- Seq("local", "auto")) {
          spark.conf.set("spark.graft.barrier", barrier)
          val runs = Barrier(CoocCombine.distinctPairAndRankKeys(pm, pipe.bcDict, cap,
            flushAt = 5, denseMax = denseMax)).collect()
          assert(runs.forall(r => r.sliding(2).forall(w => w.length < 2 || w(0) < w(1))),
            s"$name/$barrier: every run is sorted and distinct")
          val got = runs.flatten
          assert(got.length == got.distinct.length, s"$name/$barrier: keys leave the reduce side distinct")
          assert(got.toSet == want, s"$name/$barrier")
        }
        pm.unpersist()
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
      spark.conf.set("spark.graft.barrier", "local")
    }
  }

  test("hub-entity skewed corpus: fused == string pipeline, head term in ~half of docs (VERDICT r5 #3)") {
    // geometric hub skew: dictionary term k prepended with P = 2^-(k+1), so
    // the head entity lands in ~50% of ALL documents — the worst-case
    // open-dictionary hub shape the per-doc pair cap + packed combiner must
    // absorb without a straggling reduce key.
    val hubs = AnalyticsDomain.dictionary.map(_._1)
    val docs = Corpus.synthesizeSkewed(spark, 1200, AnalyticsDomain.vocab, hubs).persist()
    val head = hubs.head
    def headCount(ds: org.apache.spark.sql.Dataset[graft.model.Doc]): Long =
      ds.filter(d => d.spans.exists(s => s.kind == "text" && s.text != null
        && (" " + s.text + " ").contains(" " + head + " "))).count()
    val headDocs = headCount(docs)
    val baseDocs = headCount(Corpus.synthesize(spark, 1200, AnalyticsDomain.vocab))
    // injection strictly increases hub density, and the result is the
    // hub-entity extreme: head term in well over half of ALL documents
    assert(headDocs > baseDocs, s"injection no-op: $headDocs vs base $baseDocs")
    assert(headDocs >= 600, s"head hub in $headDocs/1200 docs, expected majority")
    val pipe = graft.KgPipeline.analytics(spark)
    val (ns, es, ts) = pipe.run(docs)
    val (nsF, esF, tsF) = pipe.runFused(docs)
    assert(bag(nsF) == bag(ns))
    assert(bag(esF) == bag(es))
    assert(bag(tsF) == bag(ts))
    docs.unpersist()
  }

  test("ExtractMentions expression == string walk (ASCII byte path + non-ASCII fallbacks)") {
    import graft.model.{Doc, Span}
    import org.apache.spark.sql.GraftColumnBridge
    val docs = Seq(
      Doc("d1", Seq(Span("text", "scan join scan", null, 0))),
      // non-ASCII text next to ASCII and non-ASCII matches
      Doc("d2", Seq(Span("text", "naïve scan—join héllo scan", null, 0),
        Span("img", null, "m1", 1))),
      Doc("d3", Seq(Span("text", "héllo join héllo", null, 0))),
      Doc("d4", Seq(Span("img", null, "m2", 0))), // no text at all
    ).toDS()
    // case A: ASCII dictionary; case B: non-ASCII dictionary. Both walk the
    // span bytes in place, ASCII spans or not
    val dicts = Seq(
      MentionDict.build(Seq(DictEntry("scan", "C:1", "c", 1.0), DictEntry("join", "C:2", "c", 0.5))),
      MentionDict.build(Seq(DictEntry("héllo", "C:9", "c", 1.0), DictEntry("scan", "C:1", "c", 1.0))),
    )
    for (dict <- dicts) {
      val bc = spark.sparkContext.broadcast(dict)
      val got = docs.toDF().select(col("doc_id"),
          GraftColumnBridge.column(graft.functions.ExtractMentionsKT(
            GraftColumnBridge.expression(col("spans.kind")),
            GraftColumnBridge.expression(col("spans.text")), bc)).as("pm"))
        .select(col("doc_id"), explode(col("pm")).as("p"))
        .select(col("doc_id"), shiftright(col("p"), 32).cast("int"),
          col("p").bitwiseAND(lit(0xffffffffL)))
        .as[(String, Int, Long)].collect()
        .map { case (d, r, n) => val e = dict.byRank(r); (d, e.curie, e.surface, n) }.toSet
      val expected = Mentions.detectPerDoc(docs, bc).collect()
        .map(m => (m.doc_id, m.curie, m.surface, m.n)).toSet
      assert(got == expected, s"dict=${dict.linkFor.map(_.surface).mkString(",")}")
    }
  }

  test("countWholeWords == findWholeWords drain (one byte walk, ASCII and non-ASCII)") {
    val cases = Seq(
      Seq("scan", "join", "scan join") -> Seq(
        "scan join rescan scanjoin scan", "scan", "", "join scan join"),
      Seq("he", "she", "his", "hers") -> Seq("he said she sells his hers", "ushers"),
      Seq("héllo", "wörld") -> Seq("héllo wörld héllo", "xhéllo héllo!", "héllowörld"),
      // CJK and supplementary-plane surfaces, one a suffix of another
      Seq("データ", "𝐀lpha", "lpha", "données") -> Seq("データ 𝐀lpha données",
        "xデータ lpha 𝐀lpha!", "donnéesdonnées données😀", "𝐀𝐀lpha lphaé"),
    )
    for ((pats, texts) <- cases; t <- texts) {
      val ac = AhoCorasick.build(pats)
      val expected = ac.findWholeWords(t).toList.map(_._2)
        .groupBy(identity).map { case (p, os) => p -> os.size.toLong }
      val counts = new Array[Long](pats.length)
      val touched = new Array[Int](pats.length)
      val n = ac.countWholeWords(t, pats.indices.toArray, counts, touched, 0)
      val got = (0 until n).map(i => touched(i) -> counts(touched(i))).toMap
      assert(got == expected, s"pats=$pats text='$t'")
    }
  }

  test("synthetic corpus is deterministic and interleaved") {
    val a = Corpus.synthesize(spark, 50, AnalyticsDomain.vocab).collect()
    val b = Corpus.synthesize(spark, 50, AnalyticsDomain.vocab).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.exists(_.spans.exists(_.kind != "text")))
    a.foreach { d =>
      assert(d.spans.map(_.offset) == d.spans.map(_.offset).sorted)
      d.spans.foreach { s =>
        if (s.kind == "text") assert(s.text != null && s.media_ref == null)
        else assert(s.text == null && s.media_ref != null)
      }
    }
  }

  test("span-sequence invariant: signature stable through parquet round-trip") {
    val docs = Corpus.synthesize(spark, 30, AnalyticsDomain.vocab)
    val tmp = java.nio.file.Files.createTempDirectory("graft-docs-").toString
    docs.write.mode("overwrite").parquet(tmp)
    val back = spark.read.parquet(tmp)
    assert(Mentions.invariantViolations(docs.toDF(), back) == 0)
  }

  test("mention detection links dictionary terms with provenance") {
    val docs = Seq(
      graft.model.Doc("d1", Seq(
        graft.model.Span("text", "scan the table fast", null, 0),
        graft.model.Span("image", null, "media://img/1", 1),
        graft.model.Span("text", "spark join", null, 2))),
      graft.model.Doc("d2", Seq(graft.model.Span("text", "no dictionary words here", null, 0))),
    ).toDS()
    val bc = spark.sparkContext.broadcast(AnalyticsDomain.dict)
    val ms = Mentions.detect(docs, bc).collect()
    val textMentions = ms.filter(_.cls != "media")
    assert(textMentions.map(m => (m.doc_id, m.curie)).toSet ==
      Set(("d1", "op:scan"), ("d1", "store:table"), ("d1", "engine:spark"), ("d1", "op:join")))
    // provenance: span offsets + kinds preserved
    assert(textMentions.filter(_.curie == "op:join").head.span_offset == 2)
    val media = ms.filter(_.cls == "media")
    assert(media.map(_.curie).toSet == Set("media://img/1"))
  }

  test("ambiguous surfaces resolve deterministically by prior then curie") {
    val d = MentionDict.build(Seq(
      DictEntry("scan", "b:scan", "clsB", 1.0),
      DictEntry("scan", "a:scan", "clsA", 1.0),
      DictEntry("scan", "c:scan", "clsC", 0.5),
    ))
    assert(d.linkFor(0).curie == "a:scan")
  }

  test("end-to-end pipeline: nodes, edges, triples are consistent") {
    val docs = Corpus.synthesize(spark, 200, AnalyticsDomain.vocab)
    val pipe = KgPipeline.analytics(spark)
    val (ns, es, ts) = pipe.run(docs)
    val nodes = ns.collect()
    val edges = es.collect()
    val triples = ts.collect()
    // every entity node id is a curie or a doc id
    assert(nodes.forall(n => n.id.contains(":") || n.id.startsWith("doc")))
    // node ids unique (global dedup)
    assert(nodes.map(_.id).distinct.length == nodes.length)
    // every mention edge endpoint exists in nodes
    val nodeIds = nodes.map(_.id).toSet
    val mentionEdges = edges.filter(_.label == "MENTIONS")
    assert(mentionEdges.nonEmpty)
    assert(mentionEdges.forall(e => nodeIds.contains(e.src) && nodeIds.contains(e.tgt)))
    // triples = one type triple per node + one per edge
    assert(triples.length == nodes.length + edges.length)
    val typeTriples = triples.filter(_.pred == "rdf:type")
    assert(typeTriples.length == nodes.length)
    // ancestors head = Pascal class
    assert(typeTriples.exists(_.obj == "RelationalOperator"))
    assert(typeTriples.exists(_.obj == "Document"))
    // cooccurrence edges are ordered pairs
    val cooc = edges.filter(_.label == "COOCCURS_WITH")
    assert(cooc.forall(e => e.src < e.tgt))
  }

  test("contiguity guard: a shuffled DocMention dataset raises, contiguous passes") {
    import graft.extract.DocMention
    val contiguous = Seq(
      DocMention("d1", "a", "c", "a", 1, 1.0), DocMention("d1", "b", "c", "b", 1, 1.0),
      DocMention("d2", "a", "c", "a", 1, 1.0), DocMention("d2", "c", "c", "c", 1, 1.0),
    )
    val okDs = spark.createDataset(contiguous).coalesce(1)
    assert(Mentions.cooccurrencePairsFromDocMentions(okDs).count() == 2)
    assert(Mentions.distinctDocIds(okDs).count() == 2)
    // interleaved runs: d1 reappears after its run ended
    val shuffled = Seq(contiguous(0), contiguous(2), contiguous(1), contiguous(3))
    val badDs = spark.createDataset(shuffled).coalesce(1)
    def mentionsContiguity(t: Throwable): Boolean =
      t != null && (String.valueOf(t.getMessage).contains("contiguity") ||
        mentionsContiguity(t.getCause))
    val e1 = intercept[Exception] {
      Mentions.cooccurrencePairsFromDocMentions(badDs).count()
    }
    assert(mentionsContiguity(e1))
    val e2 = intercept[Exception] { Mentions.distinctDocIds(badDs).count() }
    assert(mentionsContiguity(e2))
    // opt-out keeps the old caller-asserted behavior (4 runs -> 4 emissions)
    assert(Mentions.distinctDocIds(badDs, guard = false).count() == 4)
  }

  test("per-doc pair cap bounds co-occurrence emission on an entity-list doc") {
    import graft.model.{Doc, Span}
    // 1000-term dictionary, one doc mentioning every term: uncapped emission
    // would be C(1000,2) = 499500 pairs; the cap keeps the top-256 entities
    val entries = (0 until 1000).map(i =>
      DictEntry(f"term$i%04d", f"e:$i%04d", "workload", prior = 1.0))
    val dict = MentionDict.build(entries)
    val pipe = new KgPipeline(spark, AnalyticsDomain.context(), dict)
    val text = (0 until 1000).map(i => f"term$i%04d").mkString(" ")
    val docs = Seq(Doc("big", Seq(Span("text", text, null, 0)))).toDS()
    val capped = pipe.cooccurrencePairsFromSets(pipe.mentionSets(docs))
    assert(capped.count() == 256L * 255 / 2)
    // equal scores -> deterministic tie-break keeps the lexicographically
    // smallest curies (rank order)
    val srcs = capped.select("src").distinct().as[String].collect()
    assert(srcs.forall(_ <= "e:0255"))
    val dm = Mentions.detectPerDoc(docs, pipe.bcDict).coalesce(1)
    assert(Mentions.cooccurrencePairsFromDocMentions(dm).count() == 256L * 255 / 2)
    // demo-sized docs are untouched by the cap
    val small = Seq(Doc("s", Seq(Span("text", "term0001 term0002 term0003", null, 0)))).toDS()
    assert(pipe.cooccurrencePairsFromSets(pipe.mentionSets(small)).count() == 3)
  }

  test("alias dictionary: run, runFused and a per-curie reference agree as multisets") {
    import graft.model.{Doc, Props, Span, Triple}
    val dict = aliasDict
    val pipe = new KgPipeline(spark, AnalyticsDomain.context(), dict)
    val texts = Seq("d1" -> "alpha alphax beta", "d2" -> "alpha beta gamma")
    val docs = texts.map { case (id, t) => Doc(id, Seq(Span("text", t, null, 0))) }.toDS()
    // the reference: split into words, look each word up, count per curie
    val entryOf = dict.linkFor.map(e => e.surface -> e).toMap
    val perDoc = texts.map { case (d, t) =>
      d -> t.split(" ").toSeq.flatMap(entryOf.get).groupMapReduce(_.curie)(_ => 1L)(_ + _)
    }
    val named = dict.linkFor.toSeq.groupBy(_.curie).map { case (c, es) =>
      c -> es.map(e => (e.cls, e.surface)).min }
    val typeOf = Map("relational operator" -> "RelationalOperator",
      "storage structure" -> "StorageStructure", "execution engine" -> "ExecutionEngine")
    val curies = perDoc.flatMap(_._2.keys).distinct
    val pairs = perDoc.flatMap { case (_, cs) =>
      val s = cs.keys.toSeq.sorted
      for (i <- s.indices; j <- i + 1 until s.length) yield (s(i), s(j))
    }.groupMapReduce(identity)(_ => 1L)(_ + _)
    val wantNodes = curies.map(c => (c, named(c)._2)) ++ texts.map(t => (t._1, null))
    val wantEdges =
      perDoc.flatMap { case (d, cs) => cs.map { case (c, n) => (d, c, "MENTIONS", n.toString) } } ++
        pairs.map { case ((a, b), n) => (a, b, "COOCCURS_WITH", n.toString) }
    val wantTriples =
      curies.map(c => Triple(c, "rdf:type", typeOf(named(c)._1))) ++
        texts.map(t => Triple(t._1, "rdf:type", "Document")) ++
        wantEdges.map { case (s, o, p, _) => Triple(s, p, o) }
    assert(wantNodes.size == 5 && wantNodes.contains(("e:a", "alpha")))
    assert(wantEdges.size == 8 && wantEdges.contains(("d1", "e:a", "MENTIONS", "2")))
    assert(pairs == Map(("e:a", "e:b") -> 2L, ("e:a", "e:c") -> 1L, ("e:b", "e:c") -> 1L))
    assert(wantTriples.size == 13 && wantTriples.distinct.size == 13)
    for ((path, (ns, es, ts)) <- Seq("run" -> pipe.run(docs), "runFused" -> pipe.runFused(docs))) {
      val gotNodes = ns.collect().toSeq.map(n =>
        (n.id, Props.get(n.props, "name").map(_.s).orNull))
      val gotEdges = es.collect().toSeq.map(e => (e.src, e.tgt, e.label, e.props.head.v.s))
      assert(multiset(gotNodes) == multiset(wantNodes), path)
      assert(multiset(gotEdges) == multiset(wantEdges), path)
      assert(bag(ts) == multiset(wantTriples), path)
    }
    val wantPairs = multiset(pairs.toSeq.map { case ((a, b), n) => (a, b, n) })
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      multiset(df.as[(String, String, Long)].collect().toSeq)
    assert(pairRows(pipe.cooccurrencePairsFromSets(pipe.mentionSets(docs))) == wantPairs)
    assert(pairRows(Mentions.cooccurrencePairsFromDocMentions(
      pipe.docMentions(docs).coalesce(1))) == wantPairs)
  }

  test("alias dictionary: streamed entity nodes take the canonical name, as run/runFused do") {
    import graft.model.{Doc, Span}
    val pipe = new KgPipeline(spark, AnalyticsDomain.context(), aliasDict)
    // e:a is matched only by its alias in d1; its canonical surface is alpha
    val docs = Seq(Doc("d1", Seq(Span("text", "alphax beta", null, 0))),
      Doc("d2", Seq(Span("text", "gamma alphax alpha", null, 0)))).toDS()
    val docLabel = pipe.ctxRef.inputLabelToClass("document")
    def entities(ns: Dataset[graft.model.KgNode]) = ns.collect().filter(_.label != docLabel).toSet
    val streamed = entities(graft.translate.Translate.nodes(
      Mentions.toRawNodesWithDocs(Mentions.detect(docs, pipe.bcDict), pipe.bcDict), pipe.bcCtx))
    assert(streamed.map(_.id) == Set("e:a", "e:b", "e:c"))
    assert(streamed == entities(pipe.nodes(pipe.docMentions(docs))))
    assert(streamed == entities(pipe.runFused(docs)._1))
  }

  test("per-doc cap counts entities: an entity's score sums over its aliases") {
    import graft.model.{Doc, Span, Triple}
    val pipe = new KgPipeline(spark, AnalyticsDomain.context(), aliasDict)
    val docs = Seq(Doc("d", Seq(Span("text", "alpha alphax beta gamma", null, 0)))).toDS()
    // scores at cap 2: e:a = 5 x 2 (canonical surface alpha, two
    // occurrences), e:b = 4 x 1, e:c = 5 x 1 — e:a and e:c are kept
    val want = Seq(("e:a", "e:c", 1L))
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long)].collect().toSeq
    assert(pairRows(Mentions.cooccurrencePairsFromDocMentions(
      pipe.docMentions(docs).coalesce(1), maxEntitiesPerDoc = 2)) == want)
    val ms = pipe.mentionSets(docs)
    assert(pairRows(pipe.cooccurrencePairsFromSets(ms, maxEntitiesPerDoc = 2)) == want)
    assert(pipe.triplesFromSets(ms, maxEntitiesPerDoc = 2)
      .filter(_.pred == "COOCCURS_WITH").collect().toSeq ==
      Seq(Triple("e:a", "COOCCURS_WITH", "e:c")))
  }

  test("fused mention-set consumers tolerate arbitrary repartition (no contiguity contract)") {
    val docs = Corpus.synthesize(spark, 300, AnalyticsDomain.vocab)
    val pipe = graft.KgPipeline.analytics(spark)
    val ms = pipe.mentionSets(docs)
    val shuffled = ms.repartition(7)
    assert(pipe.cooccurrenceEdgesFromSets(shuffled).collect().toSet ==
      pipe.cooccurrenceEdgesFromSets(ms).collect().toSet)
    assert(pipe.nodesFromSets(shuffled).collect().toSet ==
      pipe.nodesFromSets(ms).collect().toSet)
  }

  test("multimodal metadata plumbing is deterministic") {
    val docs = Corpus.synthesize(spark, 50, AnalyticsDomain.vocab)
    val meta = graft.ops.MultimodalOps.decodeMetadata(
      graft.ops.MultimodalOps.mediaSpans(docs)).collect()
    assert(meta.nonEmpty)
    meta.foreach { r =>
      assert(r.getAs[Long]("width") >= 0 && r.getAs[Long]("width") <= 255)
      assert(r.getAs[Long]("n_bytes") == 16)
    }
    // frame sampling only for video
    val frames = graft.ops.MultimodalOps.sampleFrames(
      graft.ops.MultimodalOps.decodeMetadata(graft.ops.MultimodalOps.mediaSpans(docs)))
    assert(frames.filter(col("frame_idx") < 0).count() == 0)
  }
}
