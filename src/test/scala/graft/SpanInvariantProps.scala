package graft

import org.scalacheck.{Gen, Properties, Test => ScTest}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions.{col, explode, lit, shiftright}
import graft.corpus.AnalyticsDomain
import graft.extract.{AhoCorasick, DictEntry, MentionDict, Mentions}
import graft.model.{Doc, Span}
import graft.SparkTestBase.bag

/** Generator-driven span-sequence invariants (SURVEY §5, VERDICT r5 #5):
  * arbitrary interleaved text/media span mixes — unicode included — through
  * the extraction and pipeline paths. Two suites: [[TrieProps]] is pure
  * driver-side (default 100 cases), [[SpanPipelineProps]] runs Spark jobs
  * per case (fewer cases, same shared session as the scalatest suites).
  */
object PropGen {

  /** Extra surfaces of analytics entities: `cols` sorts before `column`, so
    * it is `store:column`'s canonical surface in [[aliasDict]]. */
  val aliases: Vector[(String, String)] = Vector(
    "scans" -> "op:scan", "joins" -> "op:join", "tables" -> "store:table",
    "cols" -> "store:column")

  /** Non-ASCII surfaces of analytics entities, for [[nonAsciiDict]]. */
  val nonAsciiAliases: Vector[(String, String)] = Vector(
    "jöin" -> "op:join", "tåble" -> "store:table")

  /** The analytics dictionary plus `extra` surfaces, each in its curie's
    * schema class: several surfaces per entity. */
  private def withAliases(extra: Seq[(String, String)]): MentionDict = {
    val base = AnalyticsDomain.dictionary.map { case (s, c, cu) => DictEntry(s, cu, c, 1.0) }
    val clsOf = base.map(e => e.curie -> e.cls).toMap
    MentionDict.build(base ++ extra.map { case (s, cu) => DictEntry(s, cu, clsOf(cu), 1.0) })
  }

  def aliasDict: MentionDict = withAliases(aliases)

  /** The analytics dictionary plus [[nonAsciiAliases]]: the fused path's
    * in-place byte walk then matches multi-byte surfaces. */
  def nonAsciiDict: MentionDict = withAliases(nonAsciiAliases)

  /** The analytics pipeline and its alias and non-ASCII twins, over the same
    * schema. */
  def pipelines(spark: org.apache.spark.sql.SparkSession): Seq[KgPipeline] =
    Seq(KgPipeline.analytics(spark),
      new KgPipeline(spark, AnalyticsDomain.context(), aliasDict),
      new KgPipeline(spark, AnalyticsDomain.context(), nonAsciiDict))

  // alias surfaces are plain fillers to the analytics dictionary
  val dictTerm: Gen[String] =
    Gen.oneOf(AnalyticsDomain.dictionary.map(_._1) ++ (aliases ++ nonAsciiAliases).map(_._1))
  // fillers chosen to be adversarial for whole-word matching: dictionary
  // terms as substrings (rescan/joinx) and non-ASCII words that put
  // multi-byte code points next to match edges
  val fillerAscii: Gen[String] =
    Gen.oneOf("a", "the", "big", "data", "rescan", "joinx", "scanjoin", "x")
  val fillerUnicode: Gen[String] =
    Gen.oneOf("héllo", "wörld", "データ", "αβγδ", "émigré", "ñandú")
  val word: Gen[String] =
    Gen.frequency(4 -> dictTerm, 2 -> fillerAscii, 1 -> fillerUnicode)
  val sentence: Gen[String] =
    Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  /** The reference whole-word matcher: every (UTF-16 start, pattern index)
    * where the pattern's chars stand at that index of `text` and no letter
    * or digit char touches either end. */
  def naiveWholeWords(pats: Seq[String], text: String): Seq[(Int, Int)] =
    naiveAll(pats, text).filter { case (start, p) =>
      val end = start + pats(p).length
      (start == 0 || !Character.isLetterOrDigit(text.charAt(start - 1))) &&
      (end == text.length || !Character.isLetterOrDigit(text.charAt(end)))
    }

  /** Every (UTF-16 start, pattern index) where the pattern's chars stand. */
  def naiveAll(pats: Seq[String], text: String): Seq[(Int, Int)] =
    for {
      start <- 0 until text.length
      p <- pats.indices
      if text.regionMatches(start, pats(p), 0, pats(p).length)
    } yield (start, p)

  private val textSpan: Gen[(String, String, String)] =
    sentence.map(t => ("text", t, null: String))
  private val mediaSpan: Gen[(String, String, String)] =
    for {
      kind <- Gen.oneOf("image", "audio", "video")
      ref <- Gen.chooseNum(0, 9999)
    } yield (kind, null: String, s"media://$kind/$ref")

  private val docSpans: Gen[List[(String, String, String)]] =
    Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(3 -> textSpan, 1 -> mediaSpan)))

  /** Corpus with distinct doc ids and ordered span offsets. */
  val corpus: Gen[List[Doc]] =
    Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, docSpans)).map { ds =>
      ds.zipWithIndex.map { case (spans, i) =>
        Doc(f"doc$i%05d",
          spans.zipWithIndex.map { case ((k, t, m), off) => Span(k, t, m, off) })
      }
    }
}

object TrieProps extends Properties("Trie") {

  private val patterns: Gen[List[String]] =
    Gen.chooseNum(1, 12)
      .flatMap(n => Gen.listOfN(n, PropGen.word))
      .map(_.distinct.filter(_.nonEmpty))
      .suchThat(_.nonEmpty)

  /** Counts of the one byte walk, by pattern index. */
  private def counts(n: Int, count: (Array[Long], Array[Int]) => Int): Map[Int, Long] = {
    val cs = new Array[Long](n)
    val touched = new Array[Int](n)
    val k = count(cs, touched)
    (0 until k).map(i => touched(i) -> cs(touched(i))).toMap
  }

  private def byPattern(ms: Seq[(Int, Int)]): Map[Int, Long] =
    ms.groupBy(_._2).map { case (p, os) => p -> os.size.toLong }

  property("countWholeWords == findWholeWords drain, any dictionary x any text") =
    forAll(patterns, PropGen.sentence) { (pats, text) =>
      val ac = AhoCorasick.build(pats)
      val ids = pats.indices.toArray
      counts(pats.length, ac.countWholeWords(text, ids, _, _, 0)) ==
        byPattern(ac.findWholeWords(text).toList)
    }

  property("findAll positions: every reported match is literally present") =
    forAll(patterns, PropGen.sentence) { (pats, text) =>
      val ac = AhoCorasick.build(pats)
      ac.findAll(text).forall { case (start, p) =>
        text.regionMatches(start, ac.patterns(p), 0, ac.patterns(p).length)
      }
    }

  // ASCII, accented, CJK and supplementary-plane surfaces, several of them
  // substrings of others, and gaps that are word chars, non-word chars or
  // nothing at all
  private val intlWord: Gen[String] = Gen.oneOf("alpha", "𝐀lpha", "lpha", "données",
    "donnée", "データ", "デ", "タ", "😀", "a😀", "é", "ß", "scan", "naïve", "中文", "中",
    "Ωmega", "x1")
  private val intlGap: Gen[String] =
    Gen.oneOf(" ", " ", "", "-", "!", "\u00a0", "é", "𝐀", "😀", "5")
  private val intlDict: Gen[List[String]] =
    Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, intlWord)).map(_.distinct)
  private val intlText: Gen[String] =
    Gen.chooseNum(0, 16).flatMap(n => Gen.listOfN(n, Gen.zip(intlWord, intlGap)))
      .map(_.map { case (w, g) => w + g }.mkString)

  property("non-ASCII dictionaries and texts: counts and UTF-16 offsets == a naive matcher") =
    forAll(intlDict, intlText) { (pats, text) =>
      val ac = AhoCorasick.build(pats)
      val ids = pats.indices.toArray
      val want = PropGen.naiveWholeWords(pats, text)
      val utf8 = org.apache.spark.unsafe.types.UTF8String.fromString(text)
      ac.findWholeWords(text).toList.sorted == want.sorted &&
      ac.findAll(text).toList.sorted == PropGen.naiveAll(pats, text).sorted &&
      counts(pats.length, ac.countWholeWords(text, ids, _, _, 0)) == byPattern(want) &&
      counts(pats.length, ac.countWholeWords(utf8.getBaseObject, utf8.getBaseOffset,
        utf8.numBytes, ids, _, _, 0)) == byPattern(want)
    }

  // stray continuation bytes, truncated sequences, overlong forms ("A" as
  // C1 81), an encoded surrogate and bytes that never occur in UTF-8
  private val junk: Gen[Array[Byte]] = Gen.oneOf(Seq(0x80), Seq(0xc3), Seq(0xe3, 0x83),
    Seq(0xf0, 0x9d), Seq(0xff), Seq(0xc1, 0x81), Seq(0xe0, 0x80, 0x80), Seq(0xed, 0xa0, 0x80),
    Seq(0xc3, 0xa9, 0xa9)).map(_.map(_.toByte).toArray)
  private val malformed: Gen[Array[Byte]] =
    Gen.chooseNum(0, 16).flatMap(n => Gen.listOfN(n, Gen.frequency(
      3 -> Gen.zip(intlWord, intlGap).map { case (w, g) => (w + g).getBytes("UTF-8") },
      1 -> junk))).map(_.toArray.flatten)

  property("malformed UTF-8 bytes are non-word chars, as their decoded U+FFFD") =
    forAll(intlDict, malformed) { (pats, bytes) =>
      val ac = AhoCorasick.build(pats)
      val decoded = new String(bytes, "UTF-8")
      counts(pats.length, ac.countWholeWords(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, pats.indices.toArray, _, _, 0)) ==
        byPattern(PropGen.naiveWholeWords(pats, decoded))
    }

  // few surfaces and curies so surfaces repeat, equal priors, both zeros
  private val dictEntries: Gen[List[DictEntry]] = Gen.chooseNum(1, 24).flatMap(n => Gen.listOfN(n,
    for {
      surface <- Gen.oneOf("scan", "join", "scanx", "données", "a")
      curie <- Gen.oneOf("e:1", "e:2", "e:10", "e:b")
      cls <- Gen.oneOf("c1", "c2")
      prior <- Gen.oneOf(0.0, -0.0, 0.5, 1.0, 1.0, -1.0)
    } yield DictEntry(surface, curie, cls, prior)))

  /** The winner pick `MentionDict.build` had before its one-sort pass. */
  private def groupByWinners(entries: Seq[DictEntry]): Seq[DictEntry] =
    entries.groupBy(_.surface).toSeq.sortBy(_._1).map { case (_, es) => es.minBy(e => (-e.prior, e.curie)) }

  property("MentionDict.build winners and pattern order == the groupBy/minBy pick") =
    forAll(dictEntries) { entries =>
      // a case-class compare takes -0.0 == 0.0; the raw bits do not
      def exact(es: Seq[DictEntry]) =
        es.map(e => (e.surface, e.curie, e.cls, java.lang.Double.doubleToRawLongBits(e.prior)))
      val dict = MentionDict.build(entries)
      val want = groupByWinners(entries)
      exact(dict.linkFor.toSeq) == exact(want) && dict.trie.patterns.toSeq == want.map(_.surface)
    }
}

object SpanPipelineProps extends Properties("SpanPipeline") {

  override def overrideParameters(p: ScTest.Parameters): ScTest.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkTestBase.spark

  property("string == fused pipeline on arbitrary corpora") =
    forAll(PropGen.corpus) { docs =>
      import spark.implicits._
      val ds = spark.createDataset(docs)
      PropGen.pipelines(spark).forall { pipe =>
        val (ns, es, ts) = pipe.run(ds)
        val (nsF, esF, tsF) = pipe.runFused(ds)
        bag(nsF) == bag(ns) && bag(esF) == bag(es) && bag(tsF) == bag(ts)
      }
    }

  property("detectPerDoc == detect aggregated; fused ExtractMentions decodes to the same rows") =
    forAll(PropGen.corpus) { docs =>
      import spark.implicits._
      val ds = spark.createDataset(docs)
      PropGen.pipelines(spark).forall { pipe =>
        val bc = pipe.bcDict
        // ((doc, curie), n) -> 1: a second row for one (doc, curie) key
        // shows as a different multiset
        val occ = Mentions.detect(ds, bc).collect().filter(_.cls != "media").toSeq
          .groupMapReduce(m => (m.doc_id, m.curie))(_ => 1L)(_ + _)
          .map(_ -> 1)
        val perDoc = bag(Mentions.detectPerDoc(ds, bc)
          .map(m => ((m.doc_id, m.curie), m.n)))
        val fused = bag(pipe.mentionSets(ds)
          .select(col("doc_id"), explode(col("pm")).as("p"))
          .select(col("doc_id"), shiftright(col("p"), 32).cast("int"),
            col("p").bitwiseAND(lit(0xffffffffL)))
          .as[(String, Int, Long)]
          .map { case (d, r, n) => ((d, bc.value.byRank(r).curie), n) })
        occ == perDoc && perDoc == fused
      }
    }

  property("media spans pass through detect as provenance mentions, counts exact") =
    forAll(PropGen.corpus) { docs =>
      import spark.implicits._
      val ds = spark.createDataset(docs)
      val bc = spark.sparkContext.broadcast(AnalyticsDomain.dict)
      val media = Mentions.detect(ds, bc).collect().filter(_.cls == "media")
      val expected = docs.flatMap(d =>
        d.spans.filter(s => s.kind != "text" && s.media_ref != null)
          .map(s => (d.doc_id, s.media_ref, s.offset)))
      media.map(m => (m.doc_id, m.curie, m.span_offset)).sorted.toSeq ==
        expected.map { case (d, r, o) => (d, r, o) }.sorted
    }

  property("span signature: identity-stable, mutation-sensitive") =
    forAll(PropGen.corpus) { docs =>
      import spark.implicits._
      val df = spark.createDataset(docs).toDF()
      val same = Mentions.invariantViolations(df, df) == 0
      // bump the last span's offset of every non-empty doc: the rendered
      // (kind, text, media_ref, offset) sequence changes, so every such
      // doc must violate
      val mutated = docs.map { d =>
        if (d.spans.isEmpty) d
        else d.copy(spans = d.spans.init :+ d.spans.last.copy(offset = d.spans.last.offset + 1))
      }
      val nMutable = docs.count(_.spans.nonEmpty)
      val viol = Mentions.invariantViolations(df, spark.createDataset(mutated).toDF())
      same && viol == nMutable
    }
}

/** Generator-driven invariants of the distributed prefix-sum packing
  * ([[graft.ops.SampleOps.packSequences]]): stream conservation and
  * partition-count independence over arbitrary corpora and capacities. */
object PackProps extends Properties("PackSequences") {

  override def overrideParameters(p: ScTest.Parameters): ScTest.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkTestBase.spark

  private val corpusAndCapacity: Gen[(List[(Long, String)], Long, Int)] =
    for {
      n <- Gen.chooseNum(1, 40)
      lens <- Gen.listOfN(n, Gen.chooseNum(1, 20))
      capacity <- Gen.chooseNum(1L, 64L)
      parts <- Gen.chooseNum(2, 9)
    } yield (lens.zipWithIndex.map { case (l, i) =>
      (i.toLong, List.fill(l)("w").mkString(" "))
    }, capacity, parts)

  property("stream conservation + partition independence, arbitrary corpora") =
    forAll(corpusAndCapacity) { case (docs, capacity, parts) =>
      import spark.implicits._
      val df = docs.toDF("doc_id", "text")
      val rows = graft.ops.SampleOps.packSequences(df, capacity, numPartitions = parts)
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long)].collect().toList
      // conservation: offsets are the running total of token counts in id
      // order, starting at zero
      val offsetsOk = rows.scanLeft(0L) { case (acc, (_, n, _, _, _)) => acc + n }
        .zip(rows).forall { case (expStart, (_, _, start, _, _)) => expStart == start }
      // chunk math: seq_id and spanned-count follow the capacity grid
      val gridOk = rows.forall { case (_, n, s, seqId, nSeqs) =>
        seqId == s / capacity && nSeqs == (s + n - 1) / capacity - s / capacity + 1
      }
      // partition independence: any partition count == the 1-partition run
      val one = graft.ops.SampleOps.packSequences(df, capacity, numPartitions = 1)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      offsetsOk && gridOk && rows.toSet == one
    }

  property("slice view: per-doc slices sum to n_tokens, every seq full except the last") =
    forAll(corpusAndCapacity) { case (docs, capacity, parts) =>
      import spark.implicits._
      val df = docs.toDF("doc_id", "text")
      val slices = graft.ops.SampleOps.packSlices(df, capacity, numPartitions = parts)
        .as[(Long, Long, Long, Long)].collect().toList
      val nTok = docs.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
      // conservation: each doc's slice lengths sum to its token count, and
      // skip offsets tile the doc contiguously from 0 in seq order
      val perDoc = slices.groupBy(_._2).map { case (d, ss) =>
        val sorted = ss.sortBy(_._1)
        val tiled = sorted.scanLeft(0L)(_ + _._4).zip(sorted)
          .forall { case (skip, (_, _, sk, _)) => skip == sk }
        sorted.map(_._4).sum == nTok(d) && tiled && ss.forall(_._4 > 0)
      }
      // capacity: every sequence except the highest-numbered holds exactly
      // `capacity` tokens
      val bySeq = slices.groupBy(_._1)
      val lastSeq = bySeq.keys.max
      val fullOk = bySeq.forall { case (q, ss) =>
        val tot = ss.map(_._4).sum
        if (q == lastSeq) tot <= capacity && tot > 0 else tot == capacity
      }
      perDoc.forall(identity) && fullOk
    }
}

/** Generator-driven invariants of the intra-corpus self-dedup family
  * ([[graft.ops.DedupOps.selfNgramDedup]]/`selfNgramSpans`/`applySelfNgram`):
  * all three views must agree with a driver-side ground truth computed
  * with the SAME md5-derived gram hash (so string-collision noise cannot
  * flake the comparison) over arbitrary corpora and window widths. */
object SelfGramProps extends Properties("SelfNgramDedup") {

  override def overrideParameters(p: ScTest.Parameters): ScTest.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkTestBase.spark

  /** Driver-side replica of TextOps.tokenHash mod Mod. */
  private def hash56(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(14)
    java.lang.Long.parseLong(hex, 16) % graft.ops.TextOps.Mod
  }

  /** Positional grams per the shared convention: a doc shorter than n
    * tokens contributes its whole text as one gram at position 1. */
  private def posGrams(text: String, n: Int): Seq[(Int, String)] = {
    val t = text.split(" ", -1).toSeq
    if (t.length >= n) t.sliding(n).map(_.mkString(" ")).zipWithIndex
      .map { case (g, i) => (i + 1, g) }.toSeq
    else Seq((1, t.mkString(" ")))
  }

  // small vocabulary so cross-doc shared windows actually occur
  private val corpusGen: Gen[(List[(Long, String)], Int)] = for {
    nDocs <- Gen.chooseNum(2, 24)
    width <- Gen.chooseNum(2, 4)
    texts <- Gen.listOfN(nDocs,
      Gen.chooseNum(1, 12).flatMap(k =>
        Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" "))))
  } yield (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, width)

  property("doc view, span view and apply agree with the driver-side truth") =
    forAll(corpusGen) { case (docs, n) =>
      import spark.implicits._
      val df = docs.toDF("doc_id", "text")
      // ground truth on hashed grams
      val byDoc = docs.map { case (id, t) =>
        id -> posGrams(t, n).map { case (p, g) => (p, hash56(g)) }
      }.toMap
      val dfCount = byDoc.values.flatMap(_.map(_._2).distinct).toSeq
        .groupBy(identity).map { case (h, xs) => h -> xs.size.toLong }
      val wantDoc = byDoc.map { case (id, gs) =>
        val distinct = gs.map(_._2).distinct
        val shared = distinct.count(h => dfCount(h) >= 2L)
        (id, distinct.size.toLong, shared.toLong,
          BigDecimal(shared.toDouble / distinct.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
      val gotDoc = graft.ops.DedupOps.selfNgramDedup(df, n)
        .as[(Long, Long, Long, Double)].collect().toSet
      val wantSpans = byDoc.flatMap { case (id, gs) =>
        gs.collect { case (p, h) if dfCount(h) >= 2L => (id, p.toLong, h, dfCount(h)) }
      }.toSet
      val gotSpans = graft.ops.DedupOps.selfNgramSpans(df, n)
        .as[(Long, Long, Long, Long)].collect().toSet
      val wantKept = wantDoc.collect {
        case (id, ng, ns, _) if ns.toDouble < ng.toDouble * 0.5 => id }
      val gotKept = graft.ops.DedupOps.applySelfNgram(df, n, maxRatio = 0.5)
        .select("doc_id").as[Long].collect().toSet
      gotDoc == wantDoc && gotSpans == wantSpans && gotKept == wantKept
    }
}
