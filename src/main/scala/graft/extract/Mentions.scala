package graft.extract

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.model._
import graft.model.Props.Props

/** One dictionary entry: a surface form linked to a canonical entity. */
final case class DictEntry(surface: String, curie: String, cls: String, prior: Double)

/** The broadcastable entity-linking dictionary: an Aho-Corasick automaton
  * over all surface forms plus per-pattern link metadata. Ambiguous surfaces
  * (same form, several entities) are resolved by highest prior, then
  * lexicographic CURIE — deterministic by construction. The one owner of
  * the surface → entity decision: a rank is an entity (a distinct curie),
  * so everything downstream of the trie count sees entities only. */
final class MentionDict private (
    val trie: AhoCorasick,
    val linkFor: Array[DictEntry], // one winner per pattern index
) extends Serializable {
  /** rank -> the entity's canonical entry, the min `(cls, surface)` over the
    * surfaces its curie won: one per distinct curie, in curie order (so
    * integer-keyed hot loops can reproduce string-ordered outputs). */
  @transient lazy val byRank: Array[DictEntry] =
    linkFor.groupBy(_.curie).values.map(_.minBy(e => (e.cls, e.surface)))
      .toArray.sortBy(_.curie)
  /** `curie`'s rank: a binary search of [[byRank]], which is in curie
    * order. */
  def rankOfCurie(curie: String): Int =
    byRank.view.map(_.curie).search(curie) match {
      case scala.collection.Searching.Found(r) => r
      case _ => throw new NoSuchElementException(s"$curie is not a dictionary entity")
    }
  /** pattern index -> its entity's rank (aliases share one). */
  @transient lazy val rankOf: Array[Int] = {
    val rank = byRank.iterator.map(_.curie).zipWithIndex.toMap
    linkFor.map(e => rank(e.curie))
  }
  /** rank -> per-occurrence score unit, the canonical entry's prior x
    * surface length: an entity's score in a doc is `scoreUnitByRank(rank) *
    * n`, n summed over its aliases, on both paths and in the per-doc cap.
    * The packed mention set need not carry it (8 bytes/row of cache
    * bandwidth): executor-side consumers rederive it from the dictionary. */
  @transient lazy val scoreUnitByRank: Array[Double] =
    byRank.map(e => e.prior * e.surface.length)
  /** rank -> curie as Catalyst's string type, for the codegen'd rank decode
    * ([[graft.functions.RankCurie]]): built once per executor per broadcast,
    * so no task closure or generated class carries the dictionary's
    * strings. */
  @transient lazy val curieByRank: Array[UTF8String] =
    byRank.map(e => UTF8String.fromString(e.curie))
}

object MentionDict {
  def build(entries: Seq[DictEntry]): MentionDict = {
    entries.find(_.surface.isEmpty).foreach(e => throw new IllegalArgumentException(
      s"dictionary entry $e has an empty surface, which would match between any two non-word characters"))
    // one stable sort puts each surface's winner first, ahead of its
    // losers; a linear pass keeps the first entry of every surface
    val sorted = entries.toArray
    java.util.Arrays.sort(sorted, winnerFirst)
    val winners = sorted.iterator.zipWithIndex
      .collect { case (e, i) if i == 0 || e.surface != sorted(i - 1).surface => e }.toArray
    new MentionDict(AhoCorasick.build(winners.map(_.surface).toSeq), winners)
  }

  /** Surface ascending; within a surface the highest prior first
    * (`Double.compare` on the negated prior), then the smallest curie.
    * Full ties keep input order (the sort is stable). */
  private val winnerFirst: java.util.Comparator[DictEntry] = (a, b) => {
    val s = a.surface.compareTo(b.surface)
    if (s != 0) s
    else {
      val p = java.lang.Double.compare(-a.prior, -b.prior)
      if (p != 0) p else a.curie.compareTo(b.curie)
    }
  }
}

/** A detected entity mention with provenance back to the span it came from
  * (the per-row span-sequence invariant carries kind/text/media_ref/order).
  */
final case class Mention(
    doc_id: String,
    curie: String,
    cls: String,
    surface: String,
    span_offset: Int, // ordering position of the span within the doc
    span_kind: String,
    char_start: Int,
    score: Double,
)

/** A per-document aggregated mention: one row per (doc, entity), with the
  * occurrence count — the pipeline's working row. Thin (flat strings) on
  * purpose: downstream distincts stay in codegen'd HashAggregate. */
final case class DocMention(
    doc_id: String,
    curie: String,
    cls: String,
    surface: String,
    n: Long,
    score: Double,
)

/** Mention detection + entity linking over interleaved text+media documents
  * — the web-scale "adapter" stage (BASELINE.json north rule; replaces the
  * reference's user-generator source, biocypher/_core.py:421-461).
  *
  * Text spans are matched with the broadcast Aho-Corasick dictionary inside
  * `mapPartitions`; media spans pass through as `media_ref`-keyed provenance
  * mentions. No shuffle: the stage is a narrow map over the doc scan,
  * parallel in the number of input partitions.
  */
object Mentions {

  // derived once, on the driver (tasks call this object's helpers)
  private lazy val MentionEncoder = org.apache.spark.sql.Encoders.product[Mention]
  private lazy val DocMentionEncoder = org.apache.spark.sql.Encoders.product[DocMention]

  /** Default cap on distinct entities per document for co-occurrence pair
    * emission. Pair output is quadratic in per-doc entities; against an
    * open 10⁶-term dictionary a single entity-list page would otherwise
    * emit millions of pairs. 256 keeps the worst doc at ≤32,640 pairs and
    * is far above anything the demo dictionaries produce (22 terms), so
    * capped and uncapped results agree on the oracle corpora. */
  val DefaultMaxEntitiesPerDoc = 256

  /** Per-doc occurrence counts saturate at 2³¹-1: the fused packed-long path
    * ([[graft.functions.ExtractMentionsKT]]) has only 32 bits for the count
    * half of its `(rank << 32) | n` encoding, so the string path clamps at
    * the same bound — both pipeline paths agree by construction (ADVICE
    * r5), and a single doc would need >2 G occurrences of one entity to
    * ever reach it. */
  val MaxOccurrencesPerDoc: Long = 0x7fffffffL

  @inline private def clampN(n: Long): Long =
    if (n > MaxOccurrencesPerDoc) MaxOccurrencesPerDoc else n

  /** Minimal open-addressing set of longs (8 B per entry, power-of-two
    * table) — backs the doc-run contiguity guard at one hash probe per
    * run with no per-entry boxing. */
  private final class LongHashSet(initCap: Int) {
    private var mask = initCap - 1
    private var table = new Array[Long](initCap)
    private var used = new Array[Boolean](initCap)
    private var n = 0
    /** true iff v was newly added (false = already present). */
    def add(v: Long): Boolean = {
      var i = java.lang.Long.hashCode(v * -7046029254386353131L) & mask
      while (used(i)) {
        if (table(i) == v) return false
        i = (i + 1) & mask
      }
      table(i) = v; used(i) = true; n += 1
      if (n * 2 > mask) grow()
      true
    }
    private def grow(): Unit = {
      val (ot, ou) = (table, used)
      mask = mask * 2 + 1
      table = new Array[Long](mask + 1)
      used = new Array[Boolean](mask + 1)
      n = 0
      var i = 0
      while (i < ot.length) { if (ou(i)) add(ot(i)); i += 1 }
    }
  }

  private def docHash(id: String): Long = {
    // FNV-1a 64 — cheap, well-mixed; a collision (~n²/2⁶⁴) only makes the
    // guard raise spuriously, never pass wrongly
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < id.length) { h ^= id.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Top-`cap` entity ranks by (score desc, rank asc) — the deterministic
    * per-doc entity selection when a doc exceeds the pair-emission cap. */
  private[graft] def topRanksByScore(ranks: Array[Int], scores: Array[Double], cap: Int): Array[Int] = {
    val idx = ranks.indices.sortBy(i => (-scores(i), ranks(i))).take(cap)
    val out = idx.map(ranks).toArray
    java.util.Arrays.sort(out)
    out
  }

  def detect(docs: Dataset[Doc], bcDict: Broadcast[MentionDict]): Dataset[Mention] = {
    implicit val enc = MentionEncoder
    docs.mapPartitions { it =>
      val dict = bcDict.value
      it.flatMap { doc =>
        doc.spans.iterator.flatMap { span =>
          if (span.kind == "text" && span.text != null) {
            dict.trie.findWholeWords(span.text).map { case (start, pi) =>
              val e = dict.linkFor(pi)
              // candidate score: surface-length prior x dictionary prior
              val score = e.prior * e.surface.length
              Mention(doc.doc_id, e.curie, e.cls, e.surface, span.offset, span.kind, start, score)
            }
          } else if (span.media_ref != null) {
            // media spans: opaque provenance mention keyed by media_ref
            Iterator.single(Mention(doc.doc_id, span.media_ref, "media", span.kind,
              span.offset, span.kind, -1, 0.0))
          } else Iterator.empty
        }
      }
    }
  }

  /** Trie-counts every text span of `doc` into `counts` by entity rank,
    * recording each newly hit rank in `touched`; returns the number
    * touched. The caller reads `counts(touched(i))` for `i < n` and must
    * zero them before the next doc. */
  private def countDoc(dict: MentionDict, doc: Doc,
      counts: Array[Long], touched: Array[Int]): Int = {
    var nTouched = 0
    doc.spans.foreach { span =>
      if (span.kind == "text" && span.text != null)
        nTouched = dict.trie.countWholeWords(span.text, dict.rankOf, counts, touched, nTouched)
    }
    nTouched
  }

  /** Occurrence mentions aggregated per document inside the same narrow
    * pass (no shuffle): one row per (doc, entity) with the occurrence count
    * summed over its aliases, its canonical `cls`/`surface` and its score.
    * This is the string path's entry: downstream dedups operate on these
    * thin rows. */
  def detectPerDoc(docs: Dataset[Doc], bcDict: Broadcast[MentionDict]): Dataset[DocMention] = {
    implicit val enc = DocMentionEncoder
    docs.mapPartitions { it =>
      val dict = bcDict.value
      // integer-keyed occurrence counting, one DocMention built per distinct
      // entity (this pass is allocation-bound at 32 threads — keep it lean)
      val counts = new Array[Long](dict.byRank.length)
      val touched = new Array[Int](dict.byRank.length)
      it.flatMap { doc =>
        val nTouched = countDoc(dict, doc, counts, touched)
        val out = new Array[DocMention](nTouched)
        var i = 0
        while (i < nTouched) {
          val r = touched(i)
          val e = dict.byRank(r)
          val n = clampN(counts(r))
          out(i) = DocMention(doc.doc_id, e.curie, e.cls, e.surface, n,
            dict.scoreUnitByRank(r) * n)
          counts(r) = 0
          i += 1
        }
        out
      }
    }
  }

  /** Co-occurring entity pairs derived from an UNSHUFFLED DocMention
    * dataset (straight from [[detectPerDoc]], possibly persisted): rows of
    * one doc are contiguous within a partition by construction, so per-doc
    * entity sets rebuild in a narrow pass — no second corpus scan, no
    * re-running the trie, no shuffle before the final tiny aggregate.
    *
    * Contract: `dm` must come from [[detectPerDoc]] without an intervening
    * shuffle (the doc-run contiguity invariant). The contract is ENFORCED
    * at runtime when `guard` is on (default): each partition tracks the
    * hash of every doc-run it has closed (8 B per run) and raises if a
    * doc_id reappears after its run ended — a re-shuffled input fails
    * loudly instead of silently emitting wrong pairs. Within a doc the
    * curies are distinct ([[detectPerDoc]] merges aliases), so no doc emits
    * a self-pair; lexicographic sort reproduces the a < b pair order of
    * [[graft.KgPipeline.cooccurrencePairsFromSets]] (rank order is curie
    * order), and the same `maxEntitiesPerDoc` cap applies (top score,
    * curie tie-break). */
  def cooccurrencePairsFromDocMentions(dm: Dataset[DocMention],
      maxEntitiesPerDoc: Int = DefaultMaxEntitiesPerDoc,
      guard: Boolean = true): DataFrame = {
    val spark = dm.sparkSession
    import spark.implicits._
    val droppedDocs = spark.sparkContext.longAccumulator("cooccurrence_capped_docs")
    val pairs = dm.mapPartitions { it =>
      val base = it.buffered
      val seenRuns = if (guard) new LongHashSet(1 << 16) else null
      // reusable per-partition primitive buffers: the hot loop allocates
      // NOTHING per mention row (a (String, Double) tuple here costs a
      // Tuple2 + boxed Double per row — measurable allocation pressure at
      // 32 threads on the bandwidth-bound pipeline)
      var curies = new Array[String](256)
      var scores = new Array[Double](256)
      new Iterator[(String, String)] {
        private var out: Iterator[(String, String)] = Iterator.empty
        private def advance(): Unit = {
          while (!out.hasNext && base.hasNext) {
            val docId = base.head.doc_id
            if (guard && !seenRuns.add(docHash(docId)))
              throw new IllegalStateException(
                s"doc-run contiguity violated: doc_id $docId reappeared after its run " +
                  "ended — the DocMention dataset was shuffled between detectPerDoc " +
                  "and pair emission (pass guard=false only if contiguity is certain)")
            var n = 0
            while (base.hasNext && base.head.doc_id == docId) {
              if (n == curies.length) {
                curies = java.util.Arrays.copyOf(curies, n * 2)
                scores = java.util.Arrays.copyOf(scores, n * 2)
              }
              val m = base.next()
              curies(n) = m.curie; scores(n) = m.score; n += 1
            }
            if (n >= 2) {
              val arr: Array[String] =
                if (n > maxEntitiesPerDoc) {
                  droppedDocs.add(1)
                  val kept = (0 until n).sortBy(i => (-scores(i), curies(i)))
                    .take(maxEntitiesPerDoc).map(curies).toArray
                  java.util.Arrays.sort(kept.asInstanceOf[Array[Object]])
                  kept
                } else {
                  val a = java.util.Arrays.copyOf(curies, n)
                  java.util.Arrays.sort(a.asInstanceOf[Array[Object]])
                  a
                }
              out = for {
                a <- arr.indices.iterator
                b <- ((a + 1) until arr.length).iterator
              } yield (arr(a), arr(b))
            }
          }
        }
        def hasNext: Boolean = { advance(); out.hasNext }
        def next(): (String, String) = { advance(); out.next() }
      }
    }.toDF("src", "tgt")
    pairs.groupBy(col("src"), col("tgt")).agg(count(lit(1)).as("n_docs"))
  }

  /** Distinct doc ids from an UNSHUFFLED DocMention dataset (same
    * contiguity contract — and runtime guard — as
    * [[cooccurrencePairsFromDocMentions]]): each doc is one contiguous run
    * in exactly one partition, so emitting one id per run IS the global
    * distinct — no 10⁶-key shuffle. */
  def distinctDocIds(dm: Dataset[DocMention], guard: Boolean = true): Dataset[String] = {
    val spark = dm.sparkSession
    import spark.implicits._
    dm.map(_.doc_id).mapPartitions { it =>
      val seenRuns = if (guard) new LongHashSet(1 << 16) else null
      var last: String = null
      it.flatMap { id =>
        if (id == last) Iterator.empty
        else {
          if (guard && !seenRuns.add(docHash(id)))
            throw new IllegalStateException(
              s"doc-run contiguity violated: doc_id $id reappeared after its " +
                "run ended — the mention dataset was shuffled after extraction")
          last = id
          Iterator.single(id)
        }
      }
    }
  }

  /** Entity AND document nodes from text mentions, one narrow pass: per
    * occurrence, the CURIE entity node plus its document's node (the
    * streaming twin of the batch path's entity-distinct + doc-distinct —
    * downstream cross-batch dedup collapses the repeats). The entity node
    * takes its canonical `(cls, surface)` from the dictionary
    * ([[MentionDict.byRank]]), as on the batch paths, whichever alias
    * matched; the matched surface stays on the [[Mention]] as provenance. */
  def toRawNodesWithDocs(mentions: Dataset[Mention],
      bcDict: Broadcast[MentionDict]): Dataset[RawNode] = {
    implicit val enc = ModelEncoders.rawNode
    mentions.filter(_.cls != "media").flatMap { m =>
      val dict = bcDict.value
      val e = dict.byRank(dict.rankOfCurie(m.curie))
      Seq(
        RawNode(e.curie, e.cls, Props.of("name" -> PV.str(e.surface))),
        RawNode(m.doc_id, "document", Props.empty))
    }
  }

  /** Document->entity mention edges. */
  def toMentionEdges(mentions: Dataset[Mention], inputLabel: String = "mentions"): Dataset[RawEdge] = {
    implicit val enc = ModelEncoders.rawEdge
    mentions.filter(_.cls != "media").map { m =>
      RawEdge(null, m.doc_id, m.curie, inputLabel, Props.empty)
    }
  }

  /** Span-sequence signature per doc: md5 over the ordered
    * (kind, text, media_ref, offset) tuples — the per-row invariant column
    * (BASELINE.json input_hint). Pure Catalyst expression. */
  def spanSignature(spansCol: Column): Column = {
    val rendered = transform(spansCol, s =>
      concat_ws("\u0001",
        coalesce(s.getField("kind"), lit("\u0000")),
        coalesce(s.getField("text"), lit("\u0000")),
        coalesce(s.getField("media_ref"), lit("\u0000")),
        s.getField("offset").cast("string")))
    md5(to_binary(array_join(rendered, "\u0002"), lit("utf-8")))
  }

  /** Assert the invariant holds between two doc tables (same doc_ids, same
    * span sequences); returns the count of violating rows. */
  def invariantViolations(before: DataFrame, after: DataFrame): Long = {
    val b = before.select(col("doc_id"), spanSignature(col("spans")).as("sig_b"))
    val a = after.select(col("doc_id"), spanSignature(col("spans")).as("sig_a"))
    b.join(a, Seq("doc_id"), "full_outer")
      .filter(col("sig_b").isNull || col("sig_a").isNull || col("sig_b") =!= col("sig_a"))
      .count()
  }
}
