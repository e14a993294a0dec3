package kgbench

import scala.collection.mutable
import graft.corpus.{AnalyticsDomain, Corpus}
import graft.extract.DictEntry
import graft.model.{Doc, Span}

/** Generated dictionaries and corpora for the two corpus workloads, and an
  * independent count of the triples the fused path must produce. */
object Corpora {

  /** The analytics schema's four entity classes (input label, curie prefix). */
  val Classes: Vector[(String, String)] = Vector(
    "relational operator" -> "op", "storage structure" -> "store",
    "execution engine" -> "engine", "workload" -> "load")

  def analyticsEntries: Seq[DictEntry] =
    AnalyticsDomain.dictionary.map { case (s, c, cu) => DictEntry(s, cu, c, 1.0) }

  /** A symbol-like dictionary of biomedical size: `n` distinct surfaces
    * `k` + four base-36 characters (gene-symbol shaped, so the trie stays
    * ASCII), spread round-robin over the four classes. The order of the
    * result is the frequency order the corpus draws from. */
  def bigEntries(seed: Long, n: Int): IndexedSeq[DictEntry] = {
    val space = 36 * 36 * 36 * 36
    require(n < space / 4, s"$n surfaces do not fit the code space")
    val seen = mutable.HashSet[Int]()
    val codes = mutable.ArrayBuffer[Int]()
    var h = Corpus.splitmix64(seed ^ 0x6b6762656e6368L)
    while (codes.length < n) {
      h = Corpus.splitmix64(h)
      val c = ((h >>> 1) % space).toInt
      if (seen.add(c)) codes += c
    }
    codes.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      val s = "k" + Integer.toString(c + space, 36).substring(1)
      val (cls, prefix) = Classes(i % Classes.length)
      DictEntry(s, s"$prefix:$s", cls, 1.0)
    }
  }

  /** Filler words: none is a dictionary surface (checked at staging). */
  val Fillers: IndexedSeq[String] = Vector("the", "of", "and", "in", "to", "a", "with",
    "for", "is", "on", "by", "was", "as", "that", "from", "at", "cell", "cells",
    "expression", "levels", "binding", "activity", "role", "patients", "study",
    "analysis", "results", "increased", "reduced", "human", "mouse", "via", "signal",
    "response", "model", "effect", "type", "tissue", "variant", "loss")

  /** Share of corpus words that are dictionary terms: dense enough that a
    * document of 10-30 words carries several entities, so every document
    * adds pair keys for the combiner, and sparse enough that the
    * per-document entity cap never binds. */
  val TermShare = 0.5

  /** Zipf(1) over the dictionary in `entries` order: ~[[TermShare]] of the
    * words are dictionary terms, so head pairs repeat across documents and
    * the tail is near-unique. Documents interleave one or two text spans
    * with a media span, like [[Corpus.synthesize]]. Each document depends
    * only on the seed and its id. */
  def zipfDocs(seed: Long, nDocs: Long, entries: IndexedSeq[DictEntry]): Iterator[Doc] = {
    val surf = entries.map(_.surface).toArray
    require(!Fillers.exists(surf.toSet), "a filler word is a dictionary surface")
    val cdf = new Array[Double](surf.length)
    var acc = 0.0
    var k = 0
    while (k < cdf.length) { acc += 1.0 / (k + 1); cdf(k) = acc; k += 1 }
    k = 0
    while (k < cdf.length) { cdf(k) /= acc; k += 1 }
    val sb = new java.lang.StringBuilder(512)
    Iterator.range(0L, nDocs).map { id =>
      var h = Corpus.splitmix64(seed ^ Corpus.splitmix64(id))
      def next(): Long = { h = Corpus.splitmix64(h); h >>> 11 }
      def unit(): Double = next() * (1.0 / (1L << 53))
      val nText = 1 + (next() % 2).toInt
      val spans = Vector.newBuilder[Span]
      (0 until nText).foreach { si =>
        val nWords = 10 + (next() % 21).toInt
        sb.setLength(0)
        (0 until nWords).foreach { wi =>
          if (wi > 0) sb.append(' ')
          if (unit() < TermShare) {
            val i = java.util.Arrays.binarySearch(cdf, unit())
            sb.append(surf(math.min(if (i >= 0) i else -i - 1, surf.length - 1)))
          } else sb.append(Fillers((next() % Fillers.length).toInt))
        }
        spans += Span("text", sb.toString, null, 2 * si)
        spans += Span("image", null, s"media://img/$id/$si", 2 * si + 1)
      }
      Doc(s"doc$id", spans.result())
    }
  }

  /** What the fused path must produce on `docs`, derived without the
    * program's extraction or combiner, without Spark: words are split at
    * non-alphanumeric characters (the whole-word rule), looked up in a hash
    * map, and the distinct entity keys `(a, a)` and pair keys `(a, b)`,
    * a < b, counted by sorting.
    * Entries must have distinct surfaces, and the per-document entity cap
    * must not bind (checked per document), so the count is exact. */
  final case class Expected(triples: Long, docsWithMentions: Long, tokens: Long,
      occurrences: Long)

  def expected(docs: Iterator[Doc], entries: Seq[DictEntry]): Expected = {
    require(entries.map(_.surface).distinct.size == entries.size, "surfaces must be distinct")
    val curieId = entries.map(_.curie).distinct.sorted.zipWithIndex.toMap
    val m = entries.map(e => e.surface -> curieId(e.curie)).toMap
    val cap = graft.extract.Mentions.DefaultMaxEntitiesPerDoc
    val words = java.util.regex.Pattern.compile("[^A-Za-z0-9]+")
    val keys = mutable.ArrayBuilder.make[Long]
    var (nTokens, nOcc, nMentions, nDocs) = (0L, 0L, 0L, 0L)
    docs.foreach { d =>
      val ids = mutable.SortedSet[Int]()
      d.spans.foreach { s =>
        if (s.kind == "text" && s.text != null)
          words.split(s.text).foreach { w =>
            if (w.nonEmpty) {
              nTokens += 1
              m.get(w).foreach { i => nOcc += 1; ids += i }
            }
          }
      }
      val a = ids.toArray
      require(a.length <= cap, s"doc ${d.doc_id} has ${a.length} entities; the per-document cap would bind")
      if (a.nonEmpty) { nDocs += 1; nMentions += a.length }
      var i = 0
      while (i < a.length) {
        var j = i
        while (j < a.length) { keys += a(i).toLong << 32 | a(j); j += 1 }
        i += 1
      }
    }
    val sorted = keys.result()
    java.util.Arrays.sort(sorted)
    val distinct = sorted.indices.count(i => i == 0 || sorted(i) != sorted(i - 1)).toLong
    Expected(distinct + nMentions + nDocs, nDocs, nTokens, nOcc)
  }
}
