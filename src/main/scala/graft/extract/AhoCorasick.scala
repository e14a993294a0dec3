package graft.extract

import scala.collection.mutable

/** Aho-Corasick multi-pattern string matcher.
  *
  * Built once on the driver from the ontology/schema surface-form dictionary
  * (SURVEY §7.2-7: the "adapter" stage of the web-scale graft) and broadcast
  * to executors; matching inside `mapPartitions` is O(text length), so a
  * million-term dictionary costs the same per byte as ten terms.
  *
  * When every pattern char is ASCII (<128) AND the trie is small enough
  * (state count <= [[AhoCorasick.DenseMaxStates]], ~100 MB of table) the
  * automaton is a DENSE complete goto table (`nStates x 128` ints): one
  * array load per input char, no hash probe, no failure-chain walk in the
  * hot loop (a char >= 128 can then appear in no pattern, so it provably
  * resets to the root). Exactly one representation is kept: when dense is
  * built the sparse trans/fail structures are dropped (not serialized), so
  * the broadcast pays for one automaton, never both; million-term
  * dictionaries (nStates > the cap) keep the sparse per-state hash tables
  * with explicit failure links and skip the dense fill entirely — a 1M-state
  * dense table would be a ~0.5 GB broadcast. Either way
  * [[countWholeWords]] allocates nothing per call.
  */
final class AhoCorasick private (
    private val dense: Array[Int], // complete goto, nStates*128 (null unless ASCII-only)
    private val trans: Array[mutable.HashMap[Char, Int]],
    private val fail: Array[Int],
    private val out: Array[Array[Int]], // pattern indices ending at this state
    val patterns: Array[String],
) extends Serializable {

  @inline private def step(s: Int, c: Char): Int =
    if (dense != null) {
      if (c < 128) dense((s << 7) | c) else 0
    } else {
      var f = s
      while (f != 0 && !trans(f).contains(c)) f = fail(f)
      trans(f).getOrElse(c, 0)
    }

  /** All matches as (startOffset, patternIndex); overlapping included. */
  def findAll(text: String): Iterator[(Int, Int)] = new Iterator[(Int, Int)] {
    private var i = 0
    private var state = 0
    private var pending: Array[Int] = Array.emptyIntArray
    private var pi = 0
    private var pos = 0
    private def advance(): Unit = {
      while (pi >= pending.length && i < text.length) {
        state = step(state, text.charAt(i))
        i += 1
        pos = i
        pending = out(state)
        pi = 0
      }
    }
    def hasNext: Boolean = { advance(); pi < pending.length }
    def next(): (Int, Int) = {
      advance()
      val p = pending(pi)
      pi += 1
      (pos - patterns(p).length, p)
    }
  }

  /** Matches constrained to word boundaries: the char before and after the
    * match must be non-alphanumeric (or text edge). Equivalent to
    * `' '||text||' ' LIKE '% term %'` semantics on space-separated text. */
  def findWholeWords(text: String): Iterator[(Int, Int)] =
    findAll(text).filter { case (start, p) =>
      val end = start + patterns(p).length
      (start == 0 || !Character.isLetterOrDigit(text.charAt(start - 1))) &&
      (end == text.length || !Character.isLetterOrDigit(text.charAt(end)))
    }

  /** Zero-allocation whole-word match counting for the extraction hot path:
    * for each whole-word match of pattern `p`, `counts(key(p)) += 1`,
    * recording first-touched keys in `touched` (`counts` must be zeroed for
    * them on entry, as the callers' per-doc reset loop guarantees). The
    * extraction's `key` is [[MentionDict.rankOf]]. Returns the updated
    * touched length. With the identity key, semantically identical to
    * draining [[findWholeWords]] — the shared specs assert equality. */
  def countWholeWords(text: String, key: Array[Int], counts: Array[Long],
      touched: Array[Int], nTouched0: Int): Int = {
    var nTouched = nTouched0
    var state = 0
    var i = 0
    val n = text.length
    while (i < n) {
      state = step(state, text.charAt(i))
      i += 1
      val os = out(state)
      var j = 0
      while (j < os.length) {
        val p = os(j)
        val start = i - patterns(p).length
        if ((start == 0 || !Character.isLetterOrDigit(text.charAt(start - 1))) &&
            (i == n || !Character.isLetterOrDigit(text.charAt(i)))) {
          val k = key(p)
          if (counts(k) == 0) { touched(nTouched) = k; nTouched += 1 }
          counts(k) += 1
        }
        j += 1
      }
    }
    nTouched
  }

  /** True when the automaton has the dense ASCII goto table — the
    * precondition for [[countWholeWordsAscii]]. */
  def isAsciiDense: Boolean = dense != null

  /** [[countWholeWords]] walking raw ASCII bytes in place (off-heap or
    * on-heap via `Platform`), for the codegen'd extraction expression: zero
    * copy out of the Tungsten buffer, no String/char[] materialization.
    * PRECONDITIONS (checked by the caller): [[isAsciiDense]], and every
    * byte in [off, off+len) is < 0x80 — then byte positions == char
    * positions and ASCII `[A-Za-z0-9]` == `Character.isLetterOrDigit`,
    * so results are identical to the String walk (spec-asserted). */
  def countWholeWordsAscii(base: AnyRef, off: Long, len: Int, key: Array[Int],
      counts: Array[Long], touched: Array[Int], nTouched0: Int): Int = {
    import org.apache.spark.unsafe.Platform
    var nTouched = nTouched0
    var state = 0
    var i = 0
    while (i < len) {
      state = dense((state << 7) | Platform.getByte(base, off + i))
      i += 1
      val os = out(state)
      var j = 0
      while (j < os.length) {
        val p = os(j)
        val start = i - patterns(p).length
        if ((start == 0 || !isWordByte(Platform.getByte(base, off + start - 1))) &&
            (i == len || !isWordByte(Platform.getByte(base, off + i)))) {
          val k = key(p)
          if (counts(k) == 0) { touched(nTouched) = k; nTouched += 1 }
          counts(k) += 1
        }
        j += 1
      }
    }
    nTouched
  }

  @inline private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')
}

object AhoCorasick {

  def build(patterns: Seq[String]): AhoCorasick = {
    val pats = patterns.toArray
    val next = mutable.ArrayBuffer(mutable.HashMap.empty[Char, Int])
    val outB = mutable.ArrayBuffer(List.empty[Int])
    // trie
    pats.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      p.foreach { c =>
        s = next(s).getOrElseUpdate(c, {
          next += mutable.HashMap.empty[Char, Int]
          outB += Nil
          next.length - 1
        })
      }
      outB(s) = pi :: outB(s)
    }
    // failure links (BFS; bfsOrder retained for the dense-table fill below)
    val fail = Array.fill(next.length)(0)
    val queue = mutable.Queue[Int]()
    val bfsOrder = mutable.ArrayBuffer[Int]()
    next(0).values.foreach(queue.enqueue(_))
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      bfsOrder += s
      next(s).foreach { case (c, t) =>
        var f = fail(s)
        while (f != 0 && !next(f).contains(c)) f = fail(f)
        fail(t) = if (next(f).contains(c) && next(f)(c) != t) next(f)(c) else 0
        outB(t) = outB(t) ++ outB(fail(t))
        queue.enqueue(t)
      }
    }
    // dense complete-goto fill: delta(s,c) = goto(s,c) orElse delta(fail(s),c).
    // BFS order is nondecreasing in depth and fail(s) is strictly shallower
    // than s, so every fail row is complete before its dependents read it.
    // Gated on state count: beyond DenseMaxStates the 512 B/state table
    // stops being "compact" (1M states ~ 0.5 GB) and the sparse automaton
    // is the scalable representation.
    val asciiOnly = pats.forall(_.forall(_ < 128)) && next.length <= DenseMaxStates
    val dense: Array[Int] =
      if (!asciiOnly) null
      else {
        val d = new Array[Int](next.length << 7)
        var c = 0
        while (c < 128) { d(c) = next(0).getOrElse(c.toChar, 0); c += 1 }
        bfsOrder.foreach { s =>
          val base = s << 7
          val failBase = fail(s) << 7
          var ch = 0
          while (ch < 128) {
            d(base | ch) = next(s).getOrElse(ch.toChar, d(failBase | ch))
            ch += 1
          }
        }
        d
      }
    // Keep exactly one representation: the dense table subsumes trans/fail
    // (step() never touches them when dense != null), so drop them from the
    // broadcast payload rather than shipping both automata.
    val (transOut, failOut) =
      if (dense != null) (null: Array[mutable.HashMap[Char, Int]], null: Array[Int])
      else (next.toArray, fail)
    new AhoCorasick(dense, transOut, failOut, outB.map(_.toArray).toArray, pats)
  }

  /** Max trie states for the dense ASCII goto table (512 bytes/state →
    * ~100 MB at the cap). Larger dictionaries use the sparse automaton. */
  val DenseMaxStates: Int = 200000
}
