package graft.extract

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.spark.unsafe.Platform.{BYTE_ARRAY_OFFSET, getByte}
import org.apache.spark.unsafe.types.UTF8String

/** Aho-Corasick multi-pattern matcher over UTF-8 bytes.
  *
  * Built once on the driver from the ontology/schema surface-form dictionary
  * (SURVEY §7.2-7: the "adapter" stage of the web-scale graft) and broadcast
  * to executors; matching is O(text bytes), so a million-term dictionary
  * costs about the same per byte as ten terms.
  *
  * One flat layout for every dictionary size, built straight into arrays.
  * States are numbered in BFS order, so edge `e` leads to state `e + 1`.
  * The first [[AhoCorasick.DenseRows]] states (the root and the shallowest,
  * where most input bytes land) own a complete, failure-resolved 256-entry
  * goto row; deeper states keep sorted `edgeByte` slices and failure links.
  * A state's matches are a slice of one `Int` array.
  *
  * Every count takes one walk, [[countWholeWords]] over bytes: in place in
  * the Tungsten buffer, or over a `String`'s `getBytes(UTF_8)`, the bytes
  * `UTF8String.fromString` holds (an unpaired surrogate reads as '?'). Word
  * boundaries decode only the code points next to a match and keep the
  * UTF-16 semantics: a word char is a BMP letter or digit (a supplementary
  * code point is two surrogates, neither), and a malformed byte is none,
  * like the U+FFFD it decodes to.
  */
final class AhoCorasick private (
    val patterns: Array[String],
    patBytes: Array[Int], // UTF-8 length of each pattern
    edgeStart: Array[Int], // state s owns edges edgeStart(s) until edgeStart(s + 1)
    edgeByte: Array[Byte], // ascending within a state
    termStart: Array[Int], // build only: the patterns ending at state s are
    term: Array[Int], //      term(termStart(s) until termStart(s + 1))
) extends Serializable {

  private val nStates = edgeStart.length - 1
  private val nDense = math.min(nStates, AhoCorasick.DenseRows)
  private val dense = new Array[Int](nDense << 8)
  private val fail = new Array[Int](nStates)
  private val outStart = new Array[Int](nStates + 1) // s reports out(outStart(s) until outStart(s + 1))
  private val out: Array[Int] = link(termStart, term)

  /** Fills `fail`, the dense rows and `outStart` in BFS order and returns `out`:
    * `fail(s)` is shallower than `s`, so it is complete when `s` reads it. A
    * state reports the patterns ending there, then its failure state's. */
  private def link(termStart: Array[Int], term: Array[Int]): Array[Int] = {
    var outs = new Array[Int](16)
    var n = 0
    var s = 0
    while (s < nStates) {
      val f = fail(s)
      outStart(s) = n // before reading outStart(f + 1): f may be s - 1
      val own = termStart(s + 1) - termStart(s)
      val inherited = outStart(f + 1) - outStart(f) // 0 at the root
      if (n + own + inherited > outs.length) outs = java.util.Arrays.copyOf(outs, 2 * (n + own + inherited))
      System.arraycopy(term, termStart(s), outs, n, own)
      System.arraycopy(outs, outStart(f), outs, n + own, inherited)
      n += own + inherited
      if (s > 0 && s < nDense) System.arraycopy(dense, f << 8, dense, s << 8, 256)
      var e = edgeStart(s)
      while (e < edgeStart(s + 1)) {
        fail(e + 1) = if (s == 0) 0 else step(f, edgeByte(e))
        if (s < nDense) dense((s << 8) | (edgeByte(e) & 0xff)) = e + 1
        e += 1
      }
      s += 1
    }
    outStart(nStates) = n
    java.util.Arrays.copyOf(outs, n)
  }

  /** One row load at a dense state; below the dense rows, the state's
    * sorted edges, then its failure link. */
  private def step(from: Int, b: Byte): Int = {
    var s = from
    while (s >= nDense) {
      val e = java.util.Arrays.binarySearch(edgeByte, edgeStart(s), edgeStart(s + 1), b)
      if (e >= 0) return e + 1
      s = fail(s)
    }
    dense((s << 8) | (b & 0xff))
  }

  /** All matches as (UTF-16 start offset, pattern index), overlapping ones included. */
  def findAll(text: String): Iterator[(Int, Int)] = matches(text, wholeWords = false)

  /** Matches constrained to word boundaries: the char before and after the
    * match must be non-alphanumeric (or text edge). Equivalent to
    * `' '||text||' ' LIKE '% term %'` semantics on space-separated text. */
  def findWholeWords(text: String): Iterator[(Int, Int)] = matches(text, wholeWords = true)

  private def matches(text: String, wholeWords: Boolean): Iterator[(Int, Int)] = {
    val bytes = text.getBytes(UTF_8)
    val found = mutable.ArrayBuffer.empty[(Int, Int)]
    var s, i, chars = 0 // state, bytes read, UTF-16 units read
    while (i < bytes.length) {
      val b = bytes(i)
      s = step(s, b)
      i += 1
      if ((b & 0xc0) != 0x80) chars += (if ((b & 0xf8) == 0xf0) 2 else 1) // F0-F4 lead a surrogate pair
      var j = outStart(s)
      while (j < outStart(s + 1)) {
        val p = out(j)
        if (!wholeWords || wholeWord(bytes, BYTE_ARRAY_OFFSET, i - patBytes(p), i, bytes.length))
          found += ((chars - patterns(p).length, p))
        j += 1
      }
    }
    found.iterator
  }

  /** Whole-word match counting over the UTF-8 bytes `[off, off + len)` of
    * `base` (off-heap or on-heap), the one walk every count takes; it
    * allocates only to decode a non-ASCII char next to a match. For each
    * whole-word match of pattern `p`, `counts(key(p)) += 1`, recording
    * first-touched keys in `touched` (`counts` must be zeroed for them on
    * entry, as the callers' per-doc reset loop guarantees). The extraction's
    * `key` is [[MentionDict.rankOf]]. Returns the updated touched length.
    * With the identity key, the same counts as draining [[findWholeWords]]. */
  def countWholeWords(base: AnyRef, off: Long, len: Int, key: Array[Int],
      counts: Array[Long], touched: Array[Int], nTouched0: Int): Int = {
    var nTouched = nTouched0
    var s = 0
    var i = 0
    while (i < len) {
      s = step(s, getByte(base, off + i))
      i += 1
      var j = outStart(s)
      while (j < outStart(s + 1)) {
        val p = out(j)
        if (wholeWord(base, off, i - patBytes(p), i, len)) {
          val k = key(p)
          if (counts(k) == 0) { touched(nTouched) = k; nTouched += 1 }
          counts(k) += 1
        }
        j += 1
      }
    }
    nTouched
  }

  /** [[countWholeWords]] over a `String`, encoded once. */
  def countWholeWords(text: String, key: Array[Int], counts: Array[Long],
      touched: Array[Int], nTouched0: Int): Int = {
    val b = text.getBytes(UTF_8)
    countWholeWords(b, BYTE_ARRAY_OFFSET, b.length, key, counts, touched, nTouched0)
  }

  /** No word character touches bytes `[start, end)` of a `len`-byte text. */
  private def wholeWord(base: AnyRef, off: Long, start: Int, end: Int, len: Int): Boolean =
    (start == 0 || !wordBefore(base, off, start)) && (end == len || !wordAt(base, off, end, len))

  /** The code point that ends before byte `i` is a word character. */
  private def wordBefore(base: AnyRef, off: Long, i: Int): Boolean = {
    val b = getByte(base, off + i - 1)
    if (b >= 0) return isWordByte(b)
    var k = i - 1 // back to its lead byte: only a 2- or 3-byte code point is in the BMP
    while (k > 0 && i - k < 3 && (getByte(base, off + k) & 0xc0) == 0x80) k -= 1
    isWordChar(base, off, k, i)
  }

  /** The code point that starts at byte `i` is a word character. */
  private def wordAt(base: AnyRef, off: Long, i: Int, len: Int): Boolean = {
    val b = getByte(base, off + i)
    if (b >= 0) isWordByte(b)
    else isWordChar(base, off, i, math.min(len, i + (if ((b & 0xf0) == 0xe0) 3 else 2)))
  }

  /** Bytes `[from, to)` decode, as `UTF8String.toString` decodes them, to
    * one letter or digit char. A malformed byte decodes to U+FFFD and a
    * supplementary code point to two surrogates, none of them one. */
  private def isWordChar(base: AnyRef, off: Long, from: Int, to: Int): Boolean = {
    val s = UTF8String.fromAddress(base, off + from, to - from).toString
    s.length == 1 && Character.isLetterOrDigit(s.charAt(0))
  }

  @inline private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')
}

object AhoCorasick {

  /** The shallowest states that own a goto row (1 KB each): all of the analytics
    * dictionary's; depth ≤ 3 and part of 4 of `corpus_bigdict`'s. Extraction ran
    * alike from 1k to 4k rows, slower at 256 and at 16k or more. */
  private val DenseRows = 2048

  def build(patterns: Seq[String]): AhoCorasick = {
    val pats = patterns.toArray
    require(pats.forall(_.nonEmpty), "an empty pattern would match between any two non-word characters")
    val enc = pats.map(_.getBytes(UTF_8))
    // pattern indices in byte order: the patterns below a state are one run,
    // those ending there first, then one run per child in edge-byte order
    val order = pats.indices.toArray.sortWith((a, b) => java.util.Arrays.compare(enc(a), enc(b)) < 0)
    val edgeStart, termStart, term = new mutable.ArrayBuilder.ofInt
    val edgeByte = new mutable.ArrayBuilder.ofByte
    // level by level: the states at depth d are the runs lo(q) until hi(q)
    // of `order`, in state order, so each new edge's target is the next id
    var lo, hi, nextLo, nextHi = new Array[Int](math.max(1, pats.length))
    hi(0) = pats.length
    var nLevel = 1
    var d = 0
    while (nLevel > 0) {
      var nNext = 0
      var q = 0
      while (q < nLevel) {
        var k = lo(q)
        termStart += term.length
        while (k < hi(q) && enc(order(k)).length == d) { term += order(k); k += 1 }
        edgeStart += edgeByte.length
        while (k < hi(q)) {
          val b = enc(order(k))(d)
          nextLo(nNext) = k
          while (k < hi(q) && enc(order(k))(d) == b) k += 1
          nextHi(nNext) = k
          nNext += 1
          edgeByte += b
        }
        q += 1
      }
      val (l, h) = (lo, hi)
      lo = nextLo; hi = nextHi; nextLo = l; nextHi = h
      nLevel = nNext
      d += 1
    }
    edgeStart += edgeByte.length
    termStart += term.length
    new AhoCorasick(pats, enc.map(_.length), edgeStart.result(), edgeByte.result(),
      termStart.result(), term.result())
  }
}
