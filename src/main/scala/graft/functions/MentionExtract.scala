package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.extract.{MentionDict, Mentions}

/** Codegen'd mention extraction over a document's two PARALLEL span arrays
  * `spans.kind` / `spans.text`: for each document row returns the PACKED
  * MENTION SET `array<long>` with one element `(rank << 32) | n` per
  * distinct matched entity (entity rank, [[MentionDict.rankOf]]: several
  * surface aliases of one curie pack as ONE element with their counts
  * summed; per-doc occurrence count, first-touch order).
  *
  * This is the zero-allocation scale path for the adapter stage: the
  * Aho-Corasick walk runs directly over the span text's UTF8 bytes inside
  * the Tungsten buffer (`Platform.getByte` — no `Doc`/`Span`/`String`
  * materialization, no encoder round-trip), which removes the object-churn
  * share of extraction that binds memory bandwidth at high core counts.
  * Every span takes that walk, ASCII or not, as [[Mentions.detectPerDoc]] does.
  *
  * Each input is a plain `GetArrayStructFields` extraction, so Catalyst's
  * nested schema pruning narrows the parquet ReadSchema to exactly those
  * two nested fields — the scan never decodes `media_ref`/`offset`. A null
  * struct element yields null entries in both arrays and is skipped.
  *
  * One output ROW PER DOCUMENT (pre-explode): doc boundaries are row
  * boundaries, so downstream per-doc logic ([[graft.extract.CoocCombine]])
  * needs no run-contiguity contract, and the cached working set pays the
  * doc_id string once per document instead of once per mention.
  */
case class ExtractMentionsKT(kinds: Expression, texts: Expression,
    bcDict: Broadcast[MentionDict])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = kinds
  override def right: Expression = texts
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val helper = new MentionExtractor(bcDict)

  override protected def nullSafeEval(k: Any, t: Any): Any =
    helper.extractKT(k.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k, t) => {
      val h = ctx.addReferenceObj("mentionExtractorKT", helper,
        classOf[MentionExtractor].getName)
      s"${ev.value} = $h.extractKT($k, $t);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ExtractMentionsKT =
    copy(kinds = newLeft, texts = newRight)
}

/** The executor-side worker behind [[ExtractMentionsKT]] (shipped inside
  * the codegen references array; one instance per plan, thread-safe via
  * per-thread scratch buffers sized to the dictionary's entity count). */
final class MentionExtractor(bcDict: Broadcast[MentionDict]) extends Serializable {

  @transient private lazy val TEXT = UTF8String.fromString("text")

  private final class Scratch {
    val counts = new Array[Long](bcDict.value.byRank.length)
    val touched = new Array[Int](bcDict.value.byRank.length)
  }
  @transient private lazy val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** Trie-count every `text` span of one document, then pack and clamp:
    * a null struct element surfaces as null entries in BOTH arrays, so the
    * per-entry null checks cover it. */
  def extractKT(kinds: ArrayData, texts: ArrayData): ArrayData = {
    val dict = bcDict.value
    val sc = scratch.get()
    val counts = sc.counts
    val touched = sc.touched
    var nTouched = 0
    val n = kinds.numElements()
    var si = 0
    while (si < n) {
      if (!kinds.isNullAt(si) && !texts.isNullAt(si) &&
          kinds.getUTF8String(si).equals(TEXT)) {
        val t = texts.getUTF8String(si)
        nTouched = dict.trie.countWholeWords(t.getBaseObject, t.getBaseOffset,
          t.numBytes, dict.rankOf, counts, touched, nTouched)
      }
      si += 1
    }
    val out = new Array[Long](nTouched)
    var i = 0
    while (i < nTouched) {
      val r = touched(i)
      val c = counts(r)
      // saturate at Mentions.MaxOccurrencesPerDoc — the 32-bit count half of
      // the packed long; the string path clamps identically
      out(i) = (r.toLong << 32) |
        (if (c > graft.extract.Mentions.MaxOccurrencesPerDoc)
           graft.extract.Mentions.MaxOccurrencesPerDoc else c)
      counts(r) = 0
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Codegen'd rank -> curie decode through the broadcast dictionary: ranks
  * are dense (`0 until |entities|`), so the decode is one array index per row
  * into [[MentionDict.curieByRank]], with no hash probe and no
  * dictionary-sized table in the plan. The child is an int rank; a null
  * rank gives null. Every rank the pipeline decodes comes from
  * [[ExtractMentionsKT]], so an out-of-range rank is a broken contract: it
  * raises, naming the rank and the entity count. */
case class RankCurie(child: Expression, bcDict: Broadcast[MentionDict])
    extends UnaryExpression {

  override def dataType: DataType = StringType

  @transient private lazy val helper = new RankCurieLookup(bcDict)

  override protected def nullSafeEval(input: Any): Any =
    helper.curie(input.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val h = ctx.addReferenceObj("rankCurie", helper, classOf[RankCurieLookup].getName)
      s"${ev.value} = $h.curie($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): RankCurie =
    copy(child = newChild)
}

/** The executor-side worker behind [[RankCurie]]: holds only the broadcast
  * handle; the curie array is the dictionary's own per-executor lazy val. */
final class RankCurieLookup(bcDict: Broadcast[MentionDict]) extends Serializable {

  @transient private lazy val curies = bcDict.value.curieByRank

  def curie(rank: Int): UTF8String = {
    val cs = curies
    if (rank < 0 || rank >= cs.length)
      throw new IllegalArgumentException(
        s"rank $rank is outside a dictionary of ${cs.length} entries")
    cs(rank)
  }
}
