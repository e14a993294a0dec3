package graft.model

/** Core data model of the KG-construction engine.
  *
  * Semantics derive from the reference's handoff dataclasses
  * (reference: biocypher/_create.py:22-222) re-expressed as Spark-encodable
  * case classes. Property values are carried in a closed, columnar-friendly
  * representation: every scalar is normalized to its Python-`str()` string
  * form at ingestion (the only form the bulk-import sinks ever need), plus a
  * type tag used by the sinks' type dispatch
  * (reference: output/write/_batch_writer.py:621-649).
  *
  * Properties are an ordered `Seq[Prop]` (not a Map): the reference relies
  * on dict insertion order for CSV column order and synthetic reified-node
  * ids (e.g. `G15258_G16347_True_-1`, test_translate.py:125).
  */

/** One span of an interleaved text+media document (driver `input_hint`). */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** An interleaved text+media document — the web-scale pipeline input. */
final case class Doc(doc_id: String, spans: Seq[Span])

/** A property value: scalar (`s` set) or string-array (`arr` set), with a
  * Python-style type tag `t` ∈ {str,int,float,bool,list,none}. Scalars are
  * pre-rendered with `Py.str` so downstream rendering is type-dispatch only.
  */
final case class PV(s: String, arr: Seq[String], t: String)

object PV {
  val None_ : PV = PV(null, null, "none")
  def str(v: String): PV = if (v == null) None_ else PV(Py.sanitize(v), null, "str")
  def int(v: Long): PV = PV(v.toString, null, "int")
  def dbl(v: Double): PV = PV(Py.repr(v), null, "float")
  def bool(v: Boolean): PV = PV(if (v) "True" else "False", null, "bool")
  def arr(v: Seq[String]): PV =
    if (v == null) None_ else PV(null, v.map(Py.sanitize), "list")
  def isNone(p: PV): Boolean = p == null || p.t == "none"
  /** Python str() of the value (arrays render like python lists of str). */
  def pyStr(p: PV): String =
    if (isNone(p)) "None"
    else if (p.t == "list") p.arr.map(e => s"'$e'").mkString("[", ", ", "]")
    else p.s
}

/** An ordered (key, value) property entry. */
final case class Prop(k: String, v: PV)

object Props {
  type Props = Seq[Prop]
  val empty: Props = Vector.empty
  def of(kvs: (String, PV)*): Props = kvs.map { case (k, v) => Prop(k, v) }.toVector
  def get(ps: Props, k: String): Option[PV] = ps.find(_.k == k).map(_.v)
  def contains(ps: Props, k: String): Boolean = ps.exists(_.k == k)
  /** dict-style upsert: replace in place if the key exists, else append. */
  def updated(ps: Props, k: String, v: PV): Props =
    if (contains(ps, k)) ps.map(p => if (p.k == k) Prop(k, v) else p)
    else ps :+ Prop(k, v)
  def remove(ps: Props, k: String): Props = ps.filterNot(_.k == k)
  def keys(ps: Props): Seq[String] = ps.map(_.k)
}

import Props.Props

/** Raw adapter node tuple `(id, input_label, props)`
  * (reference: biocypher/_core.py:421-444). */
final case class RawNode(id: String, inputLabel: String, props: Props)

/** Raw adapter edge tuple `(rel_id, src, tgt, input_label, props)`; 4-tuples
  * without id are upcast with relId = null
  * (reference: biocypher/_translate.py:203-205). */
final case class RawEdge(relId: String, src: String, tgt: String, inputLabel: String, props: Props)

/** Translated node (reference: BioCypherNode, _create.py:22-102). The `id`
  * and `preferred_id` props are injected at construction; `:TYPE` is a
  * reserved key and dropped; strings are newline/CR-sanitized by PV.
  */
final case class KgNode(id: String, label: String, preferredId: String, props: Props)

object KgNode {
  def make(id: String, label: String, preferredId: String, props: Props): KgNode = {
    var p = props.filterNot(_.k == ":TYPE")
    p = Props.updated(p, "id", PV.str(id))
    p = Props.updated(p, "preferred_id",
      if (preferredId == null || preferredId.isEmpty) PV.None_ else PV.str(preferredId))
    KgNode(id, label, preferredId, p)
  }
}

/** Translated edge (reference: BioCypherEdge, _create.py:165-222). Reserved
  * keys `:TYPE`/`id`/`_ID`: only the FIRST present key is dropped (the
  * reference's checks are elif-chained). Dedup identity when relId is null
  * is `src_tgt` (reference: _deduplicate.py:67-71).
  */
final case class KgEdge(relId: String, src: String, tgt: String, label: String, props: Props)

object KgEdge {
  def make(relId: String, src: String, tgt: String, label: String, props: Props): KgEdge = {
    val p =
      if (Props.contains(props, ":TYPE")) Props.remove(props, ":TYPE")
      else if (Props.contains(props, "id")) Props.remove(props, "id")
      else if (Props.contains(props, "_ID")) Props.remove(props, "_ID")
      else props
    KgEdge(relId, src, tgt, label, p)
  }
  def dedupKey(e: KgEdge): String =
    if (e.relId != null && e.relId.nonEmpty) e.relId else s"${e.src}_${e.tgt}"
}

/** Reified relationship: one node plus IS_SOURCE_OF / IS_TARGET_OF (or
  * role / IS_PART_OF) edges (reference: BioCypherRelAsNode,
  * _create.py:298-346; produced by _translate.py:231-276).
  */
final case class RelAsNode(node: KgNode, sourceEdge: KgEdge, targetEdge: KgEdge)

/** Union row for a translated entity stream (exactly one field set). */
final case class Entity(node: KgNode, edge: KgEdge, rel: RelAsNode)

object Entity {
  def apply(n: KgNode): Entity = Entity(n, null, null)
  def apply(e: KgEdge): Entity = Entity(null, e, null)
  def apply(r: RelAsNode): Entity = Entity(null, null, r)
}

/** A (subject, predicate, object) triple — the judged output table. */
final case class Triple(subj: String, pred: String, obj: String)

/** Python-compatible scalar rendering. The golden CSV formats embed
  * Python `str()` output (e.g. `4.0` for float 4, `True` for bool), so the
  * engine renders scalars with the same rules. */
object Py {
  /** Newline/CR scrub applied to all string properties
    * (reference: _create.py:73-102). */
  def sanitize(v: String): String =
    if (v == null) null else v.replace("\r\n", " ").replace("\n", " ").replace("\r", " ")

  /** Python `str()`/`repr()` of a double: shortest round-trip decimal;
    * scientific notation iff the decimal exponent >= 17 or < -4, rendered
    * as `1e+17` / `1.5e-05` (two-digit, signed exponent). Integral values
    * in plain range render with a trailing `.0`.
    */
  def repr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d == Double.PositiveInfinity) return "inf"
    if (d == Double.NegativeInfinity) return "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val s = java.lang.Double.toString(math.abs(d)) // shortest round-trip, may use E
    // decompose into digits + decimal exponent: value = 0.D1D2... * 10^exp10
    val (digits, exp10) = {
      val (mant, e) = s.indexOf('E') match {
        case -1 => (s, 0)
        case i  => (s.substring(0, i), s.substring(i + 1).toInt)
      }
      val dot = mant.indexOf('.')
      val raw = mant.replace(".", "")
      val lead = raw.indexWhere(_ != '0')
      val dg = raw.substring(lead).reverse.dropWhile(_ == '0').reverse
      (if (dg.isEmpty) "0" else dg, e + dot - lead)
    }
    val sign = if (neg) "-" else ""
    if (exp10 > 16 || exp10 < -3) {
      val e = exp10 - 1
      val mant =
        if (digits.length == 1) digits
        else digits.substring(0, 1) + "." + digits.substring(1)
      val esign = if (e < 0) "-" else "+"
      val eabs = math.abs(e)
      val epad = if (eabs < 10) s"0$eabs" else eabs.toString
      s"$sign${mant}e$esign$epad"
    } else if (exp10 >= digits.length) {
      s"$sign$digits${"0" * (exp10 - digits.length)}.0"
    } else if (exp10 > 0) {
      s"$sign${digits.substring(0, exp10)}.${digits.substring(exp10)}"
    } else {
      s"${sign}0.${"0" * (-exp10)}$digits"
    }
  }
}

/** The model's product encoders, each derived once: `Encoders.product`
  * walks its type by Scala reflection on every call, which every typed
  * operator of a write call or a fused plan build would otherwise pay. */
object ModelEncoders {
  import org.apache.spark.sql.{Encoder, Encoders}
  val rawNode: Encoder[RawNode] = Encoders.product[RawNode]
  val rawEdge: Encoder[RawEdge] = Encoders.product[RawEdge]
  val kgNode: Encoder[KgNode] = Encoders.product[KgNode]
  val kgEdge: Encoder[KgEdge] = Encoders.product[KgEdge]
  val relAsNode: Encoder[RelAsNode] = Encoders.product[RelAsNode]
  val entity: Encoder[Entity] = Encoders.product[Entity]
  val triple: Encoder[Triple] = Encoders.product[Triple]
}
