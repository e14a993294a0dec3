package graft.translate

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.KgContext
import graft.model._
import graft.model.Props.Props

/** The translation stage: raw adapter tuples -> typed KG entities.
  * (reference: biocypher/_translate.py:74-295.)
  *
  * Pure narrow transformations (`mapPartitions`-backed typed maps) over the
  * broadcast schema context: no shuffle is introduced here, so translation
  * pipelines with the upstream scan and the downstream dedup exchange.
  */
object Translate {

  final case class StrictModeViolation(msg: String) extends RuntimeException(msg)

  private val RequiredNodeProps = Seq("source", "licence", "version")

  /** Strict-mode normalization + checks (reference: _translate.py:95-107). */
  private def checkStrictNode(id: String, props: Props): Props = {
    val renamed = Props.get(props, "license") match {
      case Some(v) if !PV.isNone(v) =>
        Props.updated(Props.remove(props, "license"), "licence", v)
      case _ => props
    }
    RequiredNodeProps.foreach { p =>
      if (!Props.contains(renamed, p))
        throw StrictModeViolation(
          s"Property `$p` missing from node $id. Strict mode is enabled, so this is not allowed.")
    }
    renamed
  }

  /** Property whitelist/blacklist filter (reference: _translate.py:142-177).
    * Whitelisted-but-missing props are appended with a None value. */
  def filterProps(ctx: KgContext, cls: String, props: Props): Props = {
    val spec = ctx.specs(cls)
    var whitelist = spec.properties.keys.toVector
    if (ctx.config.strictMode && whitelist.nonEmpty)
      whitelist = (whitelist ++ RequiredNodeProps).distinct
    val exclude = spec.excludeProperties.toSet

    val filtered =
      if (whitelist.nonEmpty && exclude.nonEmpty)
        props.filter(p => whitelist.contains(p.k) && !exclude.contains(p.k))
      else if (whitelist.nonEmpty) props.filter(p => whitelist.contains(p.k))
      else if (exclude.nonEmpty) props.filterNot(p => exclude.contains(p.k))
      else return props

    val missing = whitelist.filterNot(k => filtered.exists(_.k == k))
    filtered ++ missing.map(k => Prop(k, PV.None_))
  }

  private def preferredId(ctx: KgContext, cls: String): String =
    ctx.specs.get(cls).map(_.preferredId).getOrElse("id")

  /** Translate node tuples; input labels with no schema class are dropped
    * (account for them with [[missingTypes]]). */
  def nodes(ds: Dataset[RawNode], bc: Broadcast[KgContext]): Dataset[KgNode] = {
    implicit val enc = ModelEncoders.kgNode
    ds.flatMap { rn =>
      val ctx = bc.value
      ctx.inputLabelToClass.get(rn.inputLabel) match {
        case Some(cls) =>
          val props0 = if (ctx.config.strictMode) checkStrictNode(rn.id, rn.props) else rn.props
          Some(KgNode.make(rn.id, cls, preferredId(ctx, cls), filterProps(ctx, cls, props0)))
        case None => None
      }
    }
  }

  /** Constant-folded Catalyst twin of [[nodes]] for a single-label,
    * constant-props id stream — the corpus-sized document branch of the KG
    * pipeline. Every output field except the id is label-constant, so the
    * 10⁷-row path becomes a pure codegen select (the same trick that fixed
    * the mention-edge typed-map churn in round 1; the typed flatMap here
    * allocated a RawNode + KgNode + Props vector per document — measured
    * as the dominant slice of the nodes stage at 16M docs).
    *
    * Parity by construction: the template row is produced by the SAME
    * Scala translation ([[KgNode.make]] + [[filterProps]]) running on a
    * driver-side placeholder id, so label/preferredId/prop ordering can
    * never diverge from the typed path; only the injected `id` property
    * (and the `id` column) are data-dependent, with Py.sanitize replicated
    * as a regexp_replace. Strict mode falls back to the typed path (it
    * must throw per offending row). */
  def constNodes(df: DataFrame, idCol: String, inputLabel: String,
      bc: Broadcast[KgContext]): Dataset[KgNode] = {
    import org.apache.spark.sql.functions._
    implicit val enc = ModelEncoders.kgNode
    val ctx = bc.value // driver-side resolution; nothing label-sized ships
    ctx.inputLabelToClass.get(inputLabel) match {
      case None => df.sparkSession.emptyDataset[KgNode]
      case Some(_) if ctx.config.strictMode =>
        val encS = org.apache.spark.sql.Encoders.STRING
        val encRaw = ModelEncoders.rawNode
        nodes(df.select(col(idCol)).as[String](encS)
          .map(id => RawNode(id, inputLabel, Props.empty))(encRaw), bc)
      case Some(cls) =>
        val placeholder = "\u0001__graft_const_id__"
        val tpl = KgNode.make(placeholder, cls, preferredId(ctx, cls),
          filterProps(ctx, cls, Props.empty))
        // Py.sanitize: "\r\n"→" ", then "\n"→" ", then "\r"→" " — the
        // ordered alternation replicates the sequential replaces exactly
        val sanitizedId = regexp_replace(col(idCol), "\r\n|\n|\r", " ")
        val propCols = tpl.props.map { p =>
          val vCol =
            if (p.v != null && p.v.s == Py.sanitize(placeholder))
              struct(sanitizedId.as("s"),
                lit(null).cast("array<string>").as("arr"), lit("str").as("t"))
            else
              struct(
                (if (p.v == null || p.v.s == null) lit(null).cast("string")
                 else lit(p.v.s)).as("s"),
                (if (p.v == null || p.v.arr == null) lit(null).cast("array<string>")
                 else array(p.v.arr.map(lit(_)): _*).cast("array<string>")).as("arr"),
                lit(if (p.v == null) "none" else p.v.t).as("t"))
          struct(lit(p.k).as("k"), vCol.as("v"))
        }
        df.select(
          col(idCol).cast("string").as("id"),
          lit(tpl.label).as("label"),
          (if (tpl.preferredId == null) lit(null).cast("string")
           else lit(tpl.preferredId)).as("preferredId"),
          array(propCols: _*).as("props")).as[KgNode]
    }
  }

  /** Translate edge tuples into edges or reified rel-as-node triplets
    * (reference: _translate.py:179-295). */
  def edges(ds: Dataset[RawEdge], bc: Broadcast[KgContext]): Dataset[Entity] = {
    implicit val enc = ModelEncoders.entity
    ds.flatMap { re =>
      val ctx = bc.value
      if (ctx.config.strictMode) {
        if (!Props.contains(re.props, "source"))
          throw StrictModeViolation(s"Edge ${Option(re.relId).getOrElse((re.src, re.tgt))} does not have a `source` property. This is required in strict mode.")
        if (!Props.contains(re.props, "licence"))
          throw StrictModeViolation(s"Edge ${Option(re.relId).getOrElse((re.src, re.tgt))} does not have a `licence` property. This is required in strict mode.")
      }
      ctx.inputLabelToClass.get(re.inputLabel) match {
        case None => None
        case Some(cls) =>
          val spec = ctx.specs(cls)
          val fp = filterProps(ctx, cls, re.props)
          if (spec.representedAs == "node") {
            val nodeId =
              if (re.relId != null && re.relId.nonEmpty) re.relId
              else re.src + "_" + re.tgt + "_" + fp.map(p => PV.pyStr(p.v)).mkString("_")
            // reference BioCypherNode defaults preferred_id to "id"
            val n = KgNode.make(nodeId, cls, "id", fp)
            val directed = Props.get(fp, "directed").exists(v => v.t == "bool" && v.s == "True")
            val srcRole = Props.get(fp, "src_role").filterNot(PV.isNone).map(_.s)
            val tarRole = Props.get(fp, "tar_role").filterNot(PV.isNone).map(_.s)
            val (l1, l2) =
              if (directed) ("IS_SOURCE_OF", "IS_TARGET_OF")
              else if (srcRole.isDefined && tarRole.isDefined) (srcRole.get, tarRole.get)
              else ("IS_PART_OF", "IS_PART_OF")
            val eS = KgEdge.make(null, re.src, nodeId, l1, Props.empty)
            val eT = KgEdge.make(null, re.tgt, nodeId, l2, Props.empty)
            Some(Entity(RelAsNode(n, eS, eT)))
          } else {
            val label = spec.labelAsEdge.getOrElse(cls)
            Some(Entity(KgEdge.make(re.relId, re.src, re.tgt, label, fp)))
          }
      }
    }
  }

  /** Input labels that have no schema class, with occurrence counts —
    * distributed replacement for the reference's mutable `notype` dict
    * (reference: _translate.py:297-309). */
  def missingNodeTypes(spark: SparkSession, ds: Dataset[RawNode], bc: Broadcast[KgContext]): DataFrame = {
    import org.apache.spark.sql.functions._
    val known = bc.value.inputLabelToClass.keySet
    val flt = udfFreeFilter(spark, ds.toDF(), "inputLabel", known)
    flt.groupBy("inputLabel").agg(count(lit(1)).as("n"))
  }

  def missingEdgeTypes(spark: SparkSession, ds: Dataset[RawEdge], bc: Broadcast[KgContext]): DataFrame = {
    import org.apache.spark.sql.functions._
    val known = bc.value.inputLabelToClass.keySet
    val flt = udfFreeFilter(spark, ds.toDF(), "inputLabel", known)
    flt.groupBy("inputLabel").agg(count(lit(1)).as("n"))
  }

  /** Anti-join against the (tiny, broadcast) known-label set without a UDF:
    * Catalyst folds the IN-list or broadcasts the dim side. */
  private def udfFreeFilter(spark: SparkSession, df: DataFrame, colName: String, known: Set[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (known.isEmpty) df
    else if (known.size <= 1000) df.filter(!col(colName).isin(known.toSeq: _*))
    else {
      import spark.implicits._
      val dim = known.toSeq.toDF(colName)
      df.join(broadcast(dim), Seq(colName), "left_anti")
    }
  }
}
