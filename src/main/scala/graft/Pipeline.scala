package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.AnalyticsDomain
import graft.extract.{DocMention, MentionDict, Mentions}
import graft.model._
import graft.model.Props.Props
import graft.translate.Translate

/** End-to-end KG construction over an interleaved document corpus
  * (the north-star pipeline): docs -> mention detection + entity linking
  * (broadcast Aho-Corasick, aggregated per doc in the same narrow pass) ->
  * schema/ontology translation -> dedup -> triples + node/edge tables.
  *
  * Scale discipline:
  *  - mention detection emits ONE thin row per (doc, entity) — per-doc
  *    aggregation happens inside the flatMap, no shuffle;
  *  - every distinct/dedup runs over FLAT string/long columns with
  *    map-side partial aggregation (fat rows with array<struct> props
  *    would force ObjectHashAggregate's sort-based fallback — measured
  *    15x slower at 300k docs); the fused path aggregates ints only;
  *  - property bags are attached AFTER the shuffles, in narrow maps;
  *  - the dictionary/ontology side is broadcast, never shuffled;
  *  - a run's working set (the extraction output every consumer reads)
  *    sits behind ONE [[Barrier]]: extracted once, and its blocks freed
  *    once the returned datasets are unreachable — nothing to release.
  * Total shuffle exchanges per run: on the string path ([[run]]) the
  * entity distinct and the co-occurrence aggregate, both over thin rows
  * (doc ids are run-distinct, no shuffle); on the fused triple table
  * ([[triplesFromSets]]) ONE, the key-block exchange, which carries
  * (map tasks × partitions) sorted `long[]` blocks rather than rows.
  */
final class KgPipeline(
    spark: SparkSession,
    ctx: KgContext,
    dict: MentionDict,
) extends Serializable {

  @transient private[graft] val ctxRef = ctx
  val bcCtx = spark.sparkContext.broadcast(ctx)
  val bcDict = spark.sparkContext.broadcast(dict)

  import spark.implicits._
  import org.apache.spark.sql.GraftColumnBridge.{column => exprCol, expression => colExpr}

  /** Per-(doc, entity) mentions — the pipeline's working set. */
  def docMentions(docs: Dataset[Doc]): Dataset[DocMention] =
    Mentions.detectPerDoc(docs, bcDict)

  /** The curie of an int `rank` column: a projection through the broadcast
    * dictionary ([[graft.functions.RankCurie]], one array index per row).
    * Why not a join: a driver-built (rank, curie) table is a LocalRelation
    * whose rows every analyzer and optimizer rule re-walks on every query,
    * so a plan must not hold data of dictionary size. */
  private def curieOf(rank: org.apache.spark.sql.Column) =
    exprCol(graft.functions.RankCurie(colExpr(rank), bcDict))

  /** Entity + document nodes, translated and globally deduped. The big
    * distincts run on thin string columns; fat property rows are built
    * only for the (small) distinct survivors. */
  def nodes(dm: Dataset[DocMention]): Dataset[KgNode] =
    // ONE node per curie even when several surface aliases link to the same
    // entity (reference global id uniqueness, _deduplicate.py:44-51): every
    // row of a curie carries its canonical (cls, surface), MentionDict.byRank
    nodesFrom(dm.select(col("curie"), col("cls"), col("surface")).distinct(),
      Mentions.distinctDocIds(dm))

  /** (curie, cls, surface) rows for a one-int-column frame of DISTINCT
    * entity `rank`s: each rank decodes to its canonical dictionary entry
    * through the broadcast dictionary — shared by the fused node and
    * triples paths. */
  private def entityThinFromRanks(ranks: DataFrame): DataFrame = {
    val bd = bcDict
    ranks.as[Int]
      .map { r => val e = bd.value.byRank(r); (e.curie, e.cls, e.surface) }(KgPipeline.Thin)
      .toDF("curie", "cls", "surface")
  }

  /** Translated entity nodes for (curie, cls, surface) winner rows. */
  private def entityNodes(entityThin: DataFrame): Dataset[KgNode] =
    Translate.nodes(entityThin
      .as(KgPipeline.Thin)
      .map { case (curie, cls, surface) =>
        RawNode(curie, cls, Props.of("name" -> PV.str(surface)))
      }(ModelEncoders.rawNode), bcCtx)

  private def nodesFrom(entityThin: DataFrame, docIds: Dataset[String]): Dataset[KgNode] = {
    // global cross-label id dedup (reference semantics): both branches are
    // already distinct, so only the cross-branch overlap needs removing —
    // a thin broadcast anti-join (entity ids are few), NOT a fat-row
    // dropDuplicates. Doc ids come run-distinct from the extraction pass
    // (contiguity invariant) — zero shuffle instead of a corpus-sized
    // distinct exchange. The corpus-sized doc branch translates through
    // the constant-folded Catalyst path (every field but the id is
    // label-constant; the typed flatMap allocated 3 objects per document).
    val docFiltered = docIds.toDF("doc_id")
      .join(broadcast(entityThin.select(col("curie").as("doc_id"))), Seq("doc_id"), "left_anti")
    entityNodes(entityThin)
      .union(Translate.constNodes(docFiltered, "doc_id", "document", bcCtx))
  }

  /** The edge label an input label translates to (its class's
    * `label_as_edge`, else the class name): a driver-side constant. */
  private def edgeLabel(inputLabel: String): String = {
    val cls = ctxRef.inputLabelToClass(inputLabel)
    ctxRef.specs(cls).labelAsEdge.getOrElse(cls)
  }

  /** One property bag column `[(k, (s, arr, t))]` built in Catalyst. */
  private def propsCol(entries: (String, org.apache.spark.sql.Column, String)*) =
    array(entries.map { case (k, v, t) =>
      struct(lit(k).as("k"),
        struct(v.cast("string").as("s"),
          lit(null).cast("array<string>").as("arr"),
          lit(t).as("t")).as("v"))
    }: _*)

  /** MENTIONS edges (doc -> entity). Already distinct per (doc, entity) by
    * construction — no dedup shuffle. The label translation is resolved on
    * the driver (input label -> class -> label_as_edge) and constant-folded
    * into a pure Catalyst select: the 10^7-row hot path never round-trips
    * through JVM objects (measured: the typed-map variant allocated ~10GB/s
    * and drowned in kernel time at 32 threads). */
  def mentionEdges(dm: Dataset[DocMention]): Dataset[KgEdge] =
    dm.select(
      lit(null).cast("string").as("relId"),
      col("doc_id").as("src"),
      col("curie").as("tgt"),
      lit(edgeLabel("mentions")).as("label"),
      propsCol(("n", col("n"), "int")).as("props"),
    ).as(ModelEncoders.kgEdge)

  /** Co-occurrence edges derived from the (barriered) DocMention table —
    * no second corpus scan / trie pass; see
    * [[Mentions.cooccurrencePairsFromDocMentions]] for the contiguity
    * contract. This is the path [[run]] uses: one extraction pass feeds
    * nodes, mention edges AND co-occurrence pairs. */
  def cooccurrenceEdgesFrom(dm: Dataset[DocMention]): Dataset[KgEdge] =
    Mentions.cooccurrencePairsFromDocMentions(dm).select(
      lit(null).cast("string").as("relId"),
      col("src"),
      col("tgt"),
      lit(edgeLabel("cooccurs")).as("label"),
      propsCol(("n_docs", col("n_docs"), "int")).as("props"),
    ).as(ModelEncoders.kgEdge)

  /** The string path's edge set: MENTIONS plus COOCCURS_WITH, both from
    * the one extraction pass in `dm`. */
  def edges(dm: Dataset[DocMention]): Dataset[KgEdge] =
    mentionEdges(dm).union(cooccurrenceEdgesFrom(dm))

  /** Tiny label -> head-ancestor-type map, folded into triple plans as a
    * literal. */
  @transient private lazy val labelTypeMap: Map[String, String] =
    ctxRef.specs.keys.map { k =>
      k -> ctxRef.ancestors.get(k).flatMap(_.headOption)
        .getOrElse(graft.model.Naming.nameSentenceToPascal(k))
    }.toMap

  /** The judged (subj, pred, obj) table: rdf:type triples for every node +
    * one triple per edge. */
  def triples(nodes: Dataset[KgNode], edges: Dataset[KgEdge]): Dataset[Triple] = {
    val typeMap = typedLit(labelTypeMap)
    val typeTriples = nodes.select(
      col("id").as("subj"),
      lit("rdf:type").as("pred"),
      coalesce(element_at(typeMap, col("label")), col("label")).as("obj"),
    ).as(ModelEncoders.triple)
    val edgeTriples = edges.select(
      col("src").as("subj"), col("label").as("pred"), col("tgt").as("obj")).as(ModelEncoders.triple)
    typeTriples.union(edgeTriples)
  }

  /** Full run: (nodes, mention+cooc edges, triples). The extraction output
    * sits behind a [[Barrier]] and feeds every downstream consumer — the
    * corpus is scanned (and the trie run) exactly ONCE per run, and its
    * blocks are freed once the returned datasets are unreachable. */
  def run(docs: Dataset[Doc]): (Dataset[KgNode], Dataset[KgEdge], Dataset[Triple]) = {
    val dm = Barrier(docMentions(docs))
    val ns = nodes(dm)
    val es = edges(dm)
    (ns, es, triples(ns, es))
  }

  // ---- fused mention-set path (the production scale path) -------------------

  /** The FUSED working set: one row per document with >= 1 mention,
    * `(doc_id, pm: array<long>)`, each element `(rank << 32) | n` — built by
    * the codegen'd [[graft.functions.ExtractMentionsKT]] walking span bytes in
    * place (no Doc/Span/String materialization, no encoder round trip).
    * Versus the row-per-mention working set this pays the doc_id string once
    * per DOCUMENT (~4x less cache traffic at ~14 mentions/doc), doc ids are
    * distinct by construction (no run-distinct pass), and per-doc consumers
    * need no run-contiguity contract — each row IS a document. */
  def mentionSets(docs: Dataset[Doc]): DataFrame = {
    // kind/text as parallel GetArrayStructFields extractions: nested schema
    // pruning narrows the parquet ReadSchema to spans.{kind,text} — the
    // scan never decodes media_ref/offset (a whole-struct `spans` input
    // reads all four nested columns)
    val extract = exprCol(graft.functions.ExtractMentionsKT(
      colExpr(col("spans.kind")), colExpr(col("spans.text")), bcDict))
    // explode(array(e)) is a pushdown barrier, not a transformation: a bare
    // `select(e as pm).where(size(pm) > 0)` lets PushPredicateThroughNonJoin
    // inline the expression into the filter UNDER the projection, and
    // whole-stage codegen shares no subexpressions across Filter/Project —
    // the trie walk ran TWICE per document (measured +2-3s at 16M docs /
    // 16 cores; BASELINE.md). The Generate evaluates it once and the
    // filter reads the generated column.
    docs.toDF().select(col("doc_id"), explode(array(extract)).as("pm"))
      .where(size(col("pm")) > 0)
  }

  /** [[nodes]] over the mention-set table: the corpus-sized rank distinct
    * runs as a dictionary-bounded per-partition set collector
    * ([[graft.extract.CoocCombine.partialRankSets]] — no explode of the
    * corpus mention stream, no per-mention hash probe) plus one small
    * distinct; doc ids are one-per-row already. */
  def nodesFromSets(ms: DataFrame): Dataset[KgNode] =
    nodesFrom(
      entityThinFromRanks(graft.extract.CoocCombine.partialRankSets(
        ms.select(col("pm")).as[Array[Long]], bcDict).distinct().toDF("rank")),
      ms.select(col("doc_id")).as[String])

  /** [[mentionEdges]] over the mention-set table: explode + a projection
    * through the broadcast dictionary, all codegen. */
  def mentionEdgesFromSets(ms: DataFrame): Dataset[KgEdge] =
    ms.select(col("doc_id"), explode(col("pm")).as("p"))
      .select(
        lit(null).cast("string").as("relId"),
        col("doc_id").as("src"),
        curieOf(shiftright(col("p"), 32).cast("int")).as("tgt"),
        lit(edgeLabel("mentions")).as("label"),
        propsCol(("n", col("p").bitwiseAND(lit(0xffffffffL)), "int")).as("props"),
      ).as(ModelEncoders.kgEdge)

  /** Co-occurrence pairs `(src, tgt, n_docs)` over the mention-set table,
    * `src < tgt` by curie: per-doc pair emission and the partial count run
    * in ONE primitive per-partition combiner
    * ([[graft.extract.CoocCombine.partialPairCounts]] — no object churn, no
    * contiguity contract); the only exchange carries dictionary-bounded
    * (pair, partial) rows, summed in one small final aggregate, and the
    * ranks decode by projection. The pair frame every co-occurrence graph
    * row reads; [[Mentions.cooccurrencePairsFromDocMentions]] is its string
    * reference. */
  def cooccurrencePairsFromSets(ms: DataFrame,
      maxEntitiesPerDoc: Int = Mentions.DefaultMaxEntitiesPerDoc): DataFrame =
    graft.extract.CoocCombine.partialPairCounts(
        ms.select(col("pm")).as[Array[Long]], bcDict, maxEntitiesPerDoc)
      .toDF("pair", "cnt")
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n_docs"))
      .select(
        curieOf(shiftright(col("pair"), 32).cast("int")).as("src"),
        curieOf(col("pair").bitwiseAND(lit(0xffffffffL)).cast("int")).as("tgt"),
        col("n_docs"))

  /** Co-occurrence edges over the mention-set table: the edge view of
    * [[cooccurrencePairsFromSets]]. */
  def cooccurrenceEdgesFromSets(ms: DataFrame,
      maxEntitiesPerDoc: Int = Mentions.DefaultMaxEntitiesPerDoc): Dataset[KgEdge] =
    cooccurrencePairsFromSets(ms, maxEntitiesPerDoc).select(
      lit(null).cast("string").as("relId"),
      col("src"),
      col("tgt"),
      lit(edgeLabel("cooccurs")).as("label"),
      propsCol(("n_docs", col("n_docs"), "int")).as("props"),
    ).as(ModelEncoders.kgEdge)

  /** [[triples]] built STRAIGHT from the packed mention sets — no
    * KgNode/KgEdge row building, no property bags, no count aggregation (a
    * triple is presence, not frequency). Output identical to
    * `triples(nodesFromSets(ms), mentionEdgesFromSets(ms) union
    * cooccurrenceEdgesFromSets(ms))` (spec-proven, PipelineSpec); the plan
    * is the win:
    *  - rank presence AND co-occurrence pairs come from ONE shared key scan
    *    ([[graft.extract.CoocCombine.distinctPairAndRankKeys]] — ranks ride
    *    as self-pairs, unambiguous because real pairs are strictly a < b).
    *    Its exchange ships sorted per-partition key blocks routed by
    *    partition id, not rows, and no HashAggregate runs over the keys.
    *    The distinct packed keys are dictionary-bounded and sit behind a
    *    [[Barrier]] as sorted `long[]` runs (8 B per key, exploded by each
    *    consumer), so the corpus-sized scan + key exchange run ONCE per
    *    action no matter how many consumers sit above (measured: AQE did
    *    NOT stage-reuse analyzer-cloned copies of an object-operator
    *    subtree, so plan-level sharing alone re-scanned the mention sets
    *    per consumer). The exchange lives in the barrier's RDD lineage,
    *    outside any AQE plan, so the lazy barrier runs nothing while the
    *    plan is built. The barrier is a leaf — a free pushdown barrier.
    *    Without a checkpoint dir its blocks are local, so an executor loss
    *    fails the job; acceptable here because the data is
    *    ≤ C(|entities|, 2) longs and job-level retry is cheap at that size;
    *  - entity rdf:type triples decode the barrier's self keys, distinct
    *    entity ranks already: no exchange;
    *  - mention triples are explode + a 3-column select that decodes the
    *    rank by a projection through the broadcast dictionary (the KgEdge
    *    path built a props bag per row);
    *  - doc rdf:type triples are a doc_id projection of the mention sets
    *    + the same broadcast anti-join as the node path — the constant obj
    *    is resolved on the driver from the SAME translation tables
    *    ([[labelTypeMap]]), so parity cannot drift;
    *  - co-occurrence triples decode the distinct pairs only (no n_docs
    *    sum — the aggregate the edge path pays is dropped, not pruned). */
  def triplesFromSets(ms: DataFrame,
      maxEntitiesPerDoc: Int = Mentions.DefaultMaxEntitiesPerDoc): Dataset[Triple] = {
    val typeMap = typedLit(labelTypeMap)
    val keys = Barrier(graft.extract.CoocCombine.distinctPairAndRankKeys(
        ms.select(col("pm")).as[Array[Long]], bcDict, maxEntitiesPerDoc).toDF("ks"))
      .select(explode(col("ks")).as("k"))
    val hi = shiftright(col("k"), 32).cast("int")
    val lo = col("k").bitwiseAND(lit(0xffffffffL)).cast("int")
    val entityThin = entityThinFromRanks(keys.filter(hi === lo).select(hi.as("rank")))
    val entityType = entityNodes(entityThin).select(
      col("id").as("subj"),
      lit("rdf:type").as("pred"),
      coalesce(element_at(typeMap, col("label")), col("label")).as("obj"))
    val docType = ctxRef.inputLabelToClass.get("document") match {
      case None => spark.emptyDataset(ModelEncoders.triple).toDF()
      case Some(cls) =>
        // KgNode.make keeps the class name as the label, so the rdf:type
        // obj of every document node is one driver-resolved constant
        val obj = labelTypeMap.getOrElse(cls, cls)
        ms.select(col("doc_id"))
          .join(broadcast(entityThin.select(col("curie").as("doc_id"))),
            Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("subj"),
            lit("rdf:type").as("pred"), lit(obj).as("obj"))
    }
    val mentionTriples = ms.select(col("doc_id"), explode(col("pm")).as("p"))
      .select(col("doc_id").as("subj"), lit(edgeLabel("mentions")).as("pred"),
        curieOf(shiftright(col("p"), 32).cast("int")).as("obj"))
    val coocTriples = keys.filter(hi =!= lo)
      .select(curieOf(hi).as("subj"), lit(edgeLabel("cooccurs")).as("pred"), curieOf(lo).as("obj"))
    entityType.union(docType).union(mentionTriples).union(coocTriples).as(ModelEncoders.triple)
  }

  /** [[run]] on the fused mention-set path — the path the throughput
    * benchmark and a 100-TB deployment use. Output identical to [[run]]
    * (spec-proven). The triple table is built by
    * [[triplesFromSets]] (same rows as `triples(ns, es)`, shared-scan
    * plan); `ns`/`es` stay lazy, so a triples-only consumer never pays the
    * entity-row builds. The mention sets sit behind a [[Barrier]], so the
    * trie pass runs once per run and no CacheManager entry outlives it. */
  def runFused(docs: Dataset[Doc]): (Dataset[KgNode], Dataset[KgEdge], Dataset[Triple]) = {
    val ms = Barrier(mentionSets(docs))
    val ns = nodesFromSets(ms)
    val es = mentionEdgesFromSets(ms).union(cooccurrenceEdgesFromSets(ms))
    (ns, es, triplesFromSets(ms))
  }
}

object KgPipeline {

  /** (curie, cls, surface) rows of the fused node builders. */
  private val Thin = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING)

  /** One pipeline per (SparkContext, config): the schema/ontology parse,
    * trie build and the two broadcasts are CONSTANTS of the domain, not
    * per-query work — 30+ query builders each paid them before this memo
    * (guide §1.2 "per-task work" at the driver). Keyed on the CONTEXT
    * (broadcasts are context-level, so one pipeline serves child sessions
    * too — the streaming rows already rely on that; its internal datasets
    * resolve against the FIRST caller's session); not a result cache:
    * nothing here derives from input data. Entries whose context has
    * stopped are evicted on the next lookup, so a stopped context's
    * broadcasts and session are not held for the life of the JVM. */
  private val pipelines =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.SparkContext, KgConfig), KgPipeline]()

  /** The standard demo pipeline over the analytics domain. */
  def analytics(spark: SparkSession, config: KgConfig = KgConfig()): KgPipeline = {
    pipelines.keySet.removeIf(_._1.isStopped)
    pipelines.computeIfAbsent((spark.sparkContext, config), _ =>
      new KgPipeline(spark, AnalyticsDomain.context(config), AnalyticsDomain.dict))
  }

  /** Contexts that currently hold a memoized pipeline. */
  private[graft] def memoizedContexts: Set[org.apache.spark.SparkContext] = {
    import scala.jdk.CollectionConverters._
    pipelines.keySet.asScala.map(_._1).toSet
  }
}
