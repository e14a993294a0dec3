package graft

import java.util.concurrent.{ExecutionException, FutureTask}
import scala.collection.immutable.ListMap
import scala.util.{Failure, Try}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.checkpoint.CheckpointStore
import graft.dedup.Dedup
import graft.model._
import graft.sinks._
import graft.translate.Translate

/** User-facing session façade — the Spark-native equivalent of the
  * reference's `BioCypher` entry class (reference: biocypher/_core.py):
  * `writeNodes`/`writeEdges` (offline batch path), `add` + `toDf`
  * (in-memory path), `writeImportCall`, `translate`/`reverseTranslate`,
  * duplicate and schema-info reporting.
  *
  * Cross-call dedup semantics (the reference's session-lifetime
  * Deduplicator, _deduplicate.py:21-28): ids seen by earlier write calls
  * are dropped from later ones. The seen keys are CHECKPOINTED parquet
  * logs (SURVEY §7.2-5), one per key space: each write call appends a
  * version holding only its batch's keys via [[CheckpointStore]], so a
  * call's commit costs O(batch), not O(keys seen so far); the live set is
  * one scan over the log's versions, and every [[KgSession.MaxVersions]]
  * calls a compaction folds them into one. Cache memory is bounded (each
  * call's deduplicated, keyed batch is cached once, feeds both the sink's
  * fresh rows and the new version's keys, and is released after the
  * commit), and a NEW session over the same output directory resumes the
  * seen state — idempotent re-runs across JVMs, which the reference's
  * in-memory Deduplicator cannot do. Within a call, the batch is cached
  * and built first; then the sink write and the new versions' data writes
  * run at the same time, each in as many tasks as the batch's built size
  * asks for (one per advisory partition size), not one per shuffle
  * partition. A version's manifest, its commit point, is written only
  * after the sink write has succeeded, so a failed write call leaves the
  * seen state as it was.
  * Rel-as-node entities get the same treatment keyed on (label, node id)
  * (reference rel_as_node_seen, _deduplicate.py:83-111).
  *
  * Bounded state (VERDICT r4 #9): with `seenTtlMs` set, log rows carry a
  * last-seen stamp and keys unseen for the horizon are forgotten — the
  * batch twin of [[streaming.Streaming]]'s state TTL (exact-within-horizon).
  * A compaction drops expired keys, so disk usage is one TTL-bounded
  * snapshot per key space plus at most [[KgSession.MaxVersions]] deltas,
  * not a monotone version history.
  *
  * Output: every file a session writes (part files, snapshots, manifests,
  * headers, the import script) goes through [[OutputFs]], so a local
  * outDir gets no `.crc` sidecars and its writes start no `chmod` process.
  */
final class KgSession(
    val spark: SparkSession,
    val ctx: KgContext,
    val outDir: String,
    dbms: String = "neo4j",
    csvDelimiter: String = ",", // the reference csv section's own delimiter
    seenTtlMs: Option[Long] = None, // seen-key horizon; None = unbounded
    nowMs: () => Long = () => System.currentTimeMillis(), // injectable clock
) {

  import spark.implicits._

  val bcCtx = spark.sparkContext.broadcast(ctx)

  val sink: EntitySink = dbms match {
    case "neo4j"    => new Neo4jCsvSink(ctx, outDir)
    case "postgres" => new PostgresCsvSink(ctx, outDir)
    case "sqlite"   => new SqliteCsvSink(ctx, outDir)
    case "arango"   => new ArangoCsvSink(ctx, outDir)
    case "rdf"      => new RdfSink(ctx, outDir)
    case "csv"      => new PandasCsvSink(ctx, outDir, csvDelimiter)
    case "networkx" => new NetworkxSink(ctx, outDir)
    case other      => throw new IllegalArgumentException(s"unknown dbms $other")
  }

  // ---------------------------------------------- checkpointed seen state

  private val store = new CheckpointStore(spark, s"$outDir/_graft_checkpoint")

  /** The head of each key space's seen log: listed and read from disk at
    * most once per session, with the log's known schema (no schema
    * inference); after that, the version a commit returns is the next
    * call's head. A space with no committed version is remembered as such.
    * Listing goes through the store (Hadoop FS, ADVICE r5): a non-local
    * outDir resolves its real filesystem, and no fd is leaked. */
  private val heads = scala.collection.mutable.Map[String, Option[CheckpointStore.Version]]()

  private def head(space: String): Option[CheckpointStore.Version] =
    heads.getOrElseUpdate(space, store.head(space, KgSession.SeenSchema))

  /** The LIVE (non-expired) rows of a seen log as of `now`: rows carry a
    * `_ts` last-seen stamp; with a TTL configured, rows older than the
    * horizon are forgotten — the batch-session twin of the streaming state
    * TTL (exact-within-horizon; VERDICT r4 #9). A key is live while any of
    * its rows is. Pre-TTL snapshots (no `_ts` column) are treated as
    * just-seen. */
  private def seenLive(log: DataFrame, now: Long): DataFrame = {
    val withTs = log.select(col("_k"), coalesce(col("_ts"), KgSession.perCall(now)).as("_ts"))
    seenTtlMs match {
      case Some(ttl) => withTs.filter(col("_ts") >= KgSession.perCall(now - ttl))
      case None      => withTs
    }
  }

  /** Cache the call's batch once, then derive both consumers from that
    * cache: `use` runs on the fresh rows (`keyed`, payload + one `_k`
    * column distinct per key, anti-join the live seen keys), and each key
    * space's seen log gets a new version holding the batch's keys of that
    * space. A batch that spans several key spaces tags each space's keys
    * with its non-empty tag (`spaces` pairs a space with its tag).
    *
    * The new version is a delta: this batch's keys stamped now, read from
    * the cache, with no join and no read of the log. Without a TTL a
    * re-sighted key adds nothing to the log, so the anti-join runs under
    * the cache, which holds (and logs) the fresh rows only; with a TTL the
    * cache holds the whole batch, so every key of it (fresh or re-sighted)
    * is logged with the new stamp, and `use` reads the cache anti-join the
    * live keys. Once a log's snapshot reads [[KgSession.MaxVersions]]
    * versions, the next call compacts it instead: its version holds one row
    * per live key with its last stamp, expired keys dropped, and replaces
    * the versions below it (without a TTL the versions are disjoint, so the
    * compaction is their union, with no exchange). Disk usage is thus one
    * TTL-bounded snapshot per key space plus at most that many deltas.
    *
    * Materialize, then size (Lightweight Materialization, SIGMOD 2023):
    * one job builds the cache before any consumer starts, so no consumer
    * submits a cache-building job of its own. The cache's built size then
    * sets each file write's task count, one per advisory-size slice
    * ([[slices]]): `use` and each delta write read the batch in one task
    * per slice of its bytes, a compaction in one per slice of the log's
    * file bytes plus the batch's. A small call thus writes one part file
    * per label and one Parquet file per version, and pays a write task's
    * fixed cost (the serialized Hadoop conf, file and directory creation)
    * once per write, not once per shuffle partition.
    *
    * The consumers overlap: each space's next version is prepared
    * ([[CheckpointStore.prepareVersion]]: data, footers, read-back frame)
    * on a thread of its own while `use` runs on the caller's, so a call
    * takes the longer of the two, not their sum. The commit point, each
    * version's manifest, is published only after `use` has returned and
    * every prepare has finished. If `use` or a prepare fails, the
    * unpublished versions are deleted once every prepare has finished and
    * the failure is rethrown: the seen state stays as it was. The cache is
    * released after that, so the call's input (scan, translation, dedup
    * exchange) is evaluated exactly once. */
  private def withFresh[T](spaces: Seq[(String, String)], keyed: DataFrame)(use: DataFrame => T): T = {
    val now = nowMs()
    val logs = spaces.map { case (space, _) => space -> head(space) }.toMap
    val seenKeys = spaces.flatMap { case (space, tag) =>
      logs(space).map(h => seenLive(h.frame, now)
        .select((if (tag.isEmpty) col("_k") else concat(lit(tag), col("_k"))).as("_k")))
    }.reduceOption(_ union _)
    def unseen(df: DataFrame) = seenKeys.fold(df)(s => df.join(s, Seq("_k"), "left_anti"))
    val batch = (if (seenTtlMs.isEmpty) unseen(keyed) else keyed).cache()
    try {
      val bytes = KgSession.materialize(batch)
      val stamp = KgSession.perCall(now)
      val pending = spaces.map { case (space, tag) =>
        val keys =
          if (tag.isEmpty) batch.select(col("_k"))
          else batch.filter(col("_k").startsWith(tag))
            .select(col("_k").substr(tag.length + 1, Int.MaxValue).as("_k"))
        val delta = keys.withColumn("_ts", stamp)
        val log = logs(space)
        val compacting = log.filter(_.reads.length >= KgSession.MaxVersions)
        val rows = compacting.fold(delta.coalesce(slices(bytes))) { h =>
          val all = seenLive(h.frame, now).union(delta)
          // without a TTL the log holds each key once: every delta is fresh
          (if (seenTtlMs.isEmpty) all else all.groupBy("_k").agg(max("_ts").as("_ts")))
            .coalesce(slices(h.frame.queryExecution.optimizedPlan.stats.sizeInBytes + bytes))
        }
        (space, log, KgSession.forked(store.prepareVersion(space, log, rows, compacting.isDefined)))
      }
      def settle(): Seq[Try[CheckpointStore.Prepared[CheckpointStore.Version]]] =
        pending.map { case (_, _, task) => KgSession.await(task) }
      def abandon(e: Throwable): Nothing = {
        pending.foreach { case (space, log, _) => store.drop(s"$space/v${log.fold(1)(_.n + 1)}") }
        throw e
      }
      val sliced = batch.coalesce(slices(bytes))
      val r = try use(if (seenTtlMs.isEmpty) sliced else unseen(sliced))
        catch { case e: Throwable => settle(); abandon(e) }
      val prepared = settle()
      prepared.collectFirst { case Failure(e) => e }.foreach(abandon)
      pending.zip(prepared).foreach { case ((space, _, _), p) => heads(space) = Some(store.publish(p.get)) }
      r
    } finally batch.unpersist(blocking = false)
  }

  /** Partitions for a write of `bytes`: one per advisory-size slice
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), at least one. A
    * narrow `coalesce` to this count never raises a frame's partitions. */
  private def slices(bytes: BigInt): Int = {
    val advisory = spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    ((bytes + advisory - 1) / advisory).max(1).min(Int.MaxValue).toInt
  }

  private def edgeKey(d: Dataset[KgEdge]) = d.withColumn("_k",
    concat_ws("\u0000", col("label"),
      coalesce(col("relId"), concat_ws("_", col("src"), col("tgt")))))
  private def relKey(d: Dataset[RelAsNode]) = d.withColumn("_k",
    concat_ws("\u0000", col("node.label"), col("node.id")))

  private def dedupNodesAgainstSeen[T](ns: Dataset[KgNode])(use: Dataset[KgNode] => T): T =
    withFresh(KgSession.NodeSpace, Dedup.nodes(ns).withColumn("_k", col("id"))) { fresh =>
      use(fresh.drop("_k").as(ModelEncoders.kgNode))
    }

  private def dedupEdgesAgainstSeen[T](es: Dataset[KgEdge])(use: Dataset[KgEdge] => T): T =
    withFresh(Seq("seen_edge_keys" -> ""), edgeKey(Dedup.edges(es))) { fresh =>
      use(fresh.drop("_k").as(ModelEncoders.kgEdge))
    }

  private def dedupRelsAgainstSeen[T](rs: Dataset[RelAsNode])(use: Dataset[RelAsNode] => T): T =
    withFresh(Seq("seen_rel_keys" -> ""), relKey(Dedup.relAsNodes(rs))) { fresh =>
      use(fresh.drop("_k").as(ModelEncoders.relAsNode))
    }

  // ----------------------------------------------------------- write path

  // The batch sinks (neo4j, postgres, sqlite, arango) take the flat line
  // path: each write call renders its entities to one (_k, lines) row shape
  // ([[graft.sinks.Rendered]]) before the dedup, so the dedup, the seen
  // anti-join, the call's one cache, the seen commits and the one write run
  // on that shape for every entity kind and every call
  // ([[graft.sinks.BatchSink]] says why). The other sinks write entities.

  /** Dedup the rendered batch (incl. vs earlier calls AND earlier sessions
    * over this outDir) and write its fresh lines. `probe` says whether the
    * batch can hold a label whose layout the write must probe. */
  private def writeRendered(b: BatchSink, spaces: Seq[(String, String)],
      rendered: Dataset[Rendered], probe: Boolean): Unit =
    withFresh(spaces, rendered.toDF().dropDuplicates("_k"))(b.writeLines(_, probe))

  /** Classes the translation can emit. */
  private lazy val translatedClasses = ctx.inputLabelToClass.values.toSet

  /** Translate raw node tuples, dedup (incl. vs earlier calls AND earlier
    * sessions over this outDir), write. */
  def writeNodes(raw: Dataset[RawNode]): Unit = sink match {
    case b: BatchSink =>
      writeRendered(b, KgSession.NodeSpace, KgSession.renderNodes(b, Translate.nodes(raw, bcCtx)),
        probe = translatedClasses.exists(c => b.declaredNodeLayout(c).isEmpty))
    case _ => dedupNodesAgainstSeen(Translate.nodes(raw, bcCtx))(sink.writeNodes)
  }

  /** Translate raw edge tuples; plain edges written as edges, rel-as-node
    * entities flattened to their node and connector edges (reference:
    * _batch_writer.py:363-369). Both are session-deduped (rel-as-node keyed
    * on (label, node id), reference rel_as_node_seen). */
  def writeEdges(raw: Dataset[RawEdge]): Unit = sink match {
    case b: BatchSink =>
      writeRendered(b, KgSession.EdgeSpaces, KgSession.renderEdges(b, Translate.edges(raw, bcCtx)),
        probe = translatedClasses.exists { c =>
          val spec = ctx.specs(c)
          if (spec.representedAs == "node") b.declaredNodeLayout(c).isEmpty
          else b.declaredEdgeLayout(spec.labelAsEdge.getOrElse(c)).isEmpty
        })
    case _ =>
      val entities = Translate.edges(raw, bcCtx).cache()
      try {
        dedupRelsAgainstSeen(entities.filter(_.rel != null).map(_.rel)(ModelEncoders.relAsNode))(sink.writeRelAsNodes)
        dedupEdgesAgainstSeen(entities.filter(_.edge != null).map(_.edge)(ModelEncoders.kgEdge))(sink.writeEdges)
      } finally entities.unpersist(blocking = false)
  }

  /** Force path (reference `write_nodes(…, force=True)`,
    * _core.py:421-444 → `_write_node_data(…, force)`,
    * _batch_writer.py:479): write ALREADY-TRANSLATED nodes straight
    * through the sink, bypassing schema translation and the label drop —
    * labels outside the schema render with their first row's property
    * layout. The reference uses this for the `schema_info` node; exposed
    * because adapters with pre-translated entities need the same door.
    * Session dedup still applies (the reference's force flag skips
    * translation, not the Deduplicator). */
  def writeNodesForce(nodes: Dataset[KgNode]): Unit = sink match {
    case b: BatchSink =>
      writeRendered(b, KgSession.NodeSpace, KgSession.renderNodes(b, nodes), probe = true)
    case _ => dedupNodesAgainstSeen(nodes)(sink.writeNodes)
  }

  def writeHeaders(): Unit = sink match {
    case b: BatchSink => b.writeHeaders()
    case _            => () // RDF/plain-CSV/NetworkX have no header files
  }

  def writeImportCall(): String = { writeHeaders(); sink.writeImportCall() }

  // ------------------------------------------------------- in-memory path

  private var accNodes: Option[Dataset[KgNode]] = None
  private var accEdges: Option[Dataset[KgEdge]] = None

  /** In-memory path: accumulate translated entities (deduped across calls,
    * like the reference's `add`, _core.py:463-481). Each call's fresh set
    * goes behind a [[Barrier]], built (one count) before the seen snapshot
    * advances; the blocks live as long as the session holds the set. */
  def addNodes(raw: Dataset[RawNode]): Unit =
    dedupNodesAgainstSeen(Translate.nodes(raw, bcCtx)) { fresh =>
      val kept = Barrier(fresh)
      kept.count()
      accNodes = Some(accNodes.map(_.union(kept)).getOrElse(kept))
    }

  def addEdges(raw: Dataset[RawEdge]): Unit = {
    val entities = Translate.edges(raw, bcCtx).cache()
    try {
      dedupRelsAgainstSeen(entities.filter(_.rel != null).map(_.rel)(ModelEncoders.relAsNode)) { rels =>
        val kept = Barrier(rels)
        kept.count()
        val relNodes = kept.map(_.node)(ModelEncoders.kgNode)
        val relEdges = kept.flatMap(r => Seq(r.sourceEdge, r.targetEdge))(ModelEncoders.kgEdge)
        accNodes = Some(accNodes.map(_.union(relNodes)).getOrElse(relNodes))
        accEdges = Some(accEdges.map(_.union(relEdges)).getOrElse(relEdges))
      }
      dedupEdgesAgainstSeen(entities.filter(_.edge != null).map(_.edge)(ModelEncoders.kgEdge)) { plain =>
        val kept = Barrier(plain)
        kept.count()
        accEdges = Some(accEdges.map(_.union(kept)).getOrElse(kept))
      }
    } finally entities.unpersist(blocking = false)
  }

  /** Per-label property-pivoted frames (reference `to_df`, in_memory path).
    * The frames of one call share a barriered base projection
    * ([[Tables.nodeFrames]]), freed once the caller drops the frames, so
    * repeated calls grow no cache and earlier frames stay valid. */
  def toDf(): ListMap[String, DataFrame] =
    accNodes.map(Tables.nodeFrames(ctx, _)).getOrElse(ListMap.empty) ++
      accEdges.map(Tables.edgeFrames(ctx, _)).getOrElse(ListMap.empty)

  /** (nodesDF, edgesDF) pair — the networkx-analogue representation. */
  def toGraph(): (DataFrame, DataFrame) = (
    accNodes.map(_.toDF()).getOrElse(spark.emptyDataset[KgNode].toDF()),
    accEdges.map(_.toDF()).getOrElse(spark.emptyDataset[KgEdge].toDF()),
  )

  /** Accumulated KG in the NetworkX-loader shape (reference `to_networkx`,
    * _core.py:218-220 — the same `_to_KG` materialization as `to_df`). The
    * nx.DiGraph itself is a Python-runtime object a JVM engine cannot hold,
    * so the surface is the exact frame pair the [[graft.sinks.NetworkxSink]]
    * import script feeds `nx.from_pandas_edgelist`: nodes as
    * (node_id, node_label, attrs JSON), edges as
    * (source_id, target_id, relationship_label). */
  def toNetworkx(): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val nodesDf = accNodes.flatMap(Tables.nodeAttrs(ctx, _))
      .getOrElse(Seq.empty[(String, String, String)].toDF("node_id", "node_label", "attrs"))
    val edgesDf = accEdges.map(_.toDF().select(
      col("src").as("source_id"),
      col("tgt").as("target_id"),
      col("label").as("relationship_label"),
    )).getOrElse(Seq.empty[(String, String, String)]
      .toDF("source_id", "target_id", "relationship_label"))
    (nodesDf, edgesDf)
  }

  /** Reference `get_kg` (reference: _core.py:517-539): the accumulated
    * in-memory KG in the shape the session's dbms implies — the
    * NetworkX-loader frame pair for `networkx`, per-label property-pivoted
    * frames otherwise (the reference's pandas path). */
  def getKg(): Either[ListMap[String, DataFrame], (DataFrame, DataFrame)] =
    if (dbms == "networkx") Right(toNetworkx()) else Left(toDf())

  /** Input labels with no schema entry, with occurrence counts (reference
    * `log_missing_input_labels`, _core.py:559-588). The collect is bounded
    * by the number of DISTINCT unmapped labels — the per-label counts are
    * the distributed analogue of the reference's in-process label lists. */
  def logMissingInputLabels(rawNodes: Dataset[RawNode],
      rawEdges: Dataset[RawEdge]): Map[String, Long] = {
    val n = Translate.missingNodeTypes(spark, rawNodes, bcCtx).collect()
    val e = Translate.missingEdgeTypes(spark, rawEdges, bcCtx).collect()
    (n ++ e).map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Duplicate nodes/edges report (reference `log_duplicates`,
    * _core.py:590-637: duplicate types at info, ids at debug — here one
    * string, first 20 ids per kind). Totals come from a distributed
    * `count()`; only the 20-row sample is collected — a pathological corpus
    * with billions of duplicate keys must not OOM the driver through a
    * report facade (VERDICT r6 #5). */
  def logDuplicates(nodes: Dataset[KgNode], edges: Dataset[KgEdge]): String = {
    val sb = new StringBuilder
    def section(title: String, report: DataFrame): Unit = {
      val dup = report.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        sb ++= s"$title: ${dup.count()}\n"
        dup.orderBy("label", "id").limit(20).collect()
          .foreach(r => sb ++= s"  ${r.get(0)} ${r.get(1)} x${r.get(2)}\n")
      } finally dup.unpersist(blocking = false)
    }
    section("Duplicate node ids", graft.dedup.Dedup.duplicateNodeReport(nodes))
    section("Duplicate edge keys", graft.dedup.Dedup.duplicateEdgeReport(edges))
    sb.toString
  }

  /** Referential-integrity report facade — the bounded-collect discipline
    * of [[logDuplicates]] applied to [[graft.dedup.Dedup
    * .danglingEdgeReport]]: total from a distributed count, first 20
    * dangling (side, label, endpoint) rows in the string. Run it before a
    * bulk import; `neo4j-admin import` would otherwise fail on the first
    * missing `:START_ID` it meets. */
  def logDanglingEdges(nodes: Dataset[KgNode], edges: Dataset[KgEdge]): String = {
    val report = graft.dedup.Dedup.danglingEdgeReport(
      edges.toDF().select(col("src"), col("tgt"), col("label")),
      nodes.toDF().select(col("id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sb = new StringBuilder
      sb ++= s"Dangling edge endpoints: ${report.count()}\n"
      report.orderBy("side", "edge_label", "node_id").limit(20).collect()
        .foreach(r => sb ++= s"  ${r.get(0)} ${r.get(1)} ${r.get(2)} x${r.get(3)}\n")
      sb.toString
    } finally report.unpersist(blocking = false)
  }

  def translate(query: String): String = ctx.translateQuery(query)
  def reverseTranslate(query: String): String = ctx.reverseTranslateQuery(query)

  /** Single-term translation, None when unmapped
    * (reference: _core.py:757-772). */
  def translateTerm(term: String): Option[String] = ctx.translateTerm(term)
  def reverseTranslateTerm(term: String): Option[List[String]] =
    ctx.reverseTranslateTerm(term)

  /** Reference `summary()` (reference: _core.py:774-781): chains
    * show_ontology_structure + log_duplicates + log_missing_input_labels,
    * one report string — matching the reference's exact trio (ADVICE r6:
    * an earlier draft substituted schema presence for the missing-labels
    * leg). The ontology half renders when the caller passes the driver-side
    * [[graft.ontology.Ontology]] (the session context keeps only its
    * broadcastable ancestor closure, not the tree); the missing-labels leg
    * renders when the caller passes the raw adapter streams it consumed
    * (the reference reads them off the session's accumulated state — here
    * the inputs are datasets, so they are parameters). */
  def summary(nodes: Dataset[KgNode], edges: Dataset[KgEdge],
      ontology: Option[graft.ontology.Ontology] = None,
      rawNodes: Option[Dataset[RawNode]] = None,
      rawEdges: Option[Dataset[RawEdge]] = None): String = {
    val sb = new StringBuilder
    ontology.foreach { o => sb ++= o.showOntologyStructure(); sb += '\n' }
    sb ++= logDuplicates(nodes, edges)
    if (rawNodes.isDefined || rawEdges.isDefined) {
      val miss = logMissingInputLabels(
        rawNodes.getOrElse(spark.emptyDataset[RawNode]),
        rawEdges.getOrElse(spark.emptyDataset[RawEdge]))
      sb ++= s"Missing input labels: ${miss.size}\n"
      miss.toSeq.sortBy(_._1).foreach { case (l, n) => sb ++= s"  $l x$n\n" }
    }
    sb.toString
  }

  /** Config warnings surfaced at construction (file-config path only). */
  var configWarnings: List[String] = Nil

  /** Reference `write_schema_info` (reference: _core.py:673-753): writes
    * the schema YAML (runtime presence flags) as `schema_info.yaml` in the
    * output directory and returns it; with `asNode`, also force-writes ONE
    * `schema_info` node straight through the sink — bypassing schema
    * translation exactly like the reference's `force=True` (`schema_info`
    * is not a schema class; the part files land pascal-cased as
    * `Schema_info-part*`) — and re-renders the import call so the extra
    * file is loaded (_core.py:741-752). Two reference parity points
    * (ADVICE r6): the node goes through [[writeNodesForce]], so the
    * session Deduplicator still sees it (the reference's force flag skips
    * translation, NOT node_seen, _batch_writer.py:423 — repeated calls
    * must not append duplicate part files); and the node property carries
    * the schema as JSON (`json.dumps(schema)`, _core.py:747) while the
    * sidecar file stays YAML. */
  def writeSchemaInfo(nodes: Dataset[KgNode], edges: Dataset[KgEdge],
      asNode: Boolean = false): String = {
    val counts = schemaInfoCounts(nodes, edges)
    val yaml = schemaInfoYamlFrom(counts)
    graft.sinks.BatchSink.writeDriverFile(outDir, "schema_info.yaml", yaml)
    if (asNode) {
      writeNodesForce(spark.createDataset(Seq(
        KgNode.make("schema_info", "schema_info", null,
          Props.of("schema_info" -> PV.str(schemaInfoJsonFrom(counts)))))))
      writeImportCall()
    }
    yaml
  }

  /** (label -> (kind, n)) runtime presence counts — the shared input of the
    * YAML and JSON schema-info renderings (one distributed pass). */
  private def schemaInfoCounts(nodes: Dataset[KgNode],
      edges: Dataset[KgEdge]): Map[String, (String, Long)] =
    Tables.schemaInfo(ctx, nodes, edges).collect()
      .map(r => r.getAs[String]("label") ->
        (r.getAs[String]("kind"), r.getAs[Long]("n"))).toMap

  /** Schema info with runtime presence flags (reference: _core.py:673-753),
    * as YAML text for the sidecar. */
  def schemaInfoYaml(nodes: Dataset[KgNode], edges: Dataset[KgEdge]): String =
    schemaInfoYamlFrom(schemaInfoCounts(nodes, edges))

  private def schemaInfoFlags(counts: Map[String, (String, Long)]) =
    ctx.specs.map { case (name, spec) =>
      val present = counts.contains(name) ||
        spec.labelAsEdge.exists(counts.contains)
      (name, spec.representedAs, present, spec.representedAs != "node")
    }

  private def schemaInfoYamlFrom(counts: Map[String, (String, Long)]): String = {
    val sb = new StringBuilder
    schemaInfoFlags(counts).foreach { case (name, repr, present, isRel) =>
      sb ++= s"$name:\n"
      sb ++= s"  represented_as: $repr\n"
      sb ++= s"  present_in_knowledge_graph: ${present.toString.capitalize}\n"
      sb ++= s"  is_relationship: ${isRel.toString.capitalize}\n"
    }
    // the reference sets schema["is_schema_info"] = True before yaml.dump
    // (_core.py:703), so the sidecar carries the marker too (we keep
    // schema order where yaml.dump sorts alphabetically, as elsewhere)
    sb ++= "is_schema_info: true\n"
    sb.toString
  }

  /** Minimal JSON string escape (quote, backslash, control chars) — a
    * schema class name with a quote must not yield invalid JSON
    * (ADVICE r7 #3). */
  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  /** The same schema map as `json.dumps` would render it (reference stores
    * JSON in the schema_info NODE, _core.py:747; YAML only in the sidecar
    * file — ADVICE r6). Key order follows the schema, like a Python dict —
    * with the reference's `is_schema_info` marker appended LAST, where
    * `schema["is_schema_info"] = True` lands in dict insertion order
    * (_core.py:703). */
  private def schemaInfoJsonFrom(counts: Map[String, (String, Long)]): String =
    (schemaInfoFlags(counts).map { case (name, repr, present, isRel) =>
      s"""${jsonStr(name)}: {"represented_as": ${jsonStr(repr)}, """ +
        s""""present_in_knowledge_graph": $present, "is_relationship": $isRel}"""
    } ++ Seq(""""is_schema_info": true"""))
      .mkString("{", ", ", "}")
}

object KgSession {

  private val NodeSpace = Seq("seen_node_ids" -> "")
  // one edge batch spans two key spaces, so their keys carry a tag
  private val RelTag = "r"
  private val EdgeTag = "e"
  private val EdgeSpaces = Seq("seen_rel_keys" -> RelTag, "seen_edge_keys" -> EdgeTag)

  /** The schema of a seen log. */
  private val SeenSchema = new StructType().add("_k", StringType).add("_ts", LongType)

  /** Versions a seen log's snapshot reads before the next call compacts
    * it: bounds the directories a call scans and the files a log keeps. */
  private[graft] val MaxVersions = 8

  /** A per-call value as a zero-argument non-deterministic UDF: it reaches
    * the plan by reference, where a literal would be compiled into the
    * generated code and make every call compile new classes. */
  private def perCall(v: Long): Column = udf(() => v).asNondeterministic()()

  /** Builds `df`'s cache with one job and returns the size it was built
    * to: the cached relation's own count of its batches' bytes. The job
    * runs the relation's buffers directly, inside a SQL execution of its
    * own, so no outer query (with its own table-cache stage and a job over
    * the built cache) runs around it. Without a cached relation, nothing is
    * built and the plan's estimate is returned. */
  private def materialize(df: DataFrame): BigInt =
    df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
      .fold(df.queryExecution.optimizedPlan.stats.sizeInBytes) { r =>
        SQLExecution.withNewExecutionId(df.queryExecution) {
          r.cacheBuilder.cachedColumnBuffers.foreachPartition(_ => ())
        }
        r.computeStats().sizeInBytes
      }

  /** Runs `f` on a thread of its own, which inherits the caller's Spark
    * local properties (job group, scheduler pool). Blocking Spark actions
    * get a dedicated thread, not a shared pool; [[await]] joins it. */
  private def forked[A](f: => A): FutureTask[A] = {
    val task = new FutureTask[A](() => f)
    val t = new Thread(task, "graft-seen-prepare")
    t.setDaemon(true)
    t.start()
    task
  }

  /** Waits for a [[forked]] task; its failure, unwrapped. */
  private def await[A](task: FutureTask[A]): Try[A] =
    Try(task.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }

  /** concat_ws: null parts are skipped. */
  private def concatWs(sep: String, parts: String*): String = parts.filter(_ != null).mkString(sep)

  private def renderNodes(b: BatchSink, ds: Dataset[KgNode]): Dataset[Rendered] =
    ds.map(n => Rendered(n.id, b.nodeLines(n)))(BatchSink.RenderedEncoder)

  /** Rel-as-node keys are (node label, node id), plain-edge keys (label,
    * relId or src_tgt), as the entity path's `relKey` and `edgeKey`. */
  private def renderEdges(b: BatchSink, ds: Dataset[Entity]): Dataset[Rendered] =
    ds.map { e =>
      if (e.rel != null)
        Rendered(RelTag + concatWs("\u0000", e.rel.node.label, e.rel.node.id), b.relLines(e.rel))
      else {
        val x = e.edge
        val k = if (x.relId != null) x.relId else concatWs("_", x.src, x.tgt)
        Rendered(EdgeTag + concatWs("\u0000", x.label, k), b.edgeLines(x))
      }
    }(BatchSink.RenderedEncoder)

  /** Session whose dbms + sink settings come from layered YAML config
    * (reference: _config/__init__.py:70-95 — module defaults <- user conf
    * <- working-dir conf): the file-configured path every reference user
    * drives today. Config files are optional; omitted layers fall back to
    * the module defaults. Parse warnings (double-quoted escape scalars)
    * land on [[KgSession.configWarnings]]. */
  def fromConfig(
      spark: SparkSession,
      schemaYaml: String,
      headOntologyTtl: String,
      rootLabel: String,
      outDir: String,
      localConfigYaml: Option[String] = None,
      userConfigYaml: Option[String] = None,
  ): KgSession = {
    val loaded = KgConfigLoader.load(localConfigYaml, userConfigYaml)
    val ctx = KgContext.build(schemaYaml, headOntologyTtl, rootLabel,
      config = loaded.config)
    val csvDelim = if (loaded.dbms == "csv") loaded.config.delimiter else ","
    val s = new KgSession(spark, ctx, outDir, loaded.dbms, csvDelim)
    s.configWarnings = loaded.warnings
    s
  }
}
