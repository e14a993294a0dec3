package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.model.{KgEdge, KgNode}

/** Structured Streaming facets of the engine.
  *
  * The reference has no streaming runtime — its "streaming" is generator
  * laziness plus a session-lifetime dedup seen-set
  * (reference: biocypher/_deduplicate.py:21-28; duplicates are dropped
  * across successive write_nodes calls, test_pandas.py:36-40). In Spark
  * that cross-batch state maps exactly onto `mapGroupsWithState`: the state
  * store IS the seen-set, checkpointed and resumable.
  *
  * State TTL: an unbounded seen-set grows with corpus cardinality forever —
  * honest at 100 TB only with an expiry. Every dedup state here carries a
  * processing-time timeout (default 30 days): an id unseen for the TTL is
  * forgotten and would be re-emitted if it reappears later — the standard
  * bounded-state trade (exact-within-horizon), and the horizon is the
  * caller's knob. Pass `ttl = null` to opt into unbounded state explicitly.
  *
  * [[drainToMemory]] is the one bounded drain: it runs a stream to the end
  * of its current input and hands back the result as a table, for the
  * batch-twin oracle rows and the benchmark warm-up.
  */
object Streaming {

  /** Drain `stream` into a memory sink under a unique query name with
    * `Trigger.AvailableNow` (terminates deterministically once the input
    * present at start is consumed, instead of processAllAvailable's polling
    * settle), stop the query, and return the sink table from the stream's
    * own session. Append output mode; `checkpointDir` holds the offsets
    * and state store while the query runs and is deleted once it stops
    * (the memory sink keeps the rows). */
  def drainToMemory(stream: DataFrame, checkpointDir: String): DataFrame = {
    val name = "graft_drain_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally {
      q.stop()
      val ckpt = new org.apache.hadoop.fs.Path(checkpointDir)
      ckpt.getFileSystem(stream.sparkSession.sparkContext.hadoopConfiguration).delete(ckpt, true)
    }
    stream.sparkSession.table(name)
  }

  val DefaultTtl = "30 days"

  private def timeoutConf(ttl: String): GroupStateTimeout =
    if (ttl == null) GroupStateTimeout.NoTimeout
    else GroupStateTimeout.ProcessingTimeTimeout

  /** First-seen-wins state function shared by EVERY dedup stream (plain
    * and snapshot-seeded, nodes and edges — one state machine, not a
    * per-key-type copy to keep in sync). */
  private def firstSeenFn[K, V](ttl: String)(
      key: K, rows: Iterator[V],
      state: GroupState[Boolean]): Iterator[V] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out =
        if (state.exists) Iterator.empty
        else if (rows.hasNext) { state.update(true); Iterator.single(rows.next()) }
        else Iterator.empty
      if (ttl != null) state.setTimeoutDuration(ttl)
      out
    }

  /** Cross-micro-batch node dedup: emit a node the first time its id is
    * seen, drop it for the TTL horizon after. */
  def dedupNodesStream(nodes: Dataset[KgNode], ttl: String = DefaultTtl): Dataset[KgNode] = {
    import nodes.sparkSession.implicits._
    nodes.groupByKey(_.id)
      .flatMapGroupsWithState[Boolean, KgNode](
        OutputMode.Append, timeoutConf(ttl))(firstSeenFn(ttl))
  }

  /** [[dedupNodesStream]] with the seen-state PRE-SEEDED from a previous
    * snapshot's node ids — the streaming face of
    * [[graft.ops.DeltaOps.snapshotDelta]]'s `add` direction: only nodes
    * absent from the snapshot emerge from the stream. The snapshot loads
    * into the state store ONCE (Spark's `initialState`), so each
    * micro-batch pays for its own keys only — there is NO per-batch join
    * against the snapshot — and recovery replays from the checkpoint like
    * any stateful query. Removals cannot stream (an absence is not an
    * event); they remain the batch delta's job.
    *
    * Default `ttl = null` (unbounded state) — unlike the plain dedup
    * streams: a TTL would silently EXPIRE the snapshot suppression, so a
    * snapshot node quiet for the horizon would re-emerge as a spurious
    * `add` the batch delta would never produce. Pass a TTL only when
    * bounded-horizon semantics are actually wanted. */
  def nodeAddsStream(nodes: Dataset[KgNode], prevIds: Dataset[String],
      ttl: String = null): Dataset[KgNode] = {
    import nodes.sparkSession.implicits._
    // distinct() first: Spark fails the query at runtime on duplicate
    // initial-state keys, and a snapshot read back from a sink after an
    // append retry is not guaranteed to be a set (ADVICE r8)
    val initial = prevIds.distinct().groupByKey(identity).mapValues(_ => true)
    nodes.groupByKey(_.id)
      .flatMapGroupsWithState[Boolean, KgNode](
        OutputMode.Append, timeoutConf(ttl), initial)(firstSeenFn(ttl))
  }

  /** Per-type cross-batch edge dedup on relId / src_tgt, TTL-bounded. */
  def dedupEdgesStream(edges: Dataset[KgEdge], ttl: String = DefaultTtl): Dataset[KgEdge] = {
    import edges.sparkSession.implicits._
    edges.groupByKey(e => (e.label, KgEdge.dedupKey(e)))
      .flatMapGroupsWithState[Boolean, KgEdge](
        OutputMode.Append, timeoutConf(ttl))(firstSeenFn(ttl))
  }

  /** [[nodeAddsStream]]'s edge half: only edges whose (label, dedup key)
    * is absent from the previous snapshot emerge — the snapshot keys
    * pre-load the state store via `initialState`, no per-micro-batch
    * snapshot join. Same unbounded-state default and removals caveat as
    * the node half. */
  def edgeAddsStream(edges: Dataset[KgEdge], prevKeys: Dataset[(String, String)],
      ttl: String = null): Dataset[KgEdge] = {
    import edges.sparkSession.implicits._
    // distinct() first — same duplicate-initial-state-key guard as the
    // node half (ADVICE r8)
    val initial = prevKeys.distinct().groupByKey(identity).mapValues(_ => true)
    edges.groupByKey(e => (e.label, KgEdge.dedupKey(e)))
      .flatMapGroupsWithState[Boolean, KgEdge](
        OutputMode.Append, timeoutConf(ttl), initial)(firstSeenFn(ttl))
  }

  /** Full streaming KG-ingestion slice: an interleaved-docs STREAM runs
    * through mention detection + entity linking (the batch adapter's
    * stateless narrow map, unchanged — broadcast trie, no shuffle),
    * translation, and TTL-bounded cross-batch node dedup. With a
    * `checkpointLocation` on the writeStream this is the resumable
    * ingestion path of the north rule: source offsets and the dedup state
    * store both recover on restart, so a re-run never re-emits entities
    * already committed. */
  def ingestNodesStream(
      docs: Dataset[graft.model.Doc],
      bcDict: org.apache.spark.broadcast.Broadcast[graft.extract.MentionDict],
      bcCtx: org.apache.spark.broadcast.Broadcast[graft.KgContext],
      ttl: String = DefaultTtl): Dataset[KgNode] =
    dedupNodesStream(
      graft.translate.Translate.nodes(
        graft.extract.Mentions.toRawNodesWithDocs(
          graft.extract.Mentions.detect(docs, bcDict), bcDict), bcCtx),
      ttl)

  /** Edge half of the streaming KG slice: the SAME batch adapter code
    * (mention detection over the broadcast trie -> RawEdge -> translation)
    * run on a docs stream, with TTL-bounded cross-batch edge dedup on
    * (label, relId|src_tgt) — together with [[ingestNodesStream]] this is
    * the full docs -> nodes + edges resumable ingestion: both state stores
    * and the source offsets recover from the same checkpoint. */
  def ingestEdgesStream(
      docs: Dataset[graft.model.Doc],
      bcDict: org.apache.spark.broadcast.Broadcast[graft.extract.MentionDict],
      bcCtx: org.apache.spark.broadcast.Broadcast[graft.KgContext],
      ttl: String = DefaultTtl): Dataset[KgEdge] = {
    import docs.sparkSession.implicits._
    dedupEdgesStream(
      graft.translate.Translate.edges(
        graft.extract.Mentions.toMentionEdges(
          graft.extract.Mentions.detect(docs, bcDict)), bcCtx)
        .filter(_.edge != null).map(_.edge),
      ttl)
  }

  /** Tumbling-window event aggregation with a watermark for late data —
    * the streaming form of SparkEntry's q5 (same semantics in batch). */
  def windowedEventAgg(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("value_cents"))
}
