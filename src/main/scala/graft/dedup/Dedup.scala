package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model._

/** Distributed deduplication with the reference's identity semantics
  * (reference: biocypher/_deduplicate.py:31-111):
  *   - nodes are globally unique on `id` (across ALL labels);
  *   - edges are unique per label on `relId`, falling back to `src_tgt`;
  *   - rel-as-nodes are unique per relationship label on the reified node id.
  *
  * `dropDuplicates` compiles to a partial (map-side) + final hash aggregate,
  * so hub-entity skew is already two-phase; for extreme skew the explicit
  * salted variant pre-aggregates on (key, salt) before the global distinct,
  * bounding any single reducer's key width. AQE skew handling is enabled in
  * the session defaults (see graft.Sessions).
  */
object Dedup {

  /** Global node dedup on id. At 100 TB this is THE big shuffle of the
    * pipeline; keys are already pre-combined map-side. */
  def nodes(ds: Dataset[KgNode]): Dataset[KgNode] =
    ds.dropDuplicates("id")

  /** Per-label edge dedup on coalesce(relId, src_tgt). */
  def edges(ds: Dataset[KgEdge]): Dataset[KgEdge] = {
    implicit val enc = ModelEncoders.kgEdge
    ds.withColumn("_k", coalesce(col("relId"), concat_ws("_", col("src"), col("tgt"))))
      .dropDuplicates("label", "_k")
      .drop("_k")
      .as[KgEdge]
  }

  /** Rel-as-node dedup keyed on (node label, reified node id)
    * (reference: _deduplicate.py:83-111). */
  def relAsNodes(ds: Dataset[RelAsNode]): Dataset[RelAsNode] = {
    implicit val enc = ModelEncoders.relAsNode
    ds.withColumn("_lbl", col("node.label"))
      .withColumn("_id", col("node.id"))
      .dropDuplicates("_lbl", "_id")
      .drop("_lbl", "_id")
      .as[RelAsNode]
  }

  /** Salted two-phase distinct for heavily-skewed keys: local distinct on
    * (key, salt) shrinks the data before the global distinct on key.
    * Equivalent result to [[nodes]]; use when a handful of hub ids dominate.
    */
  def nodesSalted(ds: Dataset[KgNode], saltBuckets: Int = 64): Dataset[KgNode] = {
    implicit val enc = ModelEncoders.kgNode
    ds.withColumn("_salt", pmod(spark_partition_id(), lit(saltBuckets)))
      .dropDuplicates("id", "_salt") // phase 1: per-salt distinct (map-side heavy)
      .drop("_salt")
      .dropDuplicates("id")          // phase 2: tiny global distinct
      .as[KgNode]
  }

  /** Duplicate report — replaces the reference's in-memory duplicate sets
    * (reference: _deduplicate.py:113-140, _core.py:559-636):
    * (label, id, occurrences) for every entity id seen more than once. */
  def duplicateNodeReport(ds: Dataset[KgNode]): DataFrame =
    ds.groupBy("id")
      .agg(count(lit(1)).as("n"), first(col("label")).as("label"))
      .filter(col("n") > 1)
      .select(col("label"), col("id"), col("n"))

  def duplicateEdgeReport(ds: Dataset[KgEdge]): DataFrame =
    ds.withColumn("_k", coalesce(col("relId"), concat_ws("_", col("src"), col("tgt"))))
      .groupBy("label", "_k")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("label"), col("_k").as("id"), col("n"))

  /** Referential-integrity report — the third member of the QC family
    * (duplicates, missing input labels, and now DANGLING EDGES): every
    * (side, edge label, endpoint id) whose endpoint is NOT in the node id
    * set, with its occurrence count. `neo4j-admin import` hard-fails on a
    * missing `:START_ID`/`:END_ID`; finding them distributed, before the
    * bulk load, beats finding them one at a time in the importer's error
    * log. Inputs are plain frames: `edges` with (src, tgt, label),
    * `nodeIds` with (id).
    *
    * 100-TB shape: two thin LEFT ANTI joins (one per side) against the
    * node-id projection — broadcast when the node set is dictionary-
    * bounded, a shuffled hash join on the id otherwise — followed by one
    * map-side-combined count. The edge table is never shuffled on
    * anything but its own endpoint column. */
  def danglingEdgeReport(edges: DataFrame, nodeIds: DataFrame): DataFrame = {
    // BARRIER the distinct id set: both anti-join sides consume it, and
    // without the barrier each side re-runs the whole upstream node
    // pipeline (measured: the r8 kg_dangling plan built the node-id
    // aggregate twice, once per BuildRight). Node-set-sized rows.
    val ids = graft.Barrier(nodeIds.select(col("id").as("node_id")).distinct())
    def side(tag: String, c: String): DataFrame = edges
      .select(col(c).as("node_id"), col("label").as("edge_label"))
      .join(ids, Seq("node_id"), "left_anti")
      .groupBy(col("edge_label"), col("node_id"))
      .agg(count(lit(1)).as("n"))
      .select(lit(tag).as("side"), col("edge_label"), col("node_id"),
        col("n").cast("long").as("n"))
    side("src", "src").unionByName(side("tgt", "tgt"))
  }
}
