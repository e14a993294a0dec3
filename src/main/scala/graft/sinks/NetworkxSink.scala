package graft.sinks

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.KgContext
import graft.model._

/** NetworkX graph-artifact writer (reference: output/write/graph/
  * _networkx.py:24-41). The reference pickles an nx.DiGraph built on the
  * driver; a pickle is a Python-runtime artifact a JVM engine cannot (and
  * should not) emit, so the distributed analogue writes the graph as a
  * `networkx_graph/` parquet pair (nodes: node_id, node_label + pivoted
  * properties; edges: source_id, target_id, relationship_label) and the
  * import script reconstructs the same DiGraph with
  * `nx.from_pandas_edgelist` + node attribute injection — the loaded
  * object matches what the reference's `pickle.load` yields. */
final class NetworkxSink(
    val ctx: KgContext,
    val outDir: String,
) extends EntitySink {

  private def graphDir = s"$outDir/networkx_graph"

  // The reference accumulates all write calls into one nx.DiGraph before
  // pickling, so successive calls must ACCUMULATE here too: append mode
  // adds part files to the fixed schema instead of clobbering a prior
  // call's output (writeRelAsNodes' connector edges previously overwrote
  // plain edges within a single KgSession.writeEdges). The FIRST call of a
  // session overwrites, so a fresh run pointed at an existing outDir does
  // not silently merge with a previous run's graph (the reference avoids
  // this with a fresh timestamped dir per run).
  private var nodesWritten = false
  private var edgesWritten = false

  def writeNodes(nodes: Dataset[KgNode]): Unit = {
    Tables.nodeAttrs(ctx, nodes).foreach { all =>
      val dir = s"$graphDir/nodes.parquet"
      all.write.options(graft.OutputFs.writeOptions(dir, BatchSink.hadoopConf()))
        .mode(if (nodesWritten) "append" else "overwrite")
        .parquet(dir)
      nodesWritten = true
    }
  }

  def writeEdges(edges: Dataset[KgEdge]): Unit = {
    val dir = s"$graphDir/edges.parquet"
    edges.select(
      col("src").as("source_id"),
      col("tgt").as("target_id"),
      col("label").as("relationship_label"),
    ).write.options(graft.OutputFs.writeOptions(dir, BatchSink.hadoopConf()))
      .mode(if (edgesWritten) "append" else "overwrite")
      .parquet(dir)
    edgesWritten = true
  }

  def writeRelAsNodes(ds: Dataset[RelAsNode]): Unit = {
    val spark = ds.sparkSession
    import spark.implicits._
    writeNodes(ds.map(_.node))
    writeEdges(ds.flatMap(r => Seq(r.sourceEdge, r.targetEdge)))
  }

  /** Python code to rebuild the DiGraph (reference `_construct_import_call`
    * returns the pickle-load call; here it is the parquet-load + rebuild). */
  def constructImportCall(): String =
    """import json
      |import networkx as nx
      |import pandas as pd
      |
      |nodes = pd.read_parquet('./networkx_graph/nodes.parquet')
      |edges = pd.read_parquet('./networkx_graph/edges.parquet')
      |G_loaded = nx.from_pandas_edgelist(
      |    edges, 'source_id', 'target_id', 'relationship_label',
      |    create_using=nx.DiGraph)
      |for _, row in nodes.iterrows():
      |    attrs = json.loads(row['attrs']) if row['attrs'] else {}
      |    G_loaded.add_node(row['node_id'], node_label=row['node_label'], **attrs)
      |""".stripMargin

  def importScriptName: String = "import_networkx.py"

  def writeImportCall(): String =
    BatchSink.writeDriverFile(outDir, importScriptName, constructImportCall())
}
