package graft.sinks

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.KgContext
import graft.model._

/** Plain per-type CSV writer — the reference's "just give me CSVs" path
  * (reference: output/write/relational/_csv.py): one `{type}.csv` per
  * entity type (sentence-case label, spaces/dots -> underscores), written
  * from the same property-pivoted frames as the in-memory path
  * ([[Tables.nodeFrames]]/[[Tables.edgeFrames]]), with a pandas-style
  * leading index column, plus an `import_pandas_csv.py` re-load script.
  *
  * Scale note: the reference grammar is ONE file per type (pandas to_csv),
  * so each frame is coalesced to a single partition before the write —
  * appropriate for the post-dedup entity tables this writer targets; for
  * corpus-scale exports use the batch sinks' part-file grammar instead. */
final class PandasCsvSink(
    val ctx: KgContext,
    val outDir: String,
    delimiter: String = ",",
) extends EntitySink {

  private var stored: ListMap[String, String] = ListMap.empty // type -> file stem
  private var rowsWritten: Map[String, Long] = Map.empty // type -> rows this session

  private def fileStem(entityType: String): String =
    entityType.replace(" ", "_").replace(".", "_")

  private def writeFrame(entityType: String, df: DataFrame, orderCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val stem = fileStem(entityType)
    // accumulate across calls like the reference's growing pandas frame:
    // session dedup makes each call's rows disjoint, so a second write of
    // the same type APPENDS (header skipped, index continued). The row
    // count is tracked IN the sink, not re-derived from file line counts
    // (CSV records with quoted embedded newlines span physical lines), so
    // a type's FIRST write this session replaces any stale file from an
    // earlier run — the reference writes each run into a fresh output dir;
    // for resumable multi-run output use the batch sinks
    val existingRows = rowsWritten.getOrElse(entityType, 0L)
    val newRows = df.count()
    // pandas to_csv writes the index as an unnamed leading column
    // (read back with index_col=0)
    val w = Window.orderBy(col(orderCol))
    val indexed = df.withColumn("", row_number().over(w) - 1 + existingRows)
      .select(col("") +: df.columns.toIndexedSeq.map(col): _*)
    // all file assembly through the Hadoop FileSystem API (no java.nio:
    // Paths.get collapses URI authorities, and appends must work where the
    // store has no POSIX append — the merged file is rebuilt and renamed in)
    val out = new Path(outDir)
    val conf = BatchSink.hadoopConf()
    val fs = graft.OutputFs.fs(out, conf)
    fs.mkdirs(out)
    val target = new Path(out, s"$stem.csv")
    val tmp = new Path(out, "_graft_csv_tmp_" + java.util.UUID.randomUUID().toString.take(8))
    indexed.coalesce(1).write.options(graft.OutputFs.writeOptions(tmp.toString, conf))
      .mode("overwrite").option("header", existingRows == 0).option("sep", delimiter).csv(tmp.toString)
    fs.listStatus(tmp).find(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .foreach { st =>
        if (existingRows == 0) graft.OutputFs.replace(fs, st.getPath, target)
        else {
          // append-free accumulate: concat existing + new into a sibling,
          // then swap — works on object stores without append support
          val merged = new Path(tmp, s"$stem.merged.csv")
          val os = fs.create(merged, true)
          try Seq(target, st.getPath).foreach { src =>
            val is = fs.open(src)
            try org.apache.hadoop.io.IOUtils.copyBytes(is, os, 65536, false)
            finally is.close()
          } finally os.close()
          graft.OutputFs.replace(fs, merged, target)
        }
      }
    fs.delete(tmp, true)
    stored += entityType -> stem
    rowsWritten += entityType -> (existingRows + newRows)
  }

  def writeNodes(nodes: Dataset[KgNode]): Unit = {
    Tables.nodeFrames(ctx, nodes).foreach { case (label, df) => writeFrame(label, df, "node_id") }
  }

  def writeEdges(edges: Dataset[KgEdge]): Unit = {
    Tables.edgeFrames(ctx, edges).foreach { case (label, df) => writeFrame(label, df, "source_id") }
  }

  def writeRelAsNodes(ds: Dataset[RelAsNode]): Unit = {
    val spark = ds.sparkSession
    import spark.implicits._
    writeNodes(ds.map(_.node))
    writeEdges(ds.flatMap(r => Seq(r.sourceEdge, r.targetEdge)))
  }

  /** The pandas re-load script (reference `_construct_import_call`). */
  def constructImportCall(): String =
    "import pandas as pd\n\n" + stored.values.map(stem =>
      s"$stem = pd.read_csv('./$stem.csv', header=0, index_col=0)\n").mkString

  def importScriptName: String = "import_pandas_csv.py"

  def writeImportCall(): String =
    BatchSink.writeDriverFile(outDir, importScriptName, constructImportCall())
}
