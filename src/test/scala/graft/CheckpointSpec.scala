package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointStore

class CheckpointSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("commit + readOrCompute resumes without recompute") {
    val root = Files.createTempDirectory("graft-ckpt-").toString
    val store = new CheckpointStore(spark, root)
    var computes = 0
    def compute() = { computes += 1; spark.range(100).toDF("id") }
    val a = store.readOrCompute("s1")(compute())
    assert(a.count() == 100 && computes == 1)
    val b = store.readOrCompute("s1")(compute())
    assert(b.count() == 100 && computes == 1) // resumed, not recomputed
    assert(store.isCommitted("s1"))
  }

  test("range processing resumes only uncommitted ranges") {
    val root = Files.createTempDirectory("graft-ckpt-").toString
    val store = new CheckpointStore(spark, root)
    var calls = List.empty[(Long, Long)]
    def f(r: (Long, Long)) = { calls :+= r; spark.range(r._1, r._2).toDF("id") }
    val ranges = Seq((0L, 10L), (10L, 20L), (20L, 30L))
    val out = store.runRanges("docs", ranges)(f)
    assert(out.count() == 30 && calls.length == 3)
    // rerun: nothing recomputed
    val out2 = store.runRanges("docs", ranges)(f)
    assert(out2.count() == 30 && calls.length == 3)
    // extend the plan: only the new range runs
    val out3 = store.runRanges("docs", ranges :+ ((30L, 40L)))(f)
    assert(out3.count() == 40 && calls.length == 4)
    assert(store.committedRanges("docs") == Seq((0L, 10L), (10L, 20L), (20L, 30L), (30L, 40L)))
  }

  test("committedVersions lists live v<N> snapshots with holes after compaction") {
    val root = Files.createTempDirectory("graft-ckpt-").toString
    val store = new CheckpointStore(spark, root)
    assert(store.committedVersions("seen_node_ids") == Nil)
    store.commit("seen_node_ids/v1", spark.range(3).toDF("id"))
    store.commit("seen_node_ids/v3", spark.range(5).toDF("id"))
    assert(store.committedVersions("seen_node_ids") == Seq(1, 3))
    store.drop("seen_node_ids/v1") // compaction leaves a hole
    assert(store.committedVersions("seen_node_ids") == Seq(3))
    assert(store.committedVersions("seen_node_ids").maxOption.contains(3))
  }

  test("a versioned stage reads its head's versions as one snapshot; head retires what a crash left") {
    val root = Files.createTempDirectory("graft-ckpt-").toString
    val store = new CheckpointStore(spark, root)
    def ids(df: org.apache.spark.sql.DataFrame) = df.as[Long].collect().sorted.toSeq
    val v1 = store.publish(store.prepareVersion("log", None, spark.range(0, 3).toDF("id"), rebase = false))
    val v2 = store.publish(store.prepareVersion("log", Some(v1), spark.range(3, 5).toDF("id"), rebase = false))
    assert(v2.reads == Seq(1, 2) && store.committedVersions("log") == Seq(2))
    assert(ids(v2.frame) == (0L until 5L) && ids(store.read("log/v2")) == (0L until 5L))
    // a crash between v2's manifest and v1's retirement leaves v1 committed
    Files.writeString(java.nio.file.Paths.get(root, "stage=log", "v1", "_manifest.json"),
      """{"stage":"log/v1","versions":[1]}""")
    assert(store.committedVersions("log") == Seq(1, 2))
    val head = store.head("log", new org.apache.spark.sql.types.StructType().add("id", "long")).get
    assert(head.n == 2 && head.reads == Seq(1, 2) && ids(head.frame) == (0L until 5L))
    assert(store.committedVersions("log") == Seq(2))
    // a rebase holds the whole snapshot and drops the versions below it
    val v3 = store.publish(store.prepareVersion("log", Some(head),
      head.frame.union(spark.range(5, 6).toDF("id")), rebase = true))
    assert(v3.reads == Seq(3) && ids(store.read("log/v3")) == (0L until 6L))
    assert(new java.io.File(root, "stage=log").list().toSeq == Seq("v3"))
  }

  test("lineage manifests expose per-partition rows") {
    val root = Files.createTempDirectory("graft-ckpt-").toString
    val store = new CheckpointStore(spark, root)
    store.commit("stage_a", spark.range(50).repartition(4).toDF("id"))
    val lin = store.lineage()
    val row = lin.filter(col("stage") === "stage_a").head()
    assert(row.getAs[Long]("total_rows") == 50)
    assert(row.getAs[Long]("n_files") >= 1)
  }

  /** The manifest's partitions as (file, rows) plus its n_files/total_rows. */
  private def manifest(store: CheckpointStore, stage: String) = {
    val row = store.lineage().filter(col("stage") === stage).head()
    val parts = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("partitions")
    (Option(parts).getOrElse(Nil).map(p => p.getAs[String]("file") -> p.getAs[Long]("rows")).toMap,
      row.getAs[Long]("n_files"), row.getAs[Long]("total_rows"))
  }

  /** (file, rows) counted by scanning the committed files. */
  private def scanned(root: String, stage: String): Map[String, Long] =
    spark.read.parquet(s"$root/stage=$stage")
      .groupBy(input_file_name().as("f")).count().as[(String, Long)].collect()
      .map { case (f, n) => f.substring(f.lastIndexOf('/') + 1) -> n }.toMap

  test("footer-based manifest matches a scan of the committed files") {
    val root = Files.createTempDirectory("graft-ckpt-").toString
    val store = new CheckpointStore(spark, root)
    // 4 hash partitions over 3 distinct keys: at least one partition is empty
    store.commit("multi", spark.range(200).repartition(4, col("id") % 3).toDF("id"))
    val (parts, nFiles, total) = manifest(store, "multi")
    assert(parts == scanned(root, "multi"))
    assert(nFiles == parts.size && nFiles >= 1 && nFiles <= 3 && total == 200)
    store.commit("spread", spark.range(200).repartition(4).toDF("id"))
    val (sParts, sFiles, sTotal) = manifest(store, "spread")
    assert(sParts == scanned(root, "spread"))
    assert(sFiles == 4 && sTotal == 200 && sParts.values.sum == 200)
    store.commit("empty", spark.range(0).toDF("id"))
    val (eParts, eFiles, eTotal) = manifest(store, "empty")
    assert(eParts.isEmpty && scanned(root, "empty").isEmpty)
    assert(eFiles == 0 && eTotal == 0)
  }

  test("commit returns the committed schema, nullability included") {
    val root = Files.createTempDirectory("graft-ckpt-").toString
    val store = new CheckpointStore(spark, root)
    val df = spark.range(5).toDF("id").withColumn("tag", lit("t"))
      .withColumn("xs", array(lit(1), lit(2)))
    assert(!df.schema("tag").nullable && !df.schema("id").nullable)
    val first = store.readOrCompute("s")(df)
    val onDisk = spark.read.parquet(s"$root/stage=s").schema
    assert(first.schema == onDisk)
    val resumed = store.readOrCompute("s")(fail("a committed stage must not recompute"))
    assert(resumed.schema == first.schema)
    assert(first.orderBy("id").collect().toSeq == resumed.orderBy("id").collect().toSeq)
  }
}
