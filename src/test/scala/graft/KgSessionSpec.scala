package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator
import graft.checkpoint.CheckpointStore
import graft.model._
import graft.model.Props.Props

/** Mirrors the reference's core entry-point behaviors:
  * cross-call dedup (test/output/in_memory/test_pandas.py:36-40),
  * in-memory frames, import-call round trip. */
class KgSessionSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  def session(dbms: String = "neo4j") = new KgSession(
    spark, SparkTestBase.ctx, Files.createTempDirectory("graft-sess-").toString, dbms)

  def protein(id: String): RawNode =
    RawNode(id, "protein", Props.of(
      "name" -> PV.str("x"), "score" -> PV.dbl(1.0),
      "taxon" -> PV.int(9606), "genes" -> PV.arr(Seq("g"))))

  private def partLines(dir: String, fileLabel: String): List[String] = {
    val it = Files.list(java.nio.file.Path.of(dir)).iterator()
    var rows = List.empty[String]
    while (it.hasNext) {
      val p = it.next()
      if (p.getFileName.toString.startsWith(s"$fileLabel-part"))
        rows ++= Files.readAllLines(p).toArray(Array.empty[String]).toList
    }
    rows
  }

  /** The keys of a key space's seen log, read through its head version. */
  private def seenKeys(dir: String, space: String): Set[String] = {
    val store = new CheckpointStore(spark, s"$dir/_graft_checkpoint")
    store.read(s"$space/v${store.committedVersions(space).max}").select("_k").as[String].collect().toSet
  }

  test("duplicates are dropped across successive add calls (first wins)") {
    val s = session()
    s.addNodes(spark.createDataset(Seq(protein("p1"), protein("p2"))))
    s.addNodes(spark.createDataset(Seq(protein("p2"), protein("p3"))))
    val frames = s.toDf()
    assert(frames("protein").count() == 3)
  }

  test("toDf pivots declared properties into typed columns") {
    val s = session()
    s.addNodes(spark.createDataset(Seq(protein("p1"))))
    val df = s.toDf()("protein")
    assert(df.columns.toSet ==
      Set("node_id", "node_label", "name", "score", "taxon", "genes", "id", "preferred_id"))
    val row = df.head()
    assert(row.getAs[String]("node_id") == "p1")
    assert(row.getAs[Long]("taxon") == 9606L)
    assert(row.getAs[Double]("score") == 1.0)
  }

  test("toDf edge frames carry pivoted property columns (reference _pandas.py:87-95)") {
    val s = session()
    s.addEdges(spark.createDataset(Seq(
      RawEdge("r1", "p1", "p2", "phosphorylation",
        Props.of("score" -> PV.dbl(0.7), "directed" -> PV.bool(true))),
      RawEdge("r2", "p2", "p3", "phosphorylation",
        Props.of("score" -> PV.dbl(0.9), "directed" -> PV.bool(false))))))
    val df = s.toDf()("phosphorylation")
    assert(df.columns.toSet == Set("relationship_id", "source_id", "target_id",
      "relationship_label", "score", "directed"),
      s"edge frame must carry its property columns, got ${df.columns.mkString(",")}")
    val r1 = df.filter(df("relationship_id") === "r1").head()
    assert(r1.getAs[String]("source_id") == "p1")
    assert(r1.getAs[String]("relationship_label") == "phosphorylation")
    assert(r1.getAs[Double]("score") == 0.7)
    assert(r1.getAs[Boolean]("directed"))
  }

  test("write path: nodes -> parts + headers + import call") {
    val s = session()
    s.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p1"), protein("p2"))))
    val path = s.writeImportCall()
    val script = Files.readString(java.nio.file.Path.of(path))
    assert(script.contains("neo4j-admin"))
    val parts = Files.list(java.nio.file.Path.of(s.outDir)).iterator()
    var found = false
    while (parts.hasNext) { if (parts.next().getFileName.toString.startsWith("Protein-part")) found = true }
    assert(found)
  }

  test("rel-as-node edges write nodes before connector edges") {
    val s = session()
    val raw = spark.createDataset(Seq(
      RawEdge(null, "a", "b", "post_translational",
        Props.of("directed" -> PV.bool(true)))))
    s.writeEdges(raw)
    val files = Files.list(java.nio.file.Path.of(s.outDir)).iterator()
    val names = scala.collection.mutable.Set[String]()
    while (files.hasNext) names += files.next().getFileName.toString
    assert(names.exists(_.startsWith("PostTranslationalInteraction-part")))
    assert(names.exists(_.startsWith("IS_SOURCE_OF-part")))
    assert(names.exists(_.startsWith("IS_TARGET_OF-part")))
  }

  test("cross-call dedup also applies to the write path") {
    val s = session()
    s.writeNodes(spark.createDataset(Seq(protein("p1"))))
    s.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2"))))
    // p1 written once: part000 has 1 row, part001 has only p2
    val rows = partLines(s.outDir, "Protein")
    assert(rows.count(_.startsWith("p1;")) == 1)
    assert(rows.count(_.startsWith("p2;")) == 1)
  }

  test("writeNodes evaluates its input once when a live snapshot exists") {
    val s = session()
    s.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2"))))
    val acc = spark.sparkContext.longAccumulator("node input rows")
    val input = Seq(protein("p2"), protein("p3"), protein("p3"), protein("p4"))
    s.writeNodes(spark.createDataset(input).map(KgSessionSpec.countingNode(acc)))
    assert(acc.value == input.length,
      s"each input row must be evaluated once, saw ${acc.value} for ${input.length}")
    val lines = partLines(s.outDir, "Protein")
    assert(Seq("p1", "p2", "p3", "p4").map(id => lines.count(_.startsWith(s"$id;"))) ==
      Seq(1, 1, 1, 1))
    assert(lines.length == 4)
    assert(seenKeys(s.outDir, "seen_node_ids") == Set("p1", "p2", "p3", "p4"))
  }

  test("writeEdges evaluates its input once: rel-as-node and plain edges") {
    val s = session()
    val directed = Props.of("directed" -> PV.bool(true))
    s.writeEdges(spark.createDataset(Seq(
      RawEdge("r1", "p1", "p2", "phosphorylation", Props.empty),
      RawEdge("t1", "a", "b", "post_translational", directed))))
    val acc = spark.sparkContext.longAccumulator("edge input rows")
    val input = Seq(
      RawEdge("r1", "p1", "p2", "phosphorylation", Props.empty), // seen
      RawEdge("r2", "p2", "p3", "phosphorylation", Props.empty),
      RawEdge("t1", "a", "b", "post_translational", directed), // seen
      RawEdge("t2", "c", "d", "post_translational", directed),
      RawEdge("t2", "c", "d", "post_translational", directed)) // in-call duplicate
    s.writeEdges(spark.createDataset(input).map(KgSessionSpec.countingEdge(acc)))
    assert(acc.value == input.length,
      s"each input row must be evaluated once, saw ${acc.value} for ${input.length}")
    assert(partLines(s.outDir, "Phosphorylation").map(_.split(";")(0)).sorted == List("p1", "p2"))
    assert(partLines(s.outDir, "PostTranslationalInteraction").map(_.split(";")(0)).sorted ==
      List("t1", "t2"))
    assert(partLines(s.outDir, "IS_SOURCE_OF").length == 2)
    assert(partLines(s.outDir, "IS_TARGET_OF").length == 2)
    assert(seenKeys(s.outDir, "seen_edge_keys") ==
      Set("phosphorylation\u0000r1", "phosphorylation\u0000r2"))
    assert(seenKeys(s.outDir, "seen_rel_keys") ==
      Set("post translational interaction\u0000t1", "post translational interaction\u0000t2"))
  }

  test("a second session's four write calls compile no new classes (codegen cache reuse)") {
    val ctx = KgSessionSpec.declaredCtx
    def gene(i: Int) = RawNode(s"hgnc:$i", "gene", Props.of(
      "name" -> PV.str(s"G$i"), "start" -> PV.int(i * 100L), "aliases" -> PV.arr(Seq(s"a$i"))))
    def disease(i: Int) = RawNode(s"mondo:$i", "disease", Props.of("name" -> PV.str(s"D$i")))
    def gda(i: Int) = RawEdge(s"gda:$i", s"hgnc:$i", s"mondo:${i % 3}", "gene_disease", Props.of(
      "score" -> PV.dbl(i / 10.0), "directed" -> PV.bool(i % 2 == 0)))
    def gg(i: Int) = RawEdge(null, s"hgnc:$i", s"hgnc:${i + 1}", "gg", Props.of("score" -> PV.dbl(0.5)))
    def job(): Unit = {
      val s = new KgSession(spark, ctx, Files.createTempDirectory("graft-codegen-").toString)
      s.writeNodes(spark.createDataset((0 until 6).map(gene) ++ (0 until 3).map(disease) :+ gene(0)))
      s.writeEdges(spark.createDataset((0 until 6).map(gda) ++ (0 until 5).map(gg) :+ gda(1)))
      s.writeNodes(spark.createDataset((4 until 9).map(gene) ++ (2 until 4).map(disease)))
      s.writeEdges(spark.createDataset((4 until 9).map(gda) ++ (3 until 8).map(gg)))
      s.writeImportCall()
      assert(partLines(s.outDir, "Gene").length == 9)
      assert(partLines(s.outDir, "GeneToDiseaseAssociation").length == 9)
      assert(partLines(s.outDir, "INTERACTS_WITH").length == 8)
    }
    job()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    job()
    val more = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(more == 0, s"the second session compiled $more new classes")
  }

  test("a re-sent seen id never raises; a fresh inconsistent row does") {
    val s = session()
    val declared = protein("p").props
    def forced(id: String, props: Props) = KgNode.make(id, "protein", "uniprot", props)
    val other = Props.of("other" -> PV.str("x"))
    s.writeNodesForce(spark.createDataset(Seq(forced("p1", declared))))
    // p1 is seen: its row is dropped before the write, so it cannot raise
    s.writeNodesForce(spark.createDataset(Seq(forced("p1", other), forced("p2", declared))))
    assert(partLines(s.outDir, "Protein").map(_.split(";")(0)).sorted == List("p1", "p2"))
    // an open class: the layout comes from the first fresh row, not the seen one
    s.writeNodes(spark.createDataset(Seq(RawNode("m1", "mirna", Props.of("name" -> PV.str("a"))))))
    s.writeNodes(spark.createDataset(Seq(RawNode("m1", "mirna", other),
      RawNode("m2", "mirna", Props.of("name" -> PV.str("b"))))))
    assert(partLines(s.outDir, "MicroRNA").map(_.split(";")(0)).sorted == List("m1", "m2"))
    val store = new CheckpointStore(spark, s"${s.outDir}/_graft_checkpoint")
    val before = store.committedVersions("seen_node_ids")
    assert(before.length == 1)
    val ex = intercept[Exception] {
      s.writeNodesForce(spark.createDataset(Seq(forced("p3", other))))
    }
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null &&
      m.contains("At least one node p3 of the class protein has more or fewer properties than another.")))
    // the snapshot prepared beside the failed write (it reads only `_k`,
    // so it succeeds) is never published: the seen state is unchanged
    assert(store.committedVersions("seen_node_ids") == before)
    val stageDirs = new java.io.File(s"${s.outDir}/_graft_checkpoint/stage=seen_node_ids").list()
    assert(stageDirs.filter(_.startsWith("v")).toSet == (1 to before.head).map(v => s"v$v").toSet)
    s.writeNodesForce(spark.createDataset(Seq(forced("p3", declared))))
    assert(partLines(s.outDir, "Protein").map(_.split(";")(0)).sorted == List("p1", "p2", "p3"))
  }

  test("a write call starts no Spark job outside a SQL execution") {
    val s = session()
    val sc = spark.sparkContext
    val (group, last, call) = ("graft-write-call-jobs", "graft.spec.last", "graft.spec.call")
    val outside = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // per job: its write call, and whether it runs a stage whose own RDD is
    // a cached one (the stage that builds, or finds, the call's cache)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val seenLast = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group) {
          if (p.getProperty(last) != null) seenLast.countDown()
          else {
            if (p.getProperty("spark.sql.execution.id") == null) outside.add(j.jobId)
            jobs.add(p.getProperty(call) -> j.stageInfos.exists(
              _.rddInfos.headOption.exists(_.storageLevel != StorageLevel.NONE)))
          }
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "write calls")
    try {
      val directed = Props.of("directed" -> PV.bool(true))
      def edges(i: Int) = spark.createDataset(Seq(
        RawEdge(s"r$i", "p1", "p2", "phosphorylation", Props.empty),
        RawEdge(s"t$i", "a", "b", "post_translational", directed)))
      def inCall(i: Int)(write: => Unit): Unit = { sc.setLocalProperty(call, i.toString); write }
      inCall(1)(s.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2")))))
      inCall(2)(s.writeEdges(edges(1)))
      // the second calls anti-join a live snapshot per key space
      inCall(3)(s.writeNodes(spark.createDataset(Seq(protein("p2"), protein("p3")))))
      inCall(4)(s.writeEdges(edges(2)))
      // listener events arrive in order: once this job's start is seen,
      // every write call's job has been seen
      sc.setLocalProperty(last, "1")
      sc.parallelize(Seq(1), 1).count()
      assert(seenLast.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(last, null)
      sc.setLocalProperty(call, null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(outside.isEmpty, s"jobs ${outside.toArray.mkString(", ")} ran outside a SQL execution")
    assert(partLines(s.outDir, "Protein").length == 3)
    val calls = Seq("1", "2", "3", "4")
    val perCall = jobs.toArray(Array.empty[(String, Boolean)]).toSeq.groupBy(_._1)
    // the cache is built before its consumers start, so none of them
    // submits a cache stage of its own
    assert(calls.map(c => perCall(c).count(_._2)) == Seq(1, 1, 1, 1))
    assert(calls.map(c => perCall(c).length) == Seq(5, 6, 6, 7))
  }

  test("a small call writes one part file per label and one Parquet file per seen snapshot") {
    val s = session()
    val directed = Props.of("directed" -> PV.bool(true))
    s.writeNodes(spark.createDataset((1 to 20).map(i => protein(s"p$i"))))
    s.writeEdges(spark.createDataset((1 to 20).flatMap(i => Seq(
      RawEdge(s"r$i", s"p$i", s"p${i + 1}", "phosphorylation", Props.empty),
      RawEdge(s"t$i", s"a$i", s"b$i", "post_translational", directed)))))
    // the second nodes call appends its fresh keys to the node log
    s.writeNodes(spark.createDataset((15 to 30).map(i => protein(s"p$i"))))
    val parts = new java.io.File(s.outDir).list().filter(n => n.contains("-part") && !n.startsWith("."))
      .sorted.toSeq
    assert(parts == Seq("IS_SOURCE_OF-part000.csv", "IS_TARGET_OF-part000.csv",
      "Phosphorylation-part000.csv", "PostTranslationalInteraction-part000.csv",
      "Protein-part000.csv", "Protein-part001.csv"))
    assert(partLines(s.outDir, "Protein").length == 30)
    val store = new CheckpointStore(spark, s"${s.outDir}/_graft_checkpoint")
    val spaces = Seq("seen_node_ids" -> 2, "seen_rel_keys" -> 1, "seen_edge_keys" -> 1)
    spaces.foreach { case (space, head) =>
      assert(store.committedVersions(space) == Seq(head))
      // the base and each delta: one Parquet file per version
      (1 to head).foreach { v =>
        val files = new java.io.File(s"${s.outDir}/_graft_checkpoint/stage=$space/v$v").list()
        assert(files.count(_.endsWith(".parquet")) == 1, s"$space/v$v: ${files.mkString(", ")}")
      }
    }
    assert(seenKeys(s.outDir, "seen_node_ids") == (1 to 30).map(i => s"p$i").toSet)
    // the head's manifest describes its own files and names the versions it reads
    val lineage = store.lineage().select("stage", "n_files", "total_rows").as[(String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(lineage == Seq(("seen_edge_keys/v1", 1L, 20L), ("seen_node_ids/v2", 1L, 10L),
      ("seen_rel_keys/v1", 1L, 20L)))
    assert(store.lineage().filter($"stage" === "seen_node_ids/v2").select("versions")
      .as[Seq[Long]].head() == Seq(1L, 2L))
    // neither the snapshots nor the part-file staging leave a `_SUCCESS`
    val success = Files.walk(java.nio.file.Path.of(s.outDir)).filter(_.getFileName.toString == "_SUCCESS")
    try assert(success.count() == 0) finally success.close()
  }

  test("a call larger than the advisory partition size still writes several files") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    def ids(lines: List[String]) = lines.map(_.split(";")(0))
    def protParts(dir: String) = new java.io.File(dir).list().filter(_.startsWith("Protein-part")).sorted.toSeq
    def snapshotFiles(dir: String, v: Int) =
      new java.io.File(s"$dir/_graft_checkpoint/stage=seen_node_ids/v$v").list().count(_.endsWith(".parquet"))
    def calls(s: KgSession)(between: => Unit): Unit = {
      s.writeNodes(spark.createDataset((0 until 3000).map(i => protein(s"p$i"))))
      between
      s.writeNodes(spark.createDataset((2000 until 4000).map(i => protein(s"p$i"))))
    }
    val small = session()
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "4k")
    try calls(small) {
      val parts = protParts(small.outDir)
      assert(parts.length > 1, parts.mkString(", "))
      assert(parts == parts.indices.map(i => f"Protein-part$i%03d.csv"))
      assert(snapshotFiles(small.outDir, 1) > 1)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val parts = protParts(small.outDir)
    assert(parts == parts.indices.map(i => f"Protein-part$i%03d.csv"))
    assert(snapshotFiles(small.outDir, 2) > 1)
    // the second call drops the ids the first one wrote
    val lines = partLines(small.outDir, "Protein")
    assert(ids(lines).sorted == (0 until 4000).map(i => s"p$i").sorted)
    val default = session()
    calls(default)(())
    assert(protParts(default.outDir) == Seq("Protein-part000.csv", "Protein-part001.csv"))
    assert(lines.sorted == partLines(default.outDir, "Protein").sorted)
  }

  test("an open schema class written through writeNodes: header and cells from the row's props") {
    val s = session()
    s.writeNodes(spark.createDataset(Seq(RawNode("m1", "mirna", Props.of(
      "name" -> PV.str("let-7"), "length" -> PV.int(22), "targets" -> PV.arr(Seq("a", "b")))))))
    s.writeImportCall()
    assert(Files.readString(java.nio.file.Path.of(s.outDir, "MicroRNA-header.csv")) ==
      ":ID;name;length:long;targets;id;preferred_id;:LABEL")
    val lines = partLines(s.outDir, "MicroRNA")
    assert(lines.length == 1 && lines.head.startsWith("m1;'let-7';22;'a|b';'m1';'mirbase.mature';"),
      s"got $lines")
  }

  test("seen state is checkpointed: a NEW session over the same outDir resumes dedup") {
    val dir = Files.createTempDirectory("graft-resume-").toString
    val a = new KgSession(spark, SparkTestBase.ctx, dir)
    a.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2"))))
    // fresh session, same outDir: p1/p2 already seen (checkpointed snapshot)
    val b = new KgSession(spark, SparkTestBase.ctx, dir)
    b.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2"), protein("p3"))))
    val rows = partLines(dir, "Protein")
    assert(rows.count(_.startsWith("p1;")) == 1)
    assert(rows.count(_.startsWith("p2;")) == 1)
    assert(rows.count(_.startsWith("p3;")) == 1)
  }

  private def walk(dir: String): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val w = Files.walk(java.nio.file.Path.of(dir))
    try w.iterator().asScala.toList finally w.close()
  }

  test("a local outDir gets no .crc sidecar and default permissions on any file or dir") {
    import org.apache.hadoop.fs.permission.FsPermission
    // the session creates the outDir itself, so its mode is the library's too
    val dir = Files.createTempDirectory("graft-crc-").resolve("out").toString
    val a = new KgSession(spark, SparkTestBase.ctx, dir)
    a.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2"))))
    a.writeEdges(spark.createDataset(Seq(RawEdge("r1", "p1", "p2", "phosphorylation", Props.empty))))
    a.writeImportCall()
    val b = new KgSession(spark, SparkTestBase.ctx, dir)
    b.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p3"))))
    b.writeImportCall()
    val paths = walk(dir)
    val names = paths.map(_.getFileName.toString)
    val kinds = Seq[(String, String => Boolean)](
      "part file" -> (n => n.contains("-part") && n.endsWith(".csv")),
      "snapshot file" -> (_.endsWith(".parquet")),
      "manifest" -> (_ == "_manifest.json"),
      "header" -> (_.endsWith("-header.csv")),
      "import script" -> (_.endsWith("-import-call.sh")))
    kinds.foreach { case (kind, is) => assert(names.exists(is), s"no $kind in ${names.mkString(", ")}") }
    val sidecars = names.filter(_.endsWith(".crc"))
    assert(sidecars.isEmpty, sidecars.mkString(", "))
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    def mode(p: FsPermission) = p.applyUMask(umask).toString
    val wrong = paths.flatMap { p =>
      val want = mode(if (Files.isDirectory(p)) FsPermission.getDirDefault else FsPermission.getFileDefault)
      val got = java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      if (got == want) None else Some(s"$p: $got, want $want")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    // the manifests still read, and the resumed session deduped against them
    val store = new CheckpointStore(spark, s"$dir/_graft_checkpoint")
    assert(store.lineage().count() > 0)
    assert(partLines(dir, "Protein").map(_.takeWhile(_ != ';')).sorted == List("p1", "p2", "p3"))
    // a sidecar from an earlier checksummed write is dropped with the old content
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val header = new org.apache.hadoop.fs.Path(dir, "Protein-header.csv")
    val os = fs.create(header, true)
    try os.write("old".getBytes("UTF-8")) finally os.close()
    assert(fs.exists(fs.getChecksumFile(header)))
    b.writeImportCall()
    assert(!fs.exists(fs.getChecksumFile(header)))
    val in = fs.open(header)
    try assert(new String(in.readAllBytes(), "UTF-8").startsWith(":ID;")) finally in.close()
  }

  test("a four-call session and its import call into a local outDir start no process there") {
    import scala.jdk.CollectionConverters._
    // a real path: Hadoop names the canonical path in its `chmod` command
    val dir = Files.createTempDirectory("graft-spawn-").toRealPath().toString
    val s = new KgSession(spark, SparkTestBase.ctx, dir)
    val directed = Props.of("directed" -> PV.bool(true))
    def edges(i: Int) = spark.createDataset(Seq(
      RawEdge(s"r$i", "p1", "p2", "phosphorylation", Props.empty),
      RawEdge(s"t$i", "a", "b", "post_translational", directed)))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    try {
      s.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2"))))
      s.writeEdges(edges(1))
      s.writeNodes(spark.createDataset(Seq(protein("p2"), protein("p3"))))
      s.writeEdges(edges(2))
      s.writeImportCall()
    } finally rec.stop()
    val dump = Files.createTempFile("graft-spawn-", ".jfr")
    try {
      rec.dump(dump)
      val spawns = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).filter(c => c != null && c.contains(dir))
      assert(spawns.isEmpty,
        s"${spawns.size} process starts name the outDir: ${spawns.take(3).mkString("; ")}")
    } finally { rec.close(); Files.delete(dump) }
    assert(partLines(dir, "Protein").length == 3)
  }

  test("an outDir whose snapshots carry .crc sidecars still resumes its seen keys") {
    val dir = Files.createTempDirectory("graft-crc-resume-").toString
    new KgSession(spark, SparkTestBase.ctx, dir)
      .writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2"))))
    // rewrite every checkpoint file through the default, checksummed local FS
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val files = walk(s"$dir/_graft_checkpoint").filter(Files.isRegularFile(_))
    files.foreach { f =>
      val bytes = Files.readAllBytes(f)
      val os = fs.create(new org.apache.hadoop.fs.Path(f.toUri), true)
      try os.write(bytes) finally os.close()
    }
    assert(files.exists(_.getFileName.toString.endsWith(".parquet")))
    assert(walk(dir).count(_.getFileName.toString.endsWith(".crc")) == files.length)
    val b = new KgSession(spark, SparkTestBase.ctx, dir)
    b.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2"), protein("p3"))))
    assert(partLines(dir, "Protein").map(_.takeWhile(_ != ';')).sorted == List("p1", "p2", "p3"))
    assert(seenKeys(dir, "seen_node_ids") == Set("p1", "p2", "p3"))
  }

  /** Each label's part-file lines as a multiset, and each header file. */
  private def artifacts(dir: String): Map[String, Map[String, Int]] =
    new java.io.File(dir).listFiles().toSeq.filter(_.isFile).map(_.getName)
      .collect {
        case n if n.contains("-part") => n.substring(0, n.indexOf("-part")) -> n
        case n if n.endsWith("-header.csv") => n -> n
      }
      .groupBy(_._1).map { case (label, fs) => label -> SparkTestBase.multiset(fs.flatMap { case (_, n) =>
        Files.readAllLines(java.nio.file.Path.of(dir, n)).toArray(Array.empty[String]).toSeq
      }) }

  private val seenSchema = new org.apache.spark.sql.types.StructType()
    .add("_k", "string").add("_ts", "long")

  test("a crash between a delta's data and its manifest resumes like an uninterrupted session") {
    val directed = Props.of("directed" -> PV.bool(true))
    def edges(ids: Seq[Int]) = spark.createDataset(ids.flatMap(i => Seq(
      RawEdge(s"r$i", s"p$i", s"p${i + 1}", "phosphorylation", Props.empty),
      RawEdge(s"t$i", s"a$i", s"b$i", "post_translational", directed))))
    def nodes(ids: Seq[Int]) = spark.createDataset(ids.map(i => protein(s"p$i")))
    val calls: Seq[KgSession => Unit] = Seq(
      _.writeNodes(nodes(1 to 4)), _.writeEdges(edges(1 to 3)),
      _.writeNodes(nodes(3 to 8)), _.writeEdges(edges(2 to 6)))
    val whole = session()
    calls.foreach(_(whole))
    whole.writeImportCall()

    val dir = Files.createTempDirectory("graft-crash-").toString
    val a = new KgSession(spark, SparkTestBase.ctx, dir)
    calls.take(2).foreach(_(a))
    // the third call wrote its node delta and died before the manifest
    val store = new CheckpointStore(spark, s"$dir/_graft_checkpoint")
    val head = store.head("seen_node_ids", seenSchema)
    store.prepareVersion("seen_node_ids", head,
      (3 to 8).map(i => s"p$i").toDF("_k").withColumn("_ts", org.apache.spark.sql.functions.lit(0L)),
      rebase = false)
    assert(new java.io.File(s"$dir/_graft_checkpoint/stage=seen_node_ids/v2").isDirectory)
    assert(store.committedVersions("seen_node_ids") == Seq(1))
    val b = new KgSession(spark, SparkTestBase.ctx, dir)
    calls.drop(2).foreach(_(b))
    b.writeImportCall()

    Seq("seen_node_ids", "seen_rel_keys", "seen_edge_keys").foreach { space =>
      assert(seenKeys(dir, space) == seenKeys(whole.outDir, space), space)
    }
    assert(seenKeys(dir, "seen_node_ids") == (1 to 8).map(i => s"p$i").toSet)
    assert(artifacts(dir) == artifacts(whole.outDir))
    assert(artifacts(dir)("Protein").keys.map(_.takeWhile(_ != ';')).toSet == seenKeys(dir, "seen_node_ids"))
  }

  test("the call after MaxVersions versions compacts the log into one version of the live keys") {
    var clock = 0L
    val s = new KgSession(spark, SparkTestBase.ctx, Files.createTempDirectory("graft-compact-").toString,
      seenTtlMs = Some(1000L), nowMs = () => clock)
    val store = new CheckpointStore(spark, s"${s.outDir}/_graft_checkpoint")
    def call(i: Int): Unit = {
      clock = 200L * i
      // each call re-sends p0, so it stays live; p<i> is seen once
      s.writeNodes(spark.createDataset(Seq(protein("p0"), protein(s"p$i"))))
    }
    (0 until KgSession.MaxVersions).foreach(call)
    val logDir = new java.io.File(s"${s.outDir}/_graft_checkpoint/stage=seen_node_ids")
    assert(logDir.list().toSet == (1 to KgSession.MaxVersions).map(v => s"v$v").toSet)
    assert(seenKeys(s.outDir, "seen_node_ids") == (0 until KgSession.MaxVersions).map(i => s"p$i").toSet)
    val k = KgSession.MaxVersions
    call(k)
    // cut-off 200k - 1000: keys last seen before call k - 5 expired
    val live = (Seq(0) ++ (k - 5 to k)).map(i => s"p$i").toSet
    assert(logDir.list().toSeq == Seq(s"v${k + 1}"))
    assert(store.committedVersions("seen_node_ids") == Seq(k + 1))
    assert(seenKeys(s.outDir, "seen_node_ids") == live)
    val rows = store.read(s"seen_node_ids/v${k + 1}").as[(String, Long)].collect().toMap
    assert(rows == live.map(id => id -> (if (id == "p0") 200L * k
      else 200L * id.drop(1).toInt)).toMap)
    // the compacted log still dedups, and the next call appends to it
    clock = 200L * (k + 1)
    s.writeNodes(spark.createDataset(Seq(protein(s"p$k"), protein("p1"))))
    assert(partLines(s.outDir, "Protein").count(_.startsWith("p1;")) == 2)
    assert(partLines(s.outDir, "Protein").count(_.startsWith(s"p$k;")) == 1)
    assert(logDir.list().toSet == Set(s"v${k + 1}", s"v${k + 2}"))

    // without a TTL the compacted version is the union of the disjoint deltas
    val plain = session()
    (0 to k).foreach(i => plain.writeNodes(spark.createDataset(Seq(protein(s"p$i"), protein(s"p${i + 1}")))))
    val plainStore = new CheckpointStore(spark, s"${plain.outDir}/_graft_checkpoint")
    assert(plainStore.committedVersions("seen_node_ids") == Seq(k + 1))
    val keys = plainStore.read(s"seen_node_ids/v${k + 1}").select("_k").as[String].collect().toSeq
    assert(keys.sorted == (0 to k + 1).map(i => s"p$i").sorted)
    assert(partLines(plain.outDir, "Protein").length == k + 2)
  }

  test("an outDir holding one whole seen snapshot from before the log resumes and appends") {
    val dir = Files.createTempDirectory("graft-whole-snapshot-").toString
    val store = new CheckpointStore(spark, s"$dir/_graft_checkpoint")
    // the earlier layout: one compacted snapshot, its manifest naming no versions
    store.commit("seen_node_ids/v3", Seq("p1", "p2").toDF("_k")
      .withColumn("_ts", org.apache.spark.sql.functions.lit(5L)))
    assert(store.lineage().columns.toSeq.intersect(Seq("versions")).isEmpty)
    val s = new KgSession(spark, SparkTestBase.ctx, dir)
    s.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2"), protein("p3"))))
    assert(partLines(dir, "Protein").map(_.takeWhile(_ != ';')) == List("p3"))
    assert(store.committedVersions("seen_node_ids") == Seq(4))
    assert(seenKeys(dir, "seen_node_ids") == Set("p1", "p2", "p3"))
    assert(new java.io.File(s"$dir/_graft_checkpoint/stage=seen_node_ids").list().sorted.toSeq ==
      Seq("v3", "v4"))
    new KgSession(spark, SparkTestBase.ctx, dir)
      .writeNodes(spark.createDataset(Seq(protein("p2"), protein("p4"))))
    assert(partLines(dir, "Protein").map(_.takeWhile(_ != ';')).sorted == List("p3", "p4"))
    assert(seenKeys(dir, "seen_node_ids") == Set("p1", "p2", "p3", "p4"))
  }

  test("rel-as-node entities are session-deduped across writeEdges calls") {
    val s = session()
    val raw = spark.createDataset(Seq(
      RawEdge(null, "a", "b", "post_translational",
        Props.of("directed" -> PV.bool(true)))))
    s.writeEdges(raw)
    s.writeEdges(raw) // same reified relationship again: must NOT rewrite
    assert(partLines(s.outDir, "PostTranslationalInteraction").length == 1)
  }

  test("sink factory covers rdf, plain csv and networkx writers") {
    val rdf = session("rdf")
    rdf.writeNodes(spark.createDataset(Seq(protein("p:1"))))
    val rdfNames = {
      val it = Files.list(java.nio.file.Path.of(rdf.outDir)).iterator()
      val b = scala.collection.mutable.Set[String]()
      while (it.hasNext) b += it.next().getFileName.toString
      b
    }
    assert(rdfNames.exists(_.startsWith("Protein-part")))
    val csv = session("csv")
    csv.writeNodes(spark.createDataset(Seq(protein("p1"))))
    assert(Files.exists(java.nio.file.Path.of(csv.outDir, "protein.csv")))
    val script = Files.readString(java.nio.file.Path.of(csv.writeImportCall()))
    assert(script.contains("pd.read_csv('./protein.csv'"))
    val nx = session("networkx")
    nx.writeNodes(spark.createDataset(Seq(protein("p1"))))
    nx.writeEdges(spark.createDataset(Seq(
      RawEdge("r1", "p1", "p1", "phosphorylation", Props.empty))))
    assert(Files.isDirectory(java.nio.file.Path.of(nx.outDir, "networkx_graph")))
    assert(Files.readString(java.nio.file.Path.of(nx.writeImportCall()))
      .contains("nx.from_pandas_edgelist"))
  }

  test("plain csv sink appends across calls: one header, continued index") {
    val s = session("csv")
    s.writeNodes(spark.createDataset(Seq(protein("p1"), protein("p2"))))
    s.writeNodes(spark.createDataset(Seq(protein("p3")))) // disjoint after dedup
    val lines = Files.readAllLines(
      java.nio.file.Path.of(s.outDir, "protein.csv")).toArray(Array.empty[String])
    assert(lines.count(_.contains("node_id")) == 1, "exactly one header")
    assert(lines.length == 4) // header + 3 rows
    // pandas index continues across the append
    assert(lines.drop(1).map(_.takeWhile(_ != ',')).sorted.toSeq == Seq("0", "1", "2"))
    assert(lines.exists(_.contains("p3")))
  }

  test("networkx sink accumulates edges across writeEdges and writeRelAsNodes") {
    val s = session("networkx")
    s.writeEdges(spark.createDataset(Seq(
      RawEdge("r1", "p1", "p2", "phosphorylation", Props.empty))))
    // rel-as-node edges land in a writeRelAsNodes call AFTER plain edges:
    // pre-fix this overwrote the earlier edges.parquet
    s.writeEdges(spark.createDataset(Seq(
      RawEdge(null, "p1", "p2", "post_translational",
        Props.of("directed" -> PV.bool(true))))))
    val edges = spark.read.parquet(s"${s.outDir}/networkx_graph/edges.parquet")
    val labels = edges.select("relationship_label").as[String].collect().toSet
    assert(labels.contains("phosphorylation"))
    assert(labels.contains("IS_SOURCE_OF") && labels.contains("IS_TARGET_OF"),
      s"rel-as-node connector edges must coexist with plain edges, got $labels")
  }

  test("schema info yaml marks present classes") {
    val s = session()
    val ns = spark.createDataset(Seq(
      KgNode.make("p1", "protein", "uniprot", Props.empty)))
    val es = spark.emptyDataset[KgEdge]
    val yaml = s.schemaInfoYaml(ns, es)
    assert(yaml.contains("protein:\n  represented_as: node\n  present_in_knowledge_graph: True"))
    assert(yaml.contains("microRNA:\n  represented_as: node\n  present_in_knowledge_graph: False"))
  }

  test("writeNodesForce writes out-of-schema labels through the sink (reference force=True, _batch_writer.py:479)") {
    val s = session()
    s.writeNodesForce(spark.createDataset(Seq(
      KgNode.make("x1", "custom_thing", null, Props.of("note" -> PV.str("n"))))))
    val out = new java.io.File(s.outDir)
    def allFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(allFiles) else Seq(f)
    assert(allFiles(out).exists(_.getName.startsWith("Custom_thing-part")),
      s"expected Custom_thing part files, saw ${allFiles(out).map(_.getName).mkString(",")}")
  }

  test("getKg returns the dbms-shaped in-memory KG (reference _core.py:517-539)") {
    val s = session() // neo4j -> per-label frames
    s.addNodes(spark.createDataset(Seq(protein("p1"))))
    assert(s.getKg().left.toOption.exists(_.contains("protein")))
    val nx = session("networkx")
    nx.addNodes(spark.createDataset(Seq(protein("p1"))))
    nx.getKg() match {
      case Right((n, e)) =>
        assert(n.columns.toSeq == Seq("node_id", "node_label", "attrs"))
        assert(n.count() == 1 && e.count() == 0)
      case Left(_) => fail("networkx session must return the frame pair")
    }
  }

  test("toNetworkx frames match the NetworkxSink loader shape (reference _core.py:218-220)") {
    val s = session()
    s.addNodes(spark.createDataset(Seq(protein("p1"))))
    s.addEdges(spark.createDataset(Seq(
      RawEdge("r1", "p1", "p2", "phosphorylation", Props.of("score" -> PV.dbl(0.7))))))
    val (nx, ex) = s.toNetworkx()
    assert(nx.columns.toSeq == Seq("node_id", "node_label", "attrs"))
    assert(ex.columns.toSeq == Seq("source_id", "target_id", "relationship_label"))
    val n = nx.filter(nx("node_id") === "p1").head()
    // in-memory labels stay sentence-case class names, same as toDf keys
    assert(n.getAs[String]("node_label") == "protein")
    assert(n.getAs[String]("attrs").contains("\"taxon\":9606"))
    assert(ex.count() == 1)
    // empty session: schema-stable empty frames, no exceptions
    val (en, ee) = session().toNetworkx()
    assert(en.count() == 0 && ee.count() == 0)
  }

  test("logMissingInputLabels reports unmapped input labels with counts (reference _core.py:559-588)") {
    val s = session()
    val miss = s.logMissingInputLabels(
      spark.createDataset(Seq(protein("p1"),
        RawNode("m1", "mystery_kind", Props.empty),
        RawNode("m2", "mystery_kind", Props.empty))),
      spark.createDataset(Seq(
        RawEdge("r1", "a", "b", "unknown_rel", Props.empty))))
    assert(miss == Map("mystery_kind" -> 2L, "unknown_rel" -> 1L))
    // all-mapped input: empty map, mirroring the reference's None branch
    assert(s.logMissingInputLabels(
      spark.createDataset(Seq(protein("p9"))),
      spark.emptyDataset[RawEdge]).isEmpty)
  }

  test("logDanglingEdges reports missing endpoints with counts, bounded collect") {
    val s = session()
    val nodes = spark.createDataset(Seq(
      KgNode.make("a", "Protein", "id", Props.empty),
      KgNode.make("x", "Protein", "id", Props.empty)))
    val edges = spark.createDataset(Seq(
      KgEdge.make(null, "a", "x", "INTERACTS", Props.empty),
      KgEdge.make(null, "a", "ghost", "INTERACTS", Props.empty),
      KgEdge.make(null, "phantom", "x", "INTERACTS", Props.empty)))
    val report = s.logDanglingEdges(nodes, edges)
    assert(report.startsWith("Dangling edge endpoints: 2\n"))
    assert(report.contains("src INTERACTS phantom x1"))
    assert(report.contains("tgt INTERACTS ghost x1"))
    // fully-resolved graph: zero findings
    assert(s.logDanglingEdges(nodes,
        spark.createDataset(Seq(KgEdge.make(null, "a", "x", "INTERACTS", Props.empty))))
      .startsWith("Dangling edge endpoints: 0"))
  }

  test("term translation + summary report (reference _core.py:757-781)") {
    val s = session()
    assert(s.translateTerm("protein").contains("Protein"))
    assert(s.translateTerm("gene_disease").contains("PERTURBED_IN_DISEASE"))
    assert(s.translateTerm("no_such_label").isEmpty)
    assert(s.reverseTranslateTerm("Protein").contains(List("protein")))
    assert(s.reverseTranslateTerm("NoSuchLabel").isEmpty)
    val ns = spark.createDataset(Seq(
      KgNode.make("p1", "protein", "uniprot", Props.empty),
      KgNode.make("p1", "protein", "uniprot", Props.empty)))
    val es = spark.emptyDataset[KgEdge]
    val rep = s.summary(ns, es)
    assert(rep.contains("Duplicate node ids: 1"))
    assert(rep.contains("protein p1 x2"))
    assert(rep.contains("Duplicate edge keys: 0"))
    // reference summary() chains ontology + duplicates + MISSING-LABELS
    // (not schema presence — ADVICE r6); the missing leg renders when the
    // raw adapter streams are passed
    assert(!rep.contains("present_in_knowledge_graph"))
    val withMissing = s.summary(ns, es,
      rawNodes = Some(spark.createDataset(Seq(
        RawNode("m1", "mystery_kind", Props.empty)))))
    assert(withMissing.contains("Missing input labels: 1"))
    assert(withMissing.contains("mystery_kind x1"))
    // with the driver-side ontology passed, the tree renders first
    // (reference summary() chains show_ontology_structure, _core.py:774-781)
    val onto = graft.ontology.Ontology.fromTtl(
      TestFixtures.resource("biolink_mini.ttl"), "entity",
      graft.schema.SchemaExpander.extend(
        graft.schema.SchemaExpander.parseYaml(TestFixtures.resource("test_schema.yaml"))))
    val withTree = s.summary(ns, es, Some(onto))
    assert(withTree.indexOf("entity") >= 0 &&
      withTree.indexOf("entity") < withTree.indexOf("Duplicate node ids"))
  }

  test("writeSchemaInfo asNode force-writes the schema_info node (reference _core.py:741-752)") {
    val s = session()
    val ns = spark.createDataset(Seq(
      KgNode.make("p1", "protein", "uniprot", Props.empty)))
    val es = spark.emptyDataset[KgEdge]
    val yaml = s.writeSchemaInfo(ns, es, asNode = true)
    assert(yaml.contains("present_in_knowledge_graph: True"))
    val out = new java.io.File(s.outDir)
    def allFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(allFiles) else Seq(f)
    // the YAML sidecar always lands (reference _core.py:737)
    assert(allFiles(out).exists(_.getName == "schema_info.yaml"))
    // the forced node bypasses schema translation and lands as its own
    // label's part files, pascal-cased like every label file (sentence-case
    // pascal splits on spaces, so "schema_info" -> "Schema_info", matching
    // the reference's name_sentence_to_pascal)
    val schemaParts = allFiles(out).filter(_.getName.startsWith("Schema_info-part"))
    assert(schemaParts.nonEmpty, s"expected Schema_info part files under ${s.outDir}")
    val content = schemaParts.filter(_.getName.endsWith(".csv"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath))).mkString
    assert(content.contains("schema_info"))
    // the NODE carries the schema as JSON (reference json.dumps,
    // _core.py:747); the YAML stays in the sidecar only (ADVICE r6)
    assert(content.contains("\"\"represented_as\"\": \"\"node\"\"") ||
      content.contains("\"represented_as\": \"node\""),
      s"schema_info node property must be JSON, got: ${content.take(300)}")
    assert(!content.contains("represented_as: node"))
    // repeated calls go through the session Deduplicator (reference
    // force=True skips translation, NOT node_seen, _batch_writer.py:423):
    // no duplicate part files on a second call
    s.writeSchemaInfo(ns, es, asNode = true)
    val partsAfter = allFiles(out).filter(_.getName.startsWith("Schema_info-part"))
      .filter(_.getName.endsWith(".csv"))
    val rowsAfter = partsAfter
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath)))
      .mkString.linesIterator.count(_.nonEmpty)
    assert(rowsAfter == 1,
      s"second writeSchemaInfo(asNode) must dedup against node_seen, got $rowsAfter rows")
  }

  test("seen-set TTL + compaction: within-horizon keys dedup, expired keys re-emit, one snapshot") {
    // injectable clock, 1000 ms horizon (VERDICT r4 #9 — the batch-session
    // twin of the streaming state TTL)
    var clock = 0L
    val outDir = Files.createTempDirectory("graft-ttl-").toString
    val s = new KgSession(spark, SparkTestBase.ctx, outDir,
      seenTtlMs = Some(1000L), nowMs = () => clock)
    s.addNodes(spark.createDataset(Seq(protein("a"), protein("b"))))
    clock = 500L
    // 'a' resights (deduped, stamp refreshed to 500); 'c' is fresh
    s.addNodes(spark.createDataset(Seq(protein("a"), protein("c"))))
    clock = 1200L
    // horizon 1000: cutoff 200 — 'a' (last seen 500) still dedups,
    // 'b' (last seen 0) expired and re-emits
    s.addNodes(spark.createDataset(Seq(protein("a"), protein("b"))))
    val ids = s.toDf()("protein").select("node_id").as[String].collect().sorted.toSeq
    assert(ids == Seq("a", "b", "b", "c"),
      s"'b' must re-emit after expiry, 'a' must stay deduped; got $ids")
    // the base and two deltas remain on disk; only the head is committed
    val base = java.nio.file.Paths.get(s"$outDir/_graft_checkpoint/stage=seen_node_ids")
    import scala.jdk.CollectionConverters._
    val versions = Files.list(base).iterator().asScala.map(_.getFileName.toString).toList.sorted
    assert(versions == List("v1", "v2", "v3"), s"the base and two deltas, got $versions")
    assert(new CheckpointStore(spark, s"$outDir/_graft_checkpoint").committedVersions("seen_node_ids") ==
      Seq(3))
    // and a NEW session over the same outDir resumes from the compacted max
    clock = 1300L
    val s2 = new KgSession(spark, SparkTestBase.ctx, outDir,
      seenTtlMs = Some(1000L), nowMs = () => clock)
    s2.addNodes(spark.createDataset(Seq(protein("a"), protein("d"))))
    val ids2 = s2.toDf()("protein").select("node_id").as[String].collect().sorted.toSeq
    assert(ids2 == Seq("d"), s"resumed compacted snapshot must still dedup 'a'; got $ids2")
  }
}

object KgSessionSpec {

  /** A context whose classes all declare their properties: two node
    * classes, a rel-as-node association and a plain edge class. */
  lazy val declaredCtx: KgContext = KgContext.build(
    """gene:
      |  represented_as: node
      |  preferred_id: hgnc
      |  input_label: gene
      |  properties:
      |    name: str
      |    start: int
      |    aliases: str[]
      |disease:
      |  represented_as: node
      |  preferred_id: mondo
      |  input_label: disease
      |  properties:
      |    name: str
      |gene to disease association:
      |  is_a: association
      |  represented_as: node
      |  input_label: gene_disease
      |  properties:
      |    score: float
      |    directed: bool
      |gene interaction:
      |  is_a: association
      |  represented_as: edge
      |  label_as_edge: INTERACTS_WITH
      |  input_label: gg
      |  properties:
      |    score: float
      |""".stripMargin,
    """@prefix : <https://example.org/graft/> .
      |@prefix owl: <http://www.w3.org/2002/07/owl#> .
      |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
      |:Entity a owl:Class ; rdfs:label "entity" .
      |:Gene a owl:Class ; rdfs:subClassOf :Entity ; rdfs:label "gene" .
      |:Disease a owl:Class ; rdfs:subClassOf :Entity ; rdfs:label "disease" .
      |:Association a owl:Class ; rdfs:subClassOf :Entity ; rdfs:label "association" .
      |""".stripMargin,
    "entity")

  // Row builders for the input-count specs: defined here, not in the suite,
  // so the map closures capture only the accumulator.
  def countingNode(acc: LongAccumulator): RawNode => RawNode = { n => acc.add(1); n }
  def countingEdge(acc: LongAccumulator): RawEdge => RawEdge = { e => acc.add(1); e }
}
