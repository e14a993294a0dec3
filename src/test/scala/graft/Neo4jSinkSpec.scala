package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.model.Props.Props
import graft.sinks.Neo4jCsvSink

/** Golden-format tests mirroring reference
  * test/output/write/graph/test_neo4j.py (headers, rows, import call). */
class Neo4jSinkSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  lazy val ctx = SparkTestBase.ctx
  import spark.implicits._

  def tmpDir(): String = Files.createTempDirectory("graft-sink-").toString

  def proteinNodes(n: Int): Seq[KgNode] =
    (0 until n).map { i =>
      KgNode.make(s"p$i", "protein", "uniprot", Props.of(
        "name" -> PV.str("StringProperty1"),
        "score" -> PV.dbl(4.0),
        "taxon" -> PV.int(9606),
        "genes" -> PV.arr(Seq("gene1", "gene2")),
      ))
    }

  def mirnaNodes(n: Int): Seq[KgNode] =
    (0 until n).map { i =>
      KgNode.make(s"m$i", "microRNA", "mirbase", Props.of(
        "name" -> PV.str("StringProperty1"),
        "taxon" -> PV.int(9606),
      ))
    }

  def readAll(dir: String, prefix: String): String =
    Files.list(Path.of(dir)).iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith(prefix))
      .filter(_.getFileName.toString.contains("-part"))
      .map(p => Files.readString(p)).mkString

  test("node headers match golden strings (test_neo4j.py:100-101)") {
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    val ds = spark.createDataset(proteinNodes(2) ++ mirnaNodes(2))
    sink.writeNodes(ds)
    sink.writeHeaders()
    val ph = Files.readString(Path.of(dir, "Protein-header.csv"))
    val mh = Files.readString(Path.of(dir, "MicroRNA-header.csv"))
    assert(ph == ":ID;name;score:double;taxon:long;genes:string[];id;preferred_id;:LABEL")
    assert(mh == ":ID;name;taxon:long;id;preferred_id;:LABEL")
  }

  test("node rows match golden substrings (test_neo4j.py:225-228)") {
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    sink.writeNodes(spark.createDataset(proteinNodes(4) ++ mirnaNodes(4)))
    val protein = readAll(dir, "Protein")
    val mirna = readAll(dir, "MicroRNA")
    assert(protein.contains("p1;'StringProperty1';4.0;9606;'gene1|gene2';'p1';'uniprot'"))
    assert(protein.contains("BiologicalEntity"))
    assert(mirna.contains("m1;'StringProperty1';9606;'m1';'mirbase'"))
    assert(mirna.contains("ChemicalEntity"))
  }

  test("none-type properties render empty; int-for-float renders bare (test_neo4j.py:409-462)") {
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    // keys present with None values (as translation's whitelist fill emits)
    val n = KgNode.make("p1", "protein", "id", Props.of(
      "taxon" -> PV.int(9606),
      "score" -> PV.int(1),
      "name" -> PV.None_,
      "genes" -> PV.None_,
    ))
    sink.writeNodes(spark.createDataset(Seq(n)))
    val protein = readAll(dir, "Protein")
    assert(protein.contains("p1;;1;9606;;'p1';'id'"))
  }

  test("nodes without schema properties infer layout from first row (test_neo4j.py:284-326)") {
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    val ns = (0 until 3).map(i => KgNode.make(s"m$i", "microRNA", "id", Props.empty))
    sink.writeNodes(spark.createDataset(ns))
    sink.writeHeaders()
    val mirna = readAll(dir, "MicroRNA")
    assert(mirna.contains("m1;'m1';'id'"))
    assert(Files.readString(Path.of(dir, "MicroRNA-header.csv")) == ":ID;id;preferred_id;:LABEL")
  }

  test("open-label rows render exactly as their first row's layout, whatever their text") {
    // the values carry the characters a pending line's field codec uses
    // (digits, ':', '~'), empty strings, None values and lists
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    val n = KgNode.make("m:1~", "microRNA", "id", Props.of(
      "name" -> PV.str("3:ab~"), "empty" -> PV.str(""), "none" -> PV.None_,
      "tags" -> PV.arr(Seq("x:1", "", "~")), "len" -> PV.int(12)))
    val e = KgEdge.make(null, "a:1", "b~2", "open_rel", Props.of(
      "note" -> PV.str("1:x"), "n" -> PV.dbl(0.5)))
    sink.writeNodes(spark.createDataset(Seq(n)))
    sink.writeEdges(spark.createDataset(Seq(e)))
    val nodeLay = sink.nodeLayout("microRNA", n.props)
    val edgeLay = sink.edgeLayout("open_rel", e.props)
    assert(readAll(dir, "MicroRNA").linesIterator.toSeq == Seq(sink.renderNodeLine(n, nodeLay)))
    assert(readAll(dir, "Open_rel").linesIterator.toSeq == Seq(sink.renderEdgeLine(e, edgeLay)))
    assert(sink.nodeLayouts("microRNA") == nodeLay && sink.edgeLayouts("open_rel") == edgeLay)
  }

  test("quote character is escaped by doubling (graph/_neo4j.py:47-52)") {
    assert(Render.quote("it's", "'") == "'it''s'")
  }

  test("edge rows + headers (test_neo4j.py edge goldens)") {
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    val es = (0 until 3).map { i =>
      KgEdge.make(s"prel$i", s"p$i", s"p${i + 1}", "PERTURBED_IN_DISEASE", Props.of(
        "residue" -> PV.str("T253"),
        "level" -> PV.int(4),
      ))
    }
    sink.writeEdges(spark.createDataset(es))
    sink.writeHeaders()
    val rows = readAll(dir, "PERTURBED_IN_DISEASE")
    assert(rows.contains("p0;prel0;'T253';4;p1;PERTURBED_IN_DISEASE"))
    val header = Files.readString(Path.of(dir, "PERTURBED_IN_DISEASE-header.csv"))
    // `level` was an int at runtime -> :long suffix in the header
    assert(header == ":START_ID;id;residue;level:long;:END_ID;:TYPE")
  }

  test("builtin rel-as-node connector edges skip the id column") {
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    val es = Seq(KgEdge.make(null, "a", "x_y_True", "IS_SOURCE_OF", Props.empty))
    sink.writeEdges(spark.createDataset(es))
    sink.writeHeaders()
    assert(Files.readString(Path.of(dir, "IS_SOURCE_OF-header.csv")) == ":START_ID;:END_ID;:TYPE")
    assert(readAll(dir, "IS_SOURCE_OF").contains("a;x_y_True;IS_SOURCE_OF"))
  }

  test("use_id false omits the edge id column (test_neo4j.py:645-686)") {
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    val es = Seq(KgEdge.make("phos1", "p1", "p2", "phosphorylation", Props.empty))
    sink.writeEdges(spark.createDataset(es))
    sink.writeHeaders()
    val header = Files.readString(Path.of(dir, "Phosphorylation-header.csv"))
    assert(!header.contains("id;"))
    assert(!readAll(dir, "Phosphorylation").contains("phos1;"))
  }

  test("import call grammar (test_neo4j.py:127-138)") {
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    sink.writeNodes(spark.createDataset(proteinNodes(1) ++ mirnaNodes(1)))
    sink.writeHeaders()
    val script = sink.constructImportCall()
    assert(script.startsWith("#!/bin/bash"))
    assert(script.contains("bin/neo4j-admin import --database=neo4j"))
    assert(script.contains("bin/neo4j-admin database import full neo4j"))
    assert(script.contains("--delimiter=\";\""))
    assert(script.contains("--array-delimiter=\"|\" --quote=\"'\""))
    assert(script.contains("--force=true"))
    assert(script.contains("--overwrite-destination=true"))
    assert(script.contains("Protein-header.csv"))
    assert(script.contains("Protein-part.*\""))
    assert(script.contains("MicroRNA-header.csv"))
  }

  test("part numbering continues across writes (batch/part semantics)") {
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    sink.writeNodes(spark.createDataset(proteinNodes(2)).coalesce(1))
    sink.writeNodes(spark.createDataset(proteinNodes(2)).coalesce(1))
    val parts = Files.list(Path.of(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("Protein-part")).toList.sorted
    assert(parts == List("Protein-part000.csv", "Protein-part001.csv"))
  }

  test("inconsistent property sets fail the write (test_neo4j.py:357-406)") {
    val dir = tmpDir()
    val sink = new Neo4jCsvSink(ctx, dir)
    val ns = Seq(
      KgNode.make("m0", "microRNA", "id", Props.of("name" -> PV.str("a"))),
      KgNode.make("m1", "microRNA", "id", Props.of("other" -> PV.str("b"))),
    )
    val ex = intercept[Exception] {
      sink.writeNodes(spark.createDataset(ns).coalesce(1))
    }
    assert(ex.getMessage.contains("more or fewer properties") ||
      Option(ex.getCause).exists(_.getMessage.contains("more or fewer properties")))
  }
}
