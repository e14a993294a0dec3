package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.model.Props.Props
import graft.sinks.{ArangoCsvSink, PostgresCsvSink, SqliteCsvSink}

/** Mirrors reference test/output/write/relational/test_postgres.py,
  * test_sqlite.py and graph/test_arango.py golden assertions. */
class RelationalSinkSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // postgres defaults: tab delimiter, double-quote (reference biocypher_config)
  lazy val pgCtx = KgContext.build(
    TestFixtures.resource("test_schema.yaml"),
    TestFixtures.resource("biolink_mini.ttl"),
    "entity",
    config = KgConfig(delimiter = "\t", quote = "\"", dbName = "test_sqlite.db"),
  )

  def tmpDir(): String = Files.createTempDirectory("graft-rel-").toString

  def nodes(n: Int): Seq[KgNode] =
    (0 until n).map { i =>
      KgNode.make(s"p$i", "protein", "uniprot", Props.of(
        "name" -> PV.str("StringProperty1"),
        "score" -> PV.dbl(4.0),
        "taxon" -> PV.int(9606),
        "genes" -> PV.arr(Seq("gene1", "gene2")),
      ))
    } ++ (0 until n).map { i =>
      KgNode.make(s"m$i", "microRNA", "mirbase", Props.of(
        "name" -> PV.str("StringProperty1"),
        "taxon" -> PV.int(9606),
      ))
    }

  def readAll(dir: String, prefix: String): String =
    Files.list(Path.of(dir)).iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith(prefix))
      .filter(_.getFileName.toString.contains("-part"))
      .map(Files.readString(_)).mkString

  test("postgres rows: tab-delimited, plain quotes, brace arrays (test_postgres.py:57-64)") {
    val dir = tmpDir()
    val sink = new PostgresCsvSink(pgCtx, dir)
    sink.writeNodes(spark.createDataset(nodes(4)))
    val protein = readAll(dir, "Protein")
    val mirna = readAll(dir, "MicroRNA")
    assert(protein.contains("p1\t\"StringProperty1\"\t4.0\t9606\t"))
    assert(protein.contains("\t\"uniprot\"\t"))
    assert(protein.contains("BiologicalEntity"))
    assert(protein.contains("Polypeptide"))
    assert(mirna.contains("m1\t\"StringProperty1\"\t9606\t\"m1\"\t\"mirbase\""))
    assert(mirna.contains("ChemicalEntity"))
    // labels cell is a postgres array literal
    assert(protein.contains("\"{Protein,Polypeptide,BiologicalEntity"))
    // genes array likewise
    assert(protein.contains("\"{gene1,gene2}\""))
  }

  test("postgres DDL files per label (test_postgres.py:90)") {
    val dir = tmpDir()
    val sink = new PostgresCsvSink(pgCtx, dir)
    sink.writeNodes(spark.createDataset(nodes(2)))
    sink.writeHeaders()
    val ddl = Files.readString(Path.of(dir, "protein-create_table.sql"))
    assert(ddl.contains("DROP TABLE IF EXISTS protein;"))
    assert(ddl.contains(
      "CREATE TABLE protein(_ID VARCHAR,name VARCHAR,score NUMERIC,taxon INTEGER," +
        "genes VARCHAR[],id VARCHAR,preferred_id VARCHAR,_LABEL VARCHAR[]);"))
    assert(Files.exists(Path.of(dir, "microrna-create_table.sql")))
  }

  test("postgres import script: psql -f DDL + \\copy per part") {
    val dir = tmpDir()
    val sink = new PostgresCsvSink(pgCtx, dir)
    sink.writeNodes(spark.createDataset(nodes(2)).coalesce(1))
    sink.writeHeaders()
    val script = sink.constructImportCall()
    assert(script.contains("psql -f "))
    assert(script.contains("protein-create_table.sql"))
    assert(script.contains("\\copy protein FROM '"))
    assert(script.contains("DELIMITER E'\\t' CSV;"))
    assert(script.contains("--dbname test_sqlite.db"))
  }

  test("sqlite import script (test_sqlite.py:39-44)") {
    val dir = tmpDir()
    val sink = new SqliteCsvSink(pgCtx, dir)
    sink.writeNodes(spark.createDataset(nodes(2)).coalesce(1))
    sink.writeHeaders()
    val script = sink.constructImportCall()
    assert(script.contains("sqlite3 test_sqlite.db <"))
    assert(script.contains("protein-create_table.sql"))
    assert(script.contains("microrna-create_table.sql"))
    assert(script.contains("sqlite3 -separator $'\\t' test_sqlite.db \".import"))
    assert(script.contains("Protein-part000.csv protein"))
    assert(script.contains("MicroRNA-part000.csv microrna"))
  }

  test("arango headers use _key/_from/_to; import lines per collection") {
    val dir = tmpDir()
    val ctx = SparkTestBase.ctx // neo4j-style delimiters
    val sink = new ArangoCsvSink(ctx, dir)
    sink.writeNodes(spark.createDataset(nodes(2)).coalesce(1))
    val es = Seq(KgEdge.make("r1", "p0", "p1", "PERTURBED_IN_DISEASE", Props.empty))
    sink.writeEdges(spark.createDataset(es).coalesce(1))
    sink.writeHeaders()
    val nodeHeader = Files.readString(Path.of(dir, "Protein-header.csv"))
    assert(nodeHeader == "_key;name;score;taxon;genes;id;preferred_id")
    val edgeHeader = Files.readString(Path.of(dir, "PERTURBED_IN_DISEASE-header.csv"))
    assert(edgeHeader == "_from;_key;_to")
    val script = sink.constructImportCall()
    assert(script.contains("arangoimp --type csv"))
    assert(script.contains("--separator=\";\""))
    assert(script.contains("Protein-header.csv"))
    assert(script.contains("Protein-part000.csv"))
  }

  test("concurrent node and edge writes require disjoint file labels") {
    val pg = new PostgresCsvSink(pgCtx, tmpDir())
    // the analytics domain's own split, as kg_import_call forks it
    pg.requireDisjointFileLabels(Seq("relational operator", "document"),
      Seq("MENTIONS", "COOCCURS_WITH"))
    // a node class and an edge label that meet in one PascalCase file label
    val e = intercept[IllegalArgumentException] {
      pg.requireDisjointFileLabels(Seq("protein", "gene to disease association"),
        Seq("GeneToDiseaseAssociation", "INTERACTS"))
    }
    assert(e.getMessage.contains("GeneToDiseaseAssociation"))
    assert(!e.getMessage.contains("Protein"))
  }
}
