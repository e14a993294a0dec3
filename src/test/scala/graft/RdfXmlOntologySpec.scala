package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ontology._

/** OWL (RDF/XML) ontology loading, mirroring the reference's adapter and
  * hybridisation tests (reference: test/test_ontology.py:17-29 adapter
  * cases, :37-91 hybridisation). The fixtures under
  * `src/test/resources/graft/owl/` are small hand-written stand-ins for
  * the reference's GO, SO and Mondo files: every expected value below is
  * read off the fixture text (the class hierarchy each fixture's comment
  * describes), not produced by running the parser. */
class RdfXmlOntologySpec extends AnyFunSuite {

  private def owl(name: String): String = TestFixtures.resource(s"owl/$name")

  lazy val go = new OntologySource(RdfXmlLite.parse(owl("go_mini.owl")), "molecular_function")
  lazy val so = new OntologySource(RdfXmlLite.parse(owl("so_mini.owl")), "sequence_variant")
  lazy val mondo = new OntologySource(RdfXmlLite.parse(owl("mondo_mini.owl")), "disease")

  test("go adapter: root node and ancestor chain (test_go_adapter)") {
    assert(go.rootNode == "molecular function")
    assert(go.graph.dfsAncestors("rna helicase activity").contains("molecular function"))
  }

  test("so adapter: root, ancestors, subgraph size (test_so_adapter)") {
    assert(so.rootNode == "sequence variant")
    assert(so.graph.dfsAncestors("lethal variant").contains("sequence variant"))
    // reference: len(first_tail_ontology) == 6; here the six classes that
    // reach sequence_variant in so_mini.owl
    assert(so.graph.nodes.size == 6)
    assert(so.graph.nodes.keySet == Set("sequence variant", "functional effect variant",
      "lethal variant", "altered gene product level", "decreased gene product level",
      "increased gene product level"))
  }

  test("mondo adapter: root and ancestors (test_mondo_adapter)") {
    assert(mondo.rootNode == "disease")
    assert(mondo.graph.dfsAncestors("cystic fibrosis").contains("human disease"))
  }

  test("missing root label raises (test_ontology_adapter_root_node_missing)") {
    val e = intercept[IllegalArgumentException] {
      new OntologySource(RdfXmlLite.parse(owl("so_mini.owl")), "not_in_tree").graph
    }
    assert(e.getMessage.contains("not_in_tree"))
  }

  test("owl:intersectionOf via rdf:parseType=Collection (multiple_parent_nodes.owl)") {
    val src = new OntologySource(RdfXmlLite.parse(owl("multiple_parent_nodes.owl")), "Root")
    assert(src.graph.parents("child").toSet == Set("level2A", "level2B", "level2C"))
  }

  test("hybrid: biolink head + so (merged) + mondo (unmerged) tails " +
      "(test_ontology_functions)") {
    val head = TestFixtures.resource("biolink_mini.ttl")
    val onto = Ontology.fromText(head, "entity",
      tails = List(
        (owl("so_mini.owl"), "sequence_variant", "sequence variant", true),
        (owl("mondo_mini.owl"), "human disease", "disease", false),
      ))
    val dgpl = onto.getAncestors("decreased gene product level")
    assert(dgpl.contains("decreased gene product level"))
    assert(dgpl.contains("altered gene product level"))
    assert(dgpl.contains("functional effect variant"))
    assert(dgpl.contains("sequence variant"))
    assert(dgpl.contains("biological entity"))
    assert(dgpl.contains("named thing"))
    assert(dgpl.contains("entity"))
    assert(onto.graph.attr("lethal variant", "label").contains("SO_0001773"))
    val cf = onto.getAncestors("cystic fibrosis")
    assert(cf.contains("cystic fibrosis"))
    assert(cf.contains("autosomal recessive disease"))
    assert(cf.contains("autosomal genetic disease"))
    assert(cf.contains("hereditary disease"))
    assert(cf.contains("human disease"))
    assert(cf.contains("disease"))
    assert(cf.contains("biological entity"))
    assert(cf.contains("entity"))
  }

  test("format sniffing: parseAuto handles both serializations") {
    val ttl = TestFixtures.resource("biolink_mini.ttl")
    assert(RdfXmlLite.parseAuto(ttl).triples.nonEmpty)
    assert(RdfXmlLite.parseAuto(owl("go_mini.owl")).triples.nonEmpty)
    // no XML declaration: sniffed from the leading rdf:RDF element
    assert(RdfXmlLite.parseAuto(owl("multiple_parent_nodes.owl")).triples.nonEmpty)
  }
}
