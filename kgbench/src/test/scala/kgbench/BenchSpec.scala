package kgbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.{KgPipeline, KgSession}
import graft.corpus.{AnalyticsDomain, Corpus}
import graft.extract.MentionDict
import graft.model._
import graft.sinks.Neo4jCsvSink

/** Small-scale checks of the benchmark's own correctness oracles: the
  * independent triple count agrees with the reference-parity string path
  * and the fused path, the adapter plan's expected lines match what
  * `KgSession` writes, and inputs are reproducible from the seed. */
class BenchSpec extends AnyFunSuite {

  private val scratch = Files.createDirectories(java.nio.file.Paths.get("target", "test-work"))

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("kgbench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def counts(docs: org.apache.spark.sql.Dataset[Doc], entries: Seq[graft.extract.DictEntry]) = {
    val pipe = new KgPipeline(spark, AnalyticsDomain.context(), MentionDict.build(entries))
    val expected = Corpora.expected(docs.collect().iterator, entries).triples
    val reference = pipe.run(docs)._3.count()
    spark.catalog.clearCache()
    val fused = pipe.runFused(docs)._3.count()
    spark.catalog.clearCache()
    (expected, reference, fused)
  }

  test("independent count == KgPipeline.run == runFused on the analytics corpus") {
    val docs = Corpus.synthesize(spark, 2000, AnalyticsDomain.vocab, seed = 7, numPartitions = 2).cache()
    val (expected, reference, fused) = counts(docs, Corpora.analyticsEntries)
    assert(expected > 0)
    assert(reference == expected)
    assert(fused == expected)
  }

  test("independent count == KgPipeline.run == runFused on a big-dictionary corpus") {
    val entries = Corpora.bigEntries(7, 3000) // above both dense combiner gates
    CorpusWorkload.guard(CorpusWorkload.BigDict, entries.size)
    val docs = staged(CorpusWorkload.BigDict, Corpora.zipfDocs(7, 1000, entries))
    val (expected, reference, fused) = counts(docs, entries)
    assert(expected > 0)
    assert(reference == expected)
    assert(fused == expected)
  }

  test("each corpus workload is guarded onto its own combiner branch") {
    CorpusWorkload.guard(CorpusWorkload.Fused, AnalyticsDomain.dictionary.size)
    intercept[IllegalArgumentException](CorpusWorkload.guard(CorpusWorkload.BigDict, 22))
    intercept[IllegalArgumentException](CorpusWorkload.guard(CorpusWorkload.Fused, 100000))
  }

  /** Docs written as JSON lines and read back the way the workload reads them. */
  private def staged(kind: CorpusWorkload.Kind, docs: Iterator[Doc]) = {
    val dir = Files.createTempDirectory(scratch, "docs-")
    Staging.writeJson(dir.resolve("docs"), 2, docs)
    kind.read(spark, dir.resolve("docs")).cache()
  }

  test("inputs are reproducible from the seed") {
    def sum(seed: Long) = Staging.writeJson(Files.createTempDirectory(scratch, "sum-"), 2,
      Corpora.zipfDocs(seed, 300, Corpora.bigEntries(seed, 3000)))
    assert(sum(3) == sum(3))
    assert(sum(3) != sum(4))
    val a = AdapterWorkload.Plan(3, 200)
    assert(a.calls == AdapterWorkload.Plan(3, 200).calls)
    assert(a.nodeRows(a.calls.head).toSeq == AdapterWorkload.Plan(3, 200).nodeRows(a.calls.head).toSeq)
  }

  test("staged JSON lines read back as the rows written") {
    val p = AdapterWorkload.Plan(3, 200)
    val dir = Files.createTempDirectory(scratch, "json-")
    Staging.writeJson(dir, 3, p.nodeRows(p.calls(2)) ++ Iterator(RawNode("x:1", "gene",
      Props.of("name" -> PV.str("a \"q\" \\ b\nc\td"), "aliases" -> PV.arr(Seq("u", "v"))))))
    import spark.implicits._
    val back = Staging.readJson[RawNode](spark, dir).collect().toSeq
    assert(back.sortBy(_.id) == (p.nodeRows(p.calls(2)).toSeq :+ back.find(_.id == "x:1").get).sortBy(_.id))
    assert(back.find(_.id == "x:1").get.props == Props.of("name" -> PV.str("a \"q\" \\ b\nc\td"),
      "aliases" -> PV.arr(Seq("u", "v"))))
  }

  test("KgSession writes the adapter plan's expected lines; the traced composition matches") {
    val work = Files.createTempDirectory(scratch, "adapter-")
    val o = Main.Opts("adapter_import", 5, 1, trace = true, work)
    AdapterWorkload.stage(o, 200)
    val w = new AdapterWorkload(spark, o, n = 200)
    w.load()
    w.setup()
    val j = w.job()
    assert(j.ok, j.note)
    assert(j.records == AdapterWorkload.Plan(5, 200).expectedLines.values.sum)
    val (t, layers) = w.traced(new Trace(o))
    assert(t.ok, t.note)
    assert(t.records == j.records)
    assert(layers("dedup.rows_out") < layers("dedup.rows_in"))
    assert(layers("sinks.lines") == j.records.toDouble)
  }

  test("the artifact check rejects a missing part file") {
    val out = Files.createTempDirectory(scratch, "check-")
    val ctx = graft.KgContext.build(AdapterWorkload.SchemaYaml, AdapterWorkload.OntologyTtl, "entity")
    val s = new KgSession(spark, ctx, out.toString, "neo4j")
    s.writeNodes(spark.createDataset(Seq(AdapterWorkload.node(1, "gene", 1)))(
      org.apache.spark.sql.Encoders.product[RawNode]))
    s.writeImportCall()
    val sink = new Neo4jCsvSink(ctx, out.toString)
    assert(Artifacts.check(out, sink, Map("gene" -> 1L)).ok)
    assert(!Artifacts.check(out, sink, Map("gene" -> 2L)).ok)
    assert(!Artifacts.check(out, sink, Map("gene" -> 1L, "protein" -> 1L)).ok)
  }
}
