package kgbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{KgContext, KgSession}
import graft.checkpoint.CheckpointStore
import graft.corpus.Corpus
import graft.dedup.Dedup
import graft.model._
import graft.sinks.Neo4jCsvSink
import graft.translate.Translate
import Main.secondsSince

/** BioCypher's own job: several adapter write calls into one
  * `KgSession(dbms = "neo4j")`, then `writeImportCall()`. No extraction;
  * translate, dedup (with the checkpointed seen-key anti-join), checkpoint
  * and the Neo4j CSV sink carry the work. Every job starts in an empty
  * output directory, so the seen state of the last job marks nothing. */
final class AdapterWorkload(spark: SparkSession, o: Main.Opts,
    n: Long = AdapterWorkload.BaseRows) extends Workload {
  import spark.implicits._
  import AdapterWorkload._

  private val plan = Plan(o.seed, n)
  private var dir: Path = _
  private var meta: Map[String, String] = Map.empty
  private var ctx: KgContext = _
  private var jobNo = 0

  def warmups: Int = 1
  def minJobs: Int = 2

  def load(): Unit = {
    val (d, m) = Staging.load(o.work, "adapter_import", o.seed, n)
    dir = d
    meta = m
    println(s"expected lines ${expectedLines.toSeq.sorted.mkString(", ")}")
  }

  private def expectedLines: Map[String, Long] =
    meta.collect { case (k, v) if k.startsWith("lines.") => k.stripPrefix("lines.") -> v.toLong }

  private def call(i: Int): Path = dir.resolve(s"call$i")

  def setup(): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    ctx = KgContext.build(SchemaYaml, OntologyTtl, "entity")
    Seq("context.build_s" -> secondsSince(t0))
  }

  /** A fresh, empty output directory per job. */
  private def freshOut(): Path = {
    spark.catalog.clearCache()
    val base = o.work.resolve("out")
    Staging.deleteTree(base)
    jobNo += 1
    val out = base.resolve(s"job$jobNo")
    Files.createDirectories(out.getParent)
    System.gc()
    out
  }

  /** The timed region: every write call into one session, then the import call. */
  private def importInto(out: Path): Unit = {
    val s = new KgSession(spark, ctx, out.toString, "neo4j")
    plan.calls.zipWithIndex.foreach { case (c, i) =>
      if (c.nodes) s.writeNodes(Staging.readJson[RawNode](spark, call(i)))
      else s.writeEdges(Staging.readJson[RawEdge](spark, call(i)))
    }
    s.writeImportCall()
  }

  def job(): JobResult = {
    val out = freshOut()
    val t0 = System.nanoTime()
    importInto(out)
    val seconds = secondsSince(t0)
    val chk = Artifacts.check(out, new Neo4jCsvSink(ctx, out.toString), expectedLines)
    JobResult(seconds, chk.lines, chk.ok, chk.note)
  }

  def traced(t: Trace): (JobResult, Map[String, Double]) = {
    val out = freshOut()
    t.newRun()
    val store = new CheckpointStore(spark, s"$out/_graft_checkpoint")
    val ckDir = out.resolve("_graft_checkpoint")
    val version = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    var trIn, trOut, ddOut, ckBytes = 0L

    // KgSession's write path (its private withFresh and key expressions),
    // one public layer at a time: the dedup and seen-key anti-join, then the
    // sink, then the next seen snapshot. This copy must follow KgSession;
    // sessionParity below fails the job when it writes anything else.
    def dedupWriteCommit(space: String, keyed: DataFrame)(write: DataFrame => Unit): Unit = {
      val now = System.currentTimeMillis()
      val live = if (version(space) == 0) None else Some(store.read(s"$space/v${version(space)}"))
      val fresh = t.span("dedup") {
        val f = live.fold(keyed)(s => keyed.join(s.select("_k"), Seq("_k"), "left_anti"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        ddOut += f.count()
        f
      }
      t.span("sinks") { write(fresh.drop("_k")) }
      t.span("checkpoint") {
        val incoming = keyed.select(col("_k")).withColumn("_ts", lit(now))
        val next = live.fold(incoming)(s => s.select(col("_k"), col("_ts"))
          .join(incoming.select("_k"), Seq("_k"), "left_anti").union(incoming))
        val before = Artifacts.bytesUnder(ckDir)
        val v = version(space) + 1
        store.commit(s"$space/v$v", next)
        ckBytes += Artifacts.bytesUnder(ckDir) - before
        store.drop(s"$space/v${v - 1}")
        version(space) = v
      }
      fresh.unpersist(blocking = false)
    }

    val t0 = System.nanoTime()
    val sink = new Neo4jCsvSink(ctx, out.toString)
    t.span("job") {
      val bc = spark.sparkContext.broadcast(ctx)
      plan.calls.zipWithIndex.foreach { case (c, i) =>
        trIn += c.rows
        if (c.nodes) {
          val nodes = t.span("translate") {
            val n = Translate.nodes(Staging.readJson[RawNode](spark, call(i)), bc)
              .persist(StorageLevel.MEMORY_AND_DISK)
            trOut += n.count()
            n
          }
          dedupWriteCommit("seen_node_ids", Dedup.nodes(nodes).withColumn("_k", col("id"))) { f =>
            sink.writeNodes(f.as[KgNode])
          }
          nodes.unpersist(blocking = false)
        } else {
          val entities = t.span("translate") {
            val e = Translate.edges(Staging.readJson[RawEdge](spark, call(i)), bc)
              .persist(StorageLevel.MEMORY_AND_DISK)
            trOut += e.count()
            e
          }
          val rels = Dedup.relAsNodes(entities.filter(_.rel != null).map(_.rel))
          dedupWriteCommit("seen_rel_keys",
            rels.withColumn("_k", concat_ws("\u0000", col("node.label"), col("node.id")))) { f =>
            sink.writeRelAsNodes(f.as[RelAsNode])
          }
          val edges = Dedup.edges(entities.filter(_.edge != null).map(_.edge))
          dedupWriteCommit("seen_edge_keys", edges.withColumn("_k", concat_ws("\u0000",
            col("label"), coalesce(col("relId"), concat_ws("_", col("src"), col("tgt")))))) { f =>
            sink.writeEdges(f.as[KgEdge])
          }
          entities.unpersist(blocking = false)
        }
      }
      t.span("import_call") { sink.writeHeaders(); sink.writeImportCall() }
      bc.destroy()
    }
    val seconds = secondsSince(t0)
    val self = t.selfSeconds
    val chk = Artifacts.check(out, sink, expectedLines)
    val diverged = sessionParity(out, version.toMap)
    val layers = Map(
      "translate.busy_s" -> self("translate"),
      "translate.rows_in" -> trIn.toDouble,
      "translate.rows_out" -> trOut.toDouble,
      "dedup.busy_s" -> self("dedup"),
      "dedup.rows_in" -> trOut.toDouble,
      "dedup.rows_out" -> ddOut.toDouble,
      "dedup.fresh_ratio" -> ddOut.toDouble / math.max(1L, trOut),
      "checkpoint.commit_s" -> self("checkpoint"),
      "checkpoint.mb_written" -> ckBytes / Trace.Mb,
      "sinks.write_s" -> self("sinks"),
      "sinks.mb_written" -> chk.bytes / Trace.Mb,
      "sinks.part_files" -> chk.partFiles.toDouble,
      "sinks.lines" -> chk.lines.toDouble,
      "sinks.import_call_s" -> self("import_call"),
      "sinks.bytes_per_record" -> chk.bytes.toDouble / math.max(1L, chk.lines),
    ) ++ Trace.exchange(t.allStages)
    (JobResult(seconds, chk.lines, chk.ok && diverged.isEmpty,
      "traced: " + (chk.note +: diverged).mkString("; ")), layers)
  }

  /** Differences between the traced layers' output in `out` and an untimed
    * `KgSession` run of the same calls: each label's artifact lines (as a
    * multiset), the header files, and each key space's live seen snapshot
    * (its version and its keys). */
  private def sessionParity(out: Path, versions: Map[String, Int]): Seq[String] = {
    val ref = out.resolveSibling(s"${out.getFileName}-session")
    importInto(ref)
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    if (Artifacts.contents(out) != Artifacts.contents(ref))
      problems += "artifact lines or headers differ from KgSession's"
    val (mine, theirs) = (new CheckpointStore(spark, s"$out/_graft_checkpoint"),
      new CheckpointStore(spark, s"$ref/_graft_checkpoint"))
    versions.toSeq.sorted.foreach { case (space, v) =>
      val live = theirs.committedVersions(space)
      if (live != Seq(v)) problems += s"$space: KgSession keeps versions $live, the layers v$v"
      else {
        val (a, b) = (mine.read(s"$space/v$v").select("_k"), theirs.read(s"$space/v$v").select("_k"))
        val (na, nb) = (a.count(), b.count())
        if (na != nb || Staging.checksum(a) != Staging.checksum(b))
          problems += s"$space: seen keys differ ($na in the layers' snapshot, $nb in KgSession's)"
      }
    }
    problems.toSeq
  }
}

object AdapterWorkload {

  /** Rows per node class in the first calls; the other calls scale with it. */
  val BaseRows = 3000L

  /** Files per staged call: one file is one input partition. */
  private def files: Int = 2 * Runtime.getRuntime.availableProcessors

  /** Stage the seed's calls as JSON lines, without Spark, unless staged
    * already; the metadata holds the lines each output label must get. */
  def stage(o: Main.Opts, n: Long): Unit =
    Staging.ensure(o.work, "adapter_import", o.seed, n) { d =>
      val plan = Plan(o.seed, n)
      val sums = plan.calls.zipWithIndex.map { case (c, i) =>
        Staging.writeJson(d.resolve(s"call$i"), files,
          if (c.nodes) plan.nodeRows(c) else plan.edgeRows(c))
      }
      Map("checksum" -> sums.mkString("-")) ++
        plan.expectedLines.map { case (l, k) => s"lines.$l" -> k.toString }
    }

  /** Benchmark-owned schema: four node classes with 4-7 typed properties
    * (including `str[]` and free text), one rel-as-node association and one
    * plain edge class. */
  val SchemaYaml: String =
    """gene:
      |  represented_as: node
      |  preferred_id: hgnc
      |  input_label: gene
      |  properties:
      |    symbol: str
      |    name: str
      |    chromosome: str
      |    start: int
      |    gc_content: float
      |    protein_coding: bool
      |    aliases: str[]
      |protein:
      |  represented_as: node
      |  preferred_id: uniprot
      |  input_label: protein
      |  properties:
      |    name: str
      |    length: int
      |    mass: float
      |    reviewed: bool
      |    isoforms: str[]
      |disease:
      |  represented_as: node
      |  preferred_id: mondo
      |  input_label: disease
      |  properties:
      |    name: str
      |    description: str
      |    synonyms: str[]
      |    prevalence: float
      |pathway:
      |  represented_as: node
      |  preferred_id: reactome
      |  input_label: pathway
      |  properties:
      |    name: str
      |    species: str
      |    size: int
      |    curated: bool
      |gene to disease association:
      |  is_a: association
      |  represented_as: node
      |  input_label: gene_disease
      |  properties:
      |    score: float
      |    evidence: str[]
      |    directed: bool
      |    source: str
      |protein protein interaction:
      |  is_a: association
      |  represented_as: edge
      |  label_as_edge: INTERACTS_WITH
      |  input_label: ppi
      |  properties:
      |    score: float
      |    method: str
      |    publications: int
      |    physical: bool
      |""".stripMargin

  /** Benchmark-owned head ontology, five levels deep at its deepest. */
  val OntologyTtl: String =
    """@prefix : <https://example.org/kgbench/> .
      |@prefix owl: <http://www.w3.org/2002/07/owl#> .
      |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
      |:Entity a owl:Class ; rdfs:label "entity" .
      |:BiologicalEntity a owl:Class ; rdfs:subClassOf :Entity ; rdfs:label "biological entity" .
      |:MolecularEntity a owl:Class ; rdfs:subClassOf :BiologicalEntity ; rdfs:label "molecular entity" .
      |:GeneOrGeneProduct a owl:Class ; rdfs:subClassOf :MolecularEntity ; rdfs:label "gene or gene product" .
      |:Gene a owl:Class ; rdfs:subClassOf :GeneOrGeneProduct ; rdfs:label "gene" .
      |:Protein a owl:Class ; rdfs:subClassOf :GeneOrGeneProduct ; rdfs:label "protein" .
      |:DiseaseOrPhenotypicFeature a owl:Class ; rdfs:subClassOf :BiologicalEntity ; rdfs:label "disease or phenotypic feature" .
      |:Disease a owl:Class ; rdfs:subClassOf :DiseaseOrPhenotypicFeature ; rdfs:label "disease" .
      |:BiologicalProcess a owl:Class ; rdfs:subClassOf :BiologicalEntity ; rdfs:label "biological process" .
      |:Pathway a owl:Class ; rdfs:subClassOf :BiologicalProcess ; rdfs:label "pathway" .
      |:Association a owl:Class ; rdfs:subClassOf :Entity ; rdfs:label "association" .
      |""".stripMargin

  /** Rows `[lo, hi)` of one input label; every 8th row repeats in the call. */
  final case class Seg(label: String, lo: Long, hi: Long) {
    def rows: Long = (hi - lo) + (lo to hi - 1).count(_ % 8 == 0)
  }
  final case class Call(nodes: Boolean, segs: Seq[Seg]) {
    def rows: Long = segs.map(_.rows).sum
  }

  private val Words = Vector("alpha", "beta", "kinase", "receptor", "factor", "binding",
    "domain", "subunit", "complex", "regulator", "channel", "transporter", "ligase",
    "syndrome", "deficiency", "type", "early", "onset", "familial", "signaling")

  /** The seed's calls and the artifact lines they must produce. Ids are
    * class-prefixed, so ids overlap only within a class: in-call repeats,
    * later calls re-sending ids of earlier ones, and two input labels the
    * schema does not map (`transcript`, `coexpression`). */
  final case class Plan(seed: Long, n: Long) {
    private def jitter(k: Long, span: Long): Long =
      java.lang.Math.floorMod(Corpus.splitmix64(seed * 31 + k), span)
    val calls: Seq[Call] = {
      val o1 = n / 2 + jitter(1, n / 10)
      val o2 = n / 4 + jitter(2, n / 4)
      val o3 = n + jitter(3, n / 5)
      val o4 = n / 2 + jitter(4, n / 10)
      Seq(
        Call(nodes = true, Seq(Seg("gene", 0, n), Seg("protein", 0, n),
          Seg("transcript", 0, n / 10))),
        Call(nodes = false, Seq(Seg("gene_disease", 0, n), Seg("ppi", 0, 2 * n),
          Seg("coexpression", 0, n / 10))),
        Call(nodes = true, Seq(Seg("gene", o1, o1 + n), Seg("disease", 0, n / 2),
          Seg("pathway", 0, n / 4), Seg("protein", o2, o2 + n))),
        Call(nodes = false, Seq(Seg("ppi", o3, o3 + 2 * n), Seg("gene_disease", o4, o4 + n))),
      )
    }

    /** rel-as-node direction: directed rows get IS_SOURCE_OF/IS_TARGET_OF,
      * the rest two IS_PART_OF connector edges. */
    def directed(i: Long): Boolean = i % 3 != 0

    /** Distinct ids per output label across all calls (first call wins). */
    def expectedLines: Map[String, Long] = {
      def union(label: String): Seq[Long] = calls.flatMap(_.segs).filter(_.label == label)
        .flatMap(s => s.lo until s.hi).distinct
      val gda = union("gene_disease")
      val nDirected = gda.count(directed).toLong
      Map(
        "gene" -> union("gene").size.toLong,
        "protein" -> union("protein").size.toLong,
        "disease" -> union("disease").size.toLong,
        "pathway" -> union("pathway").size.toLong,
        "gene to disease association" -> gda.size.toLong,
        "IS_SOURCE_OF" -> nDirected,
        "IS_TARGET_OF" -> nDirected,
        "IS_PART_OF" -> 2L * (gda.size - nDirected),
        "INTERACTS_WITH" -> union("ppi").size.toLong,
      )
    }

    /** The call's input rows in order: each segment's ids, every 8th twice. */
    private def rowsOf(c: Call): Iterator[(String, Long)] =
      c.segs.iterator.flatMap { s =>
        Iterator.range(s.lo, s.hi).flatMap(i => Iterator.fill(if (i % 8 == 0) 2 else 1)((s.label, i)))
      }

    def nodeRows(c: Call): Iterator[RawNode] = rowsOf(c).map { case (label, i) => node(seed, label, i) }

    def edgeRows(c: Call): Iterator[RawEdge] = rowsOf(c).map { case (label, i) => edge(seed, n, label, i) }
  }

  private def word(h: Long, k: Int): String =
    Words(java.lang.Math.floorMod(Corpus.splitmix64(h + k), Words.length.toLong).toInt)

  def node(seed: Long, label: String, i: Long): RawNode = {
    val h = Corpus.splitmix64(seed ^ (label.hashCode.toLong << 32) ^ i)
    val num = java.lang.Math.floorMod(h, 100000L)
    val props = label match {
      case "gene" => Props.of(
        "symbol" -> PV.str(s"G$i"), "name" -> PV.str(s"${word(h, 1)} ${word(h, 2)}\n${word(h, 3)}"),
        "chromosome" -> PV.str(s"chr${1 + num % 22}"), "start" -> PV.int(num * 1000),
        "gc_content" -> PV.dbl(num / 100000.0), "protein_coding" -> PV.bool(num % 4 != 0),
        "aliases" -> PV.arr(Seq(s"${word(h, 4)}$i", s"${word(h, 5)}-${num % 97}")))
      case "protein" => Props.of(
        "name" -> PV.str(s"${word(h, 1)} ${word(h, 2)}"), "length" -> PV.int(50 + num % 3000),
        "mass" -> PV.dbl(num * 1.5), "reviewed" -> PV.bool(num % 2 == 0),
        "isoforms" -> PV.arr(Seq(s"P$i-1", s"P$i-2", s"P$i-3").take(1 + (num % 3).toInt)))
      case "disease" => Props.of(
        "name" -> PV.str(s"${word(h, 1)} ${word(h, 2)}"),
        "description" -> PV.str(s"${word(h, 3)} ${word(h, 4)}.\n${word(h, 5)} ${word(h, 6)}.\r\nend"),
        "synonyms" -> PV.arr(Seq(word(h, 7), word(h, 8))), "prevalence" -> PV.dbl(num / 1e7))
      case "pathway" => Props.of(
        "name" -> PV.str(s"${word(h, 1)} ${word(h, 2)} pathway"), "species" -> PV.str("Homo sapiens"),
        "size" -> PV.int(5 + num % 400), "curated" -> PV.bool(num % 3 == 0))
      case _ => Props.of("name" -> PV.str(word(h, 1)), "biotype" -> PV.str(word(h, 2)))
    }
    RawNode(s"${Prefix(label)}:$i", label, props)
  }

  def edge(seed: Long, n: Long, label: String, i: Long): RawEdge = {
    val h = Corpus.splitmix64(seed ^ (label.hashCode.toLong << 32) ^ i)
    val num = java.lang.Math.floorMod(h, 100000L)
    label match {
      case "gene_disease" => RawEdge(s"gda:$i", s"hgnc:${i % n}", s"mondo:${i % (n / 2)}", label,
        Props.of("score" -> PV.dbl(num / 100000.0), "evidence" -> PV.arr(Seq(word(h, 1), word(h, 2))),
          "directed" -> PV.bool(i % 3 != 0), "source" -> PV.str("kgbench")))
      case "ppi" => RawEdge(null, s"uniprot:${i / 8}", s"uniprot:${i / 8 + 1 + i % 8}", label,
        Props.of("score" -> PV.dbl(num / 100000.0), "method" -> PV.str(word(h, 1)),
          "publications" -> PV.int(num % 50), "physical" -> PV.bool(num % 2 == 1)))
      case _ => RawEdge(null, s"hgnc:${i % n}", s"hgnc:${(i * 7 + 1) % n}", label,
        Props.of("rho" -> PV.dbl(num / 100000.0)))
    }
  }

  private val Prefix = Map("gene" -> "hgnc", "protein" -> "uniprot", "disease" -> "mondo",
    "pathway" -> "reactome", "transcript" -> "enst")
}

/** Checks on a Neo4j bulk-import directory, and its sizes. */
object Artifacts {

  final case class Check(ok: Boolean, lines: Long, bytes: Long, partFiles: Int, note: String)

  private val PartFile = """(.+)-part\d+\.csv""".r

  /** Each label's part-file lines, sorted, and each header file's text. */
  def contents(out: Path): Map[String, Seq[String]] = {
    val files = Files.list(out).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    files.map(f => f.getFileName.toString).collect {
      case n @ PartFile(label) => s"$label parts" -> n
      case n if n.endsWith("-header.csv") => n -> n
    }.groupBy(_._1).map { case (k, fs) =>
      k -> fs.flatMap { case (_, n) => Files.readAllLines(out.resolve(n)).asScala }.sorted
    }
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Part-file line totals per label equal the expected distinct counts,
    * every line has its header's field count, every label has a header,
    * and the import script names every part file. */
  def check(out: Path, sink: Neo4jCsvSink, expected: Map[String, Long]): Check = {
    val files = Files.list(out).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val names = files.map(_.getFileName.toString)
    val parts = names.collect { case n @ PartFile(label) => label -> n }
    val script = out.resolve(sink.importScriptName)
    val scriptText = if (Files.exists(script)) Files.readString(script) else ""
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    val lines = parts.groupBy(_._1).map { case (label, ps) =>
      val header = out.resolve(s"$label-header.csv")
      val width = if (Files.exists(header)) Files.readString(header).trim.split(";", -1).length
        else { problems += s"no header for $label"; -1 }
      if (!scriptText.contains(s"$label-part.*")) problems += s"import script misses $label parts"
      val n = ps.map { case (_, f) =>
        val ls = Files.readAllLines(out.resolve(f))
        if (width > 0 && ls.asScala.exists(_.split(";", -1).length != width))
          problems += s"$f has a line whose field count differs from its header"
        ls.size.toLong
      }.sum
      label -> n
    }
    val want = expected.map { case (l, n) => sink.fileLabel(l) -> n }
    if (lines != want) problems += s"lines per label ${lines.toSeq.sorted} != expected ${want.toSeq.sorted}"
    if (!Files.exists(script)) problems += "no import script"
    val bytes = files.map(Files.size).sum
    Check(problems.isEmpty, lines.values.sum, bytes, parts.size,
      if (problems.isEmpty) s"${lines.values.sum} lines in ${parts.size} part files" else problems.mkString("; "))
  }
}
