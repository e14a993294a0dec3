package kgbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{KgContext, KgPipeline}
import graft.corpus.{AnalyticsDomain, Corpus}
import graft.extract.{CoocCombine, DictEntry, MentionDict, Mentions}
import graft.model.Doc
import Main.secondsSince

/** `KgPipeline.runFused` over a staged corpus, counting triples.
  *
  *  - corpus_fused: [[Corpus.synthesize]] over the 22-surface analytics
  *    dictionary. Extract and decode carry the work; the dictionary is below
  *    both dense gates, so the combiner takes its dense branch.
  *  - corpus_bigdict: a 100k-surface dictionary with Zipf term frequencies.
  *    Above both gates, so the combiner takes its hash branch and flush
  *    path, and the distinct-pair exchange is corpus-sized, not
  *    dictionary-bounded.
  */
final class CorpusWorkload(spark: SparkSession, o: Main.Opts, kind: CorpusWorkload.Kind)
    extends Workload {
  import spark.implicits._

  private val entries: IndexedSeq[DictEntry] = kind.entries(o.seed).toIndexedSeq
  private var docsDir: Path = _
  private var meta: Map[String, String] = Map.empty
  private var pipe: KgPipeline = _
  private var surfaces = 0

  private def expected(k: String): Long = meta(k).toLong

  def warmups: Int = 3
  def minJobs: Int = 5

  def load(): Unit = {
    val (dir, m) = Staging.load(o.work, kind.name, o.seed, kind.nDocs)
    docsDir = dir.resolve("docs")
    meta = m
    println(s"expected triples ${meta("triples")} over ${meta("docs")} docs")
  }

  private def docs: Dataset[Doc] = kind.read(spark, docsDir)

  def setup(): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    val ctx: KgContext = AnalyticsDomain.context()
    val t1 = System.nanoTime()
    val dict = MentionDict.build(entries)
    val t2 = System.nanoTime()
    val next = new KgPipeline(spark, ctx, dict)
    val t3 = System.nanoTime()
    if (pipe != null) { pipe.bcDict.destroy(); pipe.bcCtx.destroy() }
    pipe = next
    surfaces = dict.linkFor.length
    CorpusWorkload.guard(kind, surfaces)
    Seq("context.build_s" -> (t1 - t0) / 1e9, "dict.build_s" -> (t2 - t1) / 1e9,
      "pipeline.broadcast_s" -> (t3 - t2) / 1e9)
  }

  override def setupCounts: Seq[(String, Double)] = Seq("dict.surfaces" -> surfaces.toDouble)

  /** Drop what the previous job cached: the CacheManager would otherwise
    * serve the mention sets of an equal plan from the last run. */
  private def reset(): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  def job(): JobResult = {
    reset()
    val t0 = System.nanoTime()
    val (_, _, triples) = pipe.runFused(docs)
    val n = triples.count()
    val s = secondsSince(t0)
    JobResult(s, n, n == expected("triples"), s"triples $n, expected ${meta("triples")}")
  }

  def traced(t: Trace): (JobResult, Map[String, Double]) = {
    reset()
    t.newRun()
    val t0 = System.nanoTime()
    var ms: DataFrame = null
    var docsOut, keysOut, n = 0L
    var cacheMb = 0.0
    // blocks of earlier jobs (the library's lazy local checkpoints) live
    // until the ContextCleaner drops them, so only RDDs new since here count
    val storedBefore = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    t.span("job") {
      ms = t.span("extract") {
        val m = pipe.mentionSets(docs).persist(StorageLevel.MEMORY_AND_DISK)
        docsOut = m.count()
        m
      }
      cacheMb = spark.sparkContext.getRDDStorageInfo.filterNot(r => storedBefore(r.id))
        .map(r => r.memSize + r.diskSize).sum / Trace.Mb
      val keys = t.span("combine") {
        val k = CoocCombine.partialPairAndRankKeys(ms.select(col("pm")).as[Array[Long]],
          pipe.bcDict, Mentions.DefaultMaxEntitiesPerDoc).toDF("k")
          .persist(StorageLevel.MEMORY_AND_DISK)
        keysOut = k.count()
        k
      }
      t.span("exchange") { keys.distinct().count() }
      n = t.span("decode") { pipe.triplesFromSets(ms).count() }
      keys.unpersist(blocking = true)
    }
    val seconds = secondsSince(t0)
    val self = t.selfSeconds
    val sizes = ms.select(size(col("pm")).cast("long").as("k"),
      aggregate(col("pm"), lit(0L), (a, p) => a + p.bitwiseAND(lit(0xffffffffL)).cast("long")).as("n"))
      .agg(sum(col("n")), sum(col("k") * (col("k") - 1) / 2).cast("long")).head()
    val (occurrences, pairsIn) = (sizes.getLong(0), sizes.getLong(1))
    val ok = n == expected("triples") && docsOut == expected("docs_with_mentions") &&
      occurrences == expected("occurrences")
    // the library call re-runs its combiner internally: decode's share is
    // its span minus the wall time of that call's own combiner stage (the
    // one with the largest shuffle write under the span); what remains is
    // the distinct's reduce side, which Spark pipelines into decode
    val combineStageS = t.stagesOf("decode").map(g => (g.shuffleWriteRecords, g.wallMs))
      .maxByOption(_._1).fold(0.0)(_._2 / 1e3)
    val decode = self("decode") - combineStageS
    val layers = Map(
      "extract.busy_s" -> self("extract"),
      "extract.docs_in" -> expected("docs").toDouble,
      "extract.docs_out" -> docsOut.toDouble,
      "extract.mentions" -> occurrences.toDouble,
      "extract.hit_ratio" -> occurrences.toDouble / expected("tokens"),
      "extract.cache_mb" -> cacheMb,
      "combine.busy_s" -> self("combine"),
      "combine.pairs_in" -> pairsIn.toDouble,
      "combine.keys_out" -> keysOut.toDouble,
      "combine.reduction_ratio" -> keysOut.toDouble / math.max(1L, pairsIn),
      "decode.busy_s" -> decode,
      "decode.triples_out" -> n.toDouble,
    ) ++ Trace.exchange(t.stagesOf("exchange"))
    (JobResult(seconds, n, ok, s"traced: triples $n, docs out $docsOut, occurrences $occurrences"),
      layers)
  }
}

object CorpusWorkload {

  sealed abstract class Kind(val name: String, val nDocs: Long) {
    def entries(seed: Long): Seq[DictEntry]
    /** Write the seed's documents under `dir`; returns their checksum and
      * the outputs a job must produce. */
    def stage(dir: Path, seed: Long, spark: => SparkSession): Map[String, String]
    def read(spark: SparkSession, dir: Path): Dataset[Doc]
  }

  /** Staged files per corpus: two per core keeps every core busy while
    * extraction runs (one file is one task). */
  private def parts: Int = 2 * Runtime.getRuntime.availableProcessors

  private def metaOf(nDocs: Long, sum: String, e: Corpora.Expected): Map[String, String] =
    Map("checksum" -> sum, "docs" -> nDocs.toString, "triples" -> e.triples.toString,
      "docs_with_mentions" -> e.docsWithMentions.toString, "tokens" -> e.tokens.toString,
      "occurrences" -> e.occurrences.toString)

  /** The library's own corpus generator, staged as Parquet through Spark. */
  case object Fused extends Kind("corpus_fused", 200000L) {
    def entries(seed: Long): Seq[DictEntry] = Corpora.analyticsEntries
    def stage(dir: Path, seed: Long, spark: => SparkSession): Map[String, String] = {
      Corpus.synthesize(spark, nDocs, AnalyticsDomain.vocab, seed = seed, numPartitions = parts)
        .write.parquet(dir.toString)
      val docs = read(spark, dir)
      metaOf(nDocs, Staging.checksum(docs.toDF()),
        Corpora.expected(docs.toLocalIterator().asScala, entries(seed)))
    }
    def read(spark: SparkSession, dir: Path): Dataset[Doc] = {
      import spark.implicits._
      spark.read.parquet(dir.toString).as[Doc]
    }
  }

  /** The benchmark's Zipf corpus, generated and staged as JSON lines without Spark. */
  case object BigDict extends Kind("corpus_bigdict", 10000L) {
    val Surfaces = 100000
    def entries(seed: Long): Seq[DictEntry] = Corpora.bigEntries(seed, Surfaces)
    def stage(dir: Path, seed: Long, spark: => SparkSession): Map[String, String] = {
      val es = entries(seed).toIndexedSeq
      val sum = Staging.writeJson(dir, parts, Corpora.zipfDocs(seed, nDocs, es))
      metaOf(nDocs, f"$sum-${es.map(_.hashCode.toLong).sum}%x",
        Corpora.expected(Corpora.zipfDocs(seed, nDocs, es), es))
    }
    def read(spark: SparkSession, dir: Path): Dataset[Doc] = {
      import spark.implicits._
      Staging.readJson[Doc](spark, dir)
    }
  }

  /** Stage `kind`'s input for the seed unless it is staged already. */
  def stage(o: Main.Opts, kind: Kind, spark: => SparkSession): Unit =
    Staging.ensure(o.work, kind.name, o.seed, kind.nDocs) { dir =>
      kind.stage(dir.resolve("docs"), o.seed, spark)
    }

  /** Each corpus workload must take its own combiner branch: the fused
    * corpus stays under both dense gates, the big dictionary exceeds both. */
  def guard(kind: Kind, surfaces: Int): Unit = kind match {
    case Fused => require(surfaces <= CoocCombine.DenseMaxDictCounts && surfaces <= CoocCombine.DenseMaxDict,
      s"corpus_fused dictionary ($surfaces surfaces) must stay within the dense combiner gates")
    case BigDict => require(surfaces > CoocCombine.DenseMaxDictCounts && surfaces > CoocCombine.DenseMaxDict,
      s"corpus_bigdict dictionary ($surfaces surfaces) must exceed the dense combiner gates")
  }
}
