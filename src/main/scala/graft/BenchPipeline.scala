package graft

import org.apache.spark.sql.SparkSession
import graft.corpus.{AnalyticsDomain, Corpus}

/** One KG-pipeline benchmark run in a fresh JVM: args = (cores, nDocs).
  * Prints a single JSON line {"cores":..,"docs":..,"sec":..,"triples":..}
  * and halts (bypassing SparkSession.stop(), which can hang on Netty
  * transport close in rapid session cycling — each parallelism level gets
  * its own process instead, which is also the honest analogue of separate
  * spark-submit cluster runs).
  */
object BenchPipeline {

  def newSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      // FIXED shuffle layout across parallelism levels: the scaling pair
      // must run the SAME job at two cluster sizes, and a core-derived
      // partition count changes the physical plan (and block sizes) per
      // leg; AQE coalesces the small exchanges either way
      .config("spark.sql.shuffle.partitions", "32")
      // uncompressed in-memory cache: a thin integer-keyed working set
      // gains little from dictionary/RLE encoding but pays per-batch
      // encode+decode CPU on the build and EVERY consumer — measured 7.15s
      // vs 9.8s on the 16-core leg at 4M docs (dictionary-coded rows).
      // ~2 GB at 4M docs; at any scale the per-partition slice stays ~50 MB.
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      // ONE FILE = ONE TASK for the staged input: the snappy'd doc files
      // are ~12 MB, and default packing (maxPartitionBytes 128m, openCost
      // 4m) would merge 2-3 files per partition — measured at 4M docs that
      // left the dominant scan+extract stage with 8 tasks on the 16-core
      // leg (half the slots idle) while the 4-core leg stayed saturated,
      // reading as a phantom scaling loss. openCost >= maxPartitionBytes
      // forbids packing; no file exceeds 64m so none is split either.
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.files.openCostInBytes", "64m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Size-based input layout, identical at every parallelism level — a
    * cluster's split count comes from the DATA, not from how many executors
    * read it. 125k docs/split = 32 files at 4M docs: the 16-core leg gets
    * two full waves of extract tasks (straggler slack), the 4-core leg
    * eight — both saturated, as a 100-TB table's thousands of splits would
    * keep any executor count. */
  private val DocsPerSplit = 125000L

  private def layoutParts(nDocs: Long): Int =
    math.max(8, math.ceil(nDocs.toDouble / DocsPerSplit).toInt)

  /** Stage the deterministic corpus as a parquet table (once per nDocs,
    * shared across legs/JVMs): the timed job then READS its input like any
    * cluster job would, instead of paying the synthesis generator inside
    * the measured region (~30% of the timed allocation traffic was
    * harness-side string generation, which binds exactly the resource —
    * memory bandwidth — whose scaling the pair protocol measures). */
  def ensureInput(spark: SparkSession, nDocs: Long): String = {
    val base = sys.env.getOrElse("SPARK_GRAFT_BENCH_INPUT_DIR", "/tmp/graft-bench-input")
    // layout-keyed dir: a changed docs-per-split re-stages instead of
    // silently reusing the old file granularity
    val dir = s"$base/docs-$nDocs-p${layoutParts(nDocs)}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) {
      Corpus.synthesize(spark, nDocs, AnalyticsDomain.vocab, numPartitions = layoutParts(nDocs))
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** One full KG-construction run over the staged `nDocs` corpus, on the
    * FUSED mention-set path ([[KgPipeline.runFused]]): extraction is a
    * codegen'd byte-walk expression, the barriered working set is one
    * packed-array row per document, and per-doc pair emission runs in the
    * primitive per-partition combiner — no object materialization anywhere
    * in the corpus-sized plan. The timed region starts at the input scan
    * (the staged parquet table). The run leaves nothing cached: its
    * barrier blocks are freed once its datasets are unreachable. */
  def pipelineRun(spark: SparkSession, nDocs: Long): (Double, Long) = {
    import spark.implicits._
    val docs = spark.read.parquet(ensureInput(spark, nDocs)).as[graft.model.Doc]
    val pipe = KgPipeline.analytics(spark)
    val t0 = System.nanoTime()
    val (ns, es, ts) = pipe.runFused(docs)
    val _ = (ns, es)
    val n = ts.count()
    ((System.nanoTime() - t0) / 1e9, n)
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val nDocs = args(1).toLong
    // best-of-N as the least-contended estimate: this host VM shows heavy
    // run-to-run CPU-steal noise (round-1 protocol, BASELINE.md); 7 reps
    // give the best-of a stable floor
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "7").toInt
    val spark = newSession(cores)
    pipelineRun(spark, 2000) // warm codegen/JIT
    // a second, larger warm-up (~5% of the input) pushes the hot loops
    // through C2 so the FIRST timed rep is already at speed (measured: with
    // only the 2k warm-up the first rep ran ~30% slow, wasting a rep)
    pipelineRun(spark, math.max(20000L, nDocs / 20))
    // best-of-N: the host VM has high run-to-run noise (CPU steal); the
    // minimum is the least-contended estimate of the engine's cost
    val runs = (1 to reps).map(_ => pipelineRun(spark, nDocs))
    val (sec, triples) = runs.minBy(_._1)
    val repSecs = runs.map(r => f"${r._1}%.2f").mkString("[", ",", "]")
    println(f"""{"cores":$cores,"docs":$nDocs,"sec":$sec%.2f,"triples":$triples,"reps":$reps,"rep_secs":$repSecs}""")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
