package kgbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The KG-construction benchmark program. One JVM runs one workload as a
  * closed loop (one job at a time, back to back) at `local[nproc]`:
  *
  *   --workload corpus_fused|corpus_bigdict|adapter_import
  *   --seed N --seconds S --trace 0|1 --work DIR [--stage 1]
  *
  * With `--stage 1` it only stages the seed's inputs when they are missing
  * and exits: run.py does that in a JVM of its own, so every timed JVM
  * starts alike whether or not its seed was staged before. Otherwise it
  * loads the staged inputs, times the set-up, warms up, then runs jobs
  * (each checked after its clock stops) until `S` seconds have passed.
  * With `--trace 1` it also runs the same public functions layer by layer
  * and reports per-layer metrics instead of the end-to-end ones.
  * Human-readable lines go first; the last stdout line is the JSON result.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, stage: Boolean = false)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", Paths.get(req("work")).toAbsolutePath, kv.get("stage").contains("1"))
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.files.openCostInBytes", "64m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    try run(parse(args))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }
    // SparkSession.stop() can hang on transport close; nothing is left to
    // flush (every artifact is committed), so end the JVM directly.
    Runtime.getRuntime.halt(0)
  }

  private def run(o: Opts): Unit = {
    Files.createDirectories(o.work)
    if (o.stage) stage(o)
    else {
      val t0 = System.nanoTime()
      val spark = session(o.work)
      val sessionS = secondsSince(t0)
      val w: Workload = o.workload match {
        case "corpus_fused"   => new CorpusWorkload(spark, o, CorpusWorkload.Fused)
        case "corpus_bigdict" => new CorpusWorkload(spark, o, CorpusWorkload.BigDict)
        case "adapter_import" => new AdapterWorkload(spark, o)
        case other            => throw new IllegalArgumentException(s"unknown workload $other")
      }
      println(Harness.run(w, o, sessionS))
      System.out.flush()
    }
  }

  /** Stage the seed's inputs unless they are staged already. Only the fused
    * corpus starts Spark to stage (its generator is a Spark job). */
  private def stage(o: Opts): Unit = {
    lazy val spark = session(o.work)
    o.workload match {
      case "corpus_fused"   => CorpusWorkload.stage(o, CorpusWorkload.Fused, spark)
      case "corpus_bigdict" => CorpusWorkload.stage(o, CorpusWorkload.BigDict, spark)
      case "adapter_import" => AdapterWorkload.stage(o, AdapterWorkload.BaseRows)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}
