package kgbench

import scala.collection.mutable.ArrayBuffer
import Main.{median, secondsSince}

/** One job's outcome. `seconds` covers only the timed region (input scan
  * to the last triple counted or artifact committed); `ok` is the output
  * check, made after the clock stopped. */
final case class JobResult(seconds: Double, records: Long, ok: Boolean, note: String)

/** A workload: inputs staged from the seed, a set-up that can be repeated,
  * an untraced job and the same job run layer by layer. */
trait Workload {
  /** Load the seed's staged inputs (on disk per workload, seed and size). */
  def load(): Unit
  /** One set-up repetition: named part timings in seconds, summed into
    * `setup_s` (the SparkSession start is added once by the harness). */
  def setup(): Seq[(String, Double)]
  /** Set-up facts that are not timings (reported with the trace). */
  def setupCounts: Seq[(String, Double)] = Nil
  def job(): JobResult
  /** Untimed warm-up jobs: the JIT and Spark's code generation ramp over
    * the first jobs of a JVM. */
  def warmups: Int
  /** Timed jobs per run at least, when `--seconds` fits fewer: the run
    * reports their median. */
  def minJobs: Int
  /** The job, one layer at a time: per-layer metric values. */
  def traced(trace: Trace): (JobResult, Map[String, Double])
}

object Harness {

  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3

  final case class Metric(name: String, unit: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("run_s", "s"), Metric("records_per_s", "1/s"), Metric("setup_s", "s"))

  /** Every per-layer metric, reported by every workload: a layer a
    * workload never enters reads 0. */
  val PerLayer: Seq[Metric] = Seq(
    "context.build_s" -> "s", "dict.build_s" -> "s", "dict.surfaces" -> "count",
    "extract.busy_s" -> "s", "extract.docs_in" -> "count", "extract.docs_out" -> "count",
    "extract.mentions" -> "count", "extract.hit_ratio" -> "ratio", "extract.cache_mb" -> "MB",
    "combine.busy_s" -> "s", "combine.pairs_in" -> "count", "combine.keys_out" -> "count",
    "combine.reduction_ratio" -> "ratio",
    "exchange.shuffle_write_mb" -> "MB", "exchange.shuffle_records" -> "count",
    "exchange.spill_mb" -> "MB", "exchange.task_skew" -> "ratio",
    "decode.busy_s" -> "s", "decode.triples_out" -> "count",
    "translate.busy_s" -> "s", "translate.rows_in" -> "count", "translate.rows_out" -> "count",
    "dedup.busy_s" -> "s", "dedup.rows_in" -> "count", "dedup.rows_out" -> "count",
    "dedup.fresh_ratio" -> "ratio",
    "checkpoint.commit_s" -> "s", "checkpoint.mb_written" -> "MB",
    "sinks.write_s" -> "s", "sinks.mb_written" -> "MB", "sinks.part_files" -> "count",
    "sinks.lines" -> "count", "sinks.import_call_s" -> "s", "sinks.bytes_per_record" -> "B",
    "trace.overhead_s" -> "s",
  ).map { case (n, u) => Metric(n, u) }

  /** A job that throws counts as failed; the run goes on. */
  private def attempt[T](f: => T, failed: JobResult => T): T =
    try f catch {
      case e: Exception =>
        e.printStackTrace()
        failed(JobResult(Double.NaN, 0L, ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  /** Jobs back to back until `budget` seconds have passed and at least
    * `min` jobs ran. */
  private def loop[T](budget: Double, min: Int)(f: => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer[T]()
    while (out.size < min || secondsSince(t0) < budget) out += f
    out.toSeq
  }

  def run(w: Workload, o: Main.Opts, sessionS: Double): String = {
    w.load()
    val setups = (1 to SetupReps).map(_ => w.setup())
    val setupS = sessionS + median(setups.map(_.map(_._2).sum))
    println(f"setup: session ${sessionS}%.3f s + median of $SetupReps repetitions " +
      setups.map(_.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")).mkString("[", "; ", "]"))

    val warm = (1 to w.warmups).map(_ => attempt(w.job(), identity[JobResult]))
    warm.foreach(j => println(f"warm-up: ${j.seconds}%.3f s ${j.note}"))
    // with tracing the window is shared: untraced jobs give the run_s the
    // trace overhead is measured against, traced jobs give the layers
    val untraced = loop(if (o.trace) o.seconds / 2 else o.seconds, w.minJobs)(
      attempt(w.job(), identity[JobResult]))
    val tracedRuns =
      if (!o.trace) Seq.empty
      else {
        val trace = new Trace(o)
        val out = loop(o.seconds / 2, 1)(
          attempt(w.traced(trace), (j: JobResult) => (j, Map.empty[String, Double])))
        println(s"trace: ${trace.write()}")
        out
      }

    val all = warm ++ untraced ++ tracedRuns.map(_._1)
    val failed = all.count(!_.ok)
    def show(kind: String, js: Seq[JobResult]): Unit = js.zipWithIndex.foreach { case (j, i) =>
      println(f"$kind $i: ${j.seconds}%.3f s, ${j.records} records, ${if (j.ok) "ok" else "FAILED"} ${j.note}")
    }
    show("job", untraced)
    show("traced job", tracedRuns.map(_._1))
    val done = untraced.filterNot(_.seconds.isNaN)
    require(done.nonEmpty, "no job completed")
    val runS = median(done.map(_.seconds))
    val perS = median(done.map(j => j.records / j.seconds))
    println(f"${o.workload}: run_s $runS%.4f, records_per_s $perS%.1f, setup_s $setupS%.4f, " +
      f"failed_ratio ${failed.toDouble / all.size}%.4f ($failed/${all.size})")

    val metrics: Seq[(Metric, Double)] =
      if (!o.trace) EndToEnd.zip(Seq(runS, perS, setupS))
      else {
        val layers = tracedRuns.map(_._2).filter(_.nonEmpty)
        val tracedTotal = median(tracedRuns.map(_._1.seconds).filterNot(_.isNaN))
        val fromSetup = setups.head.map(_._1).map(k => k -> median(setups.map(_.toMap.apply(k)))).toMap
        val values = fromSetup ++ w.setupCounts.toMap ++
          Map("trace.overhead_s" -> (tracedTotal - runS)) ++
          PerLayer.map(_.name).map(n => n -> median(layers.flatMap(_.get(n)))).collect {
            case (n, v) if !v.isNaN => n -> v
          }
        PerLayer.map(m => m -> values.getOrElse(m.name, 0.0))
      }
    metrics.foreach { case (m, v) => println(f"  ${m.name}%-28s $v%.6f ${m.unit}") }
    val body = metrics.map { case (m, v) =>
      s""""${m.name}": {"value": ${num(v)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, "metrics": {$body}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
