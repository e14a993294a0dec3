package kgbench

import java.nio.file.Files
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** Per-stage counts gathered by the benchmark's own [[SparkListener]]. */
final class StageStats(val stageId: Int) {
  var name = ""
  var tasks = 0
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** Wall time from submission to completion. */
  var wallMs = 0L
  val taskMs = ArrayBuffer[Long]()
}

/** Stage metrics keyed by the job group the stage ran under. Listener
  * events arrive asynchronously, so readers wait for the group's jobs to
  * end ([[Trace.awaitGroup]]). */
final class StageListener extends SparkListener {
  private val groupOfStage = mutable.Map[Int, String]()
  private val stages = mutable.Map[Int, StageStats]()
  private val endedJobs = mutable.Set[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(group => e.stageIds.foreach(s => groupOfStage(s) = group))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { endedJobs += e.jobId }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, new StageStats(i.stageId))
    s.name = i.name
    s.wallMs = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageStats(e.stageId))
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.diskBytesSpilled
      s.taskMs += e.taskInfo.duration
    }
  }
  def jobEnded(id: Int): Boolean = synchronized(endedJobs.contains(id))
  def stagesOf(group: String): Seq[StageStats] = synchronized {
    groupOfStage.collect { case (s, g) if g == group => stages.get(s) }.flatten.toSeq.sortBy(_.stageId)
  }
}

/** A span around one call into a layer: name, start, end, parent, run id. */
final case class Span(name: String, run: Int, parent: String, startNs: Long, endNs: Long,
    group: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced runs. Each span runs its Spark
  * jobs under its own job group, so the listener attributes stages to it.
  * Spans are written out once, when the run ends ([[write]]). */
final class Trace(o: Main.Opts) {
  private val sc = org.apache.spark.sql.SparkSession.active.sparkContext
  private val listener = new StageListener
  sc.addSparkListener(listener)
  private val spans = ArrayBuffer[Span]()
  private var run = 0
  private var open = List(("root", ""))

  /** Start a traced run; spans recorded until the next call share its id. */
  def newRun(): Int = { run += 1; run }

  def span[T](name: String)(body: => T): T = {
    val group = s"kgbench-$run-${spans.size}-$name"
    val parent = open.head._1
    sc.setJobGroup(group, name)
    open = (name, group) :: open
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      if (open.tail.isEmpty) sc.clearJobGroup() else sc.setJobGroup(open.head._2, open.head._1)
      spans += Span(name, run, parent, t0, t1, group)
    }
  }

  /** Wait until the listener has seen every job of the span's group end. */
  private def awaitGroup(group: String): Unit = {
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!ids.forall(listener.jobEnded) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Spans of the current run. */
  def current: Seq[Span] = spans.filter(_.run == run).toSeq

  /** Self time per span name in the current run: duration minus the part
    * of it covered by child spans. */
  def selfSeconds: Map[String, Double] = {
    val cur = current
    cur.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val kids = cur.filter(c => c.parent == s.name && c.startNs >= s.startNs && c.endNs <= s.endNs)
        s.seconds - kids.map(_.seconds).sum
      }.sum
    }
  }

  private def stagesOf(s: Span): Seq[StageStats] = { awaitGroup(s.group); listener.stagesOf(s.group) }

  /** Stage counts of every span of the current run named `name`. */
  def stagesOf(name: String): Seq[StageStats] = current.filter(_.name == name).flatMap(stagesOf)

  /** Stage counts of the whole current run. */
  def allStages: Seq[StageStats] = current.flatMap(stagesOf)

  /** Write every span and its stage counts as JSON; returns the path. */
  def write(): String = {
    val dir = o.work.resolve("traces")
    Files.createDirectories(dir)
    val path = dir.resolve(s"${o.workload}-seed${o.seed}.json")
    val rows = spans.map { s =>
      val st = stagesOf(s).map { g =>
        s"""{"stage": ${g.stageId}, "tasks": ${g.tasks}, "run_ms": ${g.runMs}, """ +
          s""""shuffle_write_bytes": ${g.shuffleWriteBytes}, "shuffle_write_records": ${g.shuffleWriteRecords}, """ +
          s""""shuffle_read_bytes": ${g.shuffleReadBytes}, "spill_bytes": ${g.spillBytes}, """ +
          s""""wall_ms": ${g.wallMs}, "task_ms_max": ${if (g.taskMs.isEmpty) 0 else g.taskMs.max}}"""
      }
      s"""{"name": "${s.name}", "run": ${s.run}, "parent": "${s.parent}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "stages": [${st.mkString(", ")}]}"""
    }
    Files.writeString(path, rows.mkString(s"""{"workload": "${o.workload}", "seed": ${o.seed}, "spans": [\n""", ",\n", "\n]}\n"))
    path.toString
  }
}

object Trace {
  val Mb: Double = 1024.0 * 1024.0

  /** Shuffle, spill and skew of a set of stages; skew is max over median
    * task time in the stage with the most executor run time. */
  def exchange(stages: Seq[StageStats]): Map[String, Double] = {
    val dominant = stages.filter(_.taskMs.nonEmpty).maxByOption(_.runMs)
    val skew = dominant.map { d =>
      val med = Main.median(d.taskMs.map(_.toDouble).toSeq)
      if (med > 0) d.taskMs.max / med else 1.0
    }.getOrElse(0.0)
    Map(
      "exchange.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / Mb,
      "exchange.shuffle_records" -> stages.map(_.shuffleWriteRecords).sum.toDouble,
      "exchange.spill_mb" -> stages.map(_.spillBytes).sum / Mb,
      "exchange.task_skew" -> skew,
    )
  }
}
