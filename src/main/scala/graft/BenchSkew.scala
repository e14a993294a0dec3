package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.corpus.{AnalyticsDomain, Corpus}

/** Hub-skew bench leg (VERDICT r7 #7): the round-over-round proof that the
  * fused pipeline absorbs an open-dictionary hub (head entity in ~50% of
  * ALL documents — the worst co-occurrence reduce-key shape) without a
  * straggling task. Runs the fused pipeline over a geometrically
  * hub-skewed corpus with a task-duration listener and prints ONE JSON
  * line `{"sec":…,"triples":N,"dominant_ratio":…,"max_ratio":…}` where
  *  - `dominant_ratio` = max/median task duration of the stage with the
  *    largest total task time (the stage skew would actually lengthen),
  *  - `max_ratio` = the worst ratio over all stages whose slowest task is
  *    itself significant (>= 500 ms — a 3 ms-median stage with a 200 ms
  *    max is scheduling/codegen jitter, not data skew).
  * The straggler bar is max <= 4x median. `graft.Bench` runs this as a
  * subprocess each official line (kg_skew_* fields), replacing the
  * manually-refreshed probe evidence recorded in BASELINE.md.
  * args = (cores, nDocs). */
object BenchSkew {

  final class TaskStats extends SparkListener {
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, java.util.Vector[Long]]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      if (t.taskInfo != null && t.taskInfo.successful) {
        byStage.computeIfAbsent(t.stageId, _ => new java.util.Vector[Long]())
          .add(t.taskInfo.duration)
      }
    }
  }

  /** (stageId, nTasks, medianMs, maxMs, max/median) per stage with >=
    * `minTasks` successful tasks. */
  def stageSkewReport(stats: TaskStats, minTasks: Int = 8): Seq[(Int, Int, Long, Long, Double)] = {
    import scala.jdk.CollectionConverters._
    stats.byStage.asScala.toSeq.sortBy(_._1).flatMap { case (sid, v) =>
      val ds = v.asScala.map(_.toLong).toSeq.sorted
      if (ds.length < minTasks) None
      else {
        val med = ds(ds.length / 2)
        val mx = ds.last
        Some((sid, ds.length, med, mx, if (med == 0) 1.0 else mx.toDouble / med))
      }
    }
  }

  /** Deterministic skewed corpus parquet under /tmp, reused across legs
    * and reps of one bench run (idempotent via _SUCCESS). */
  def ensureSkewedInput(spark: SparkSession, nDocs: Long): String = {
    val parts = math.max(8, math.ceil(nDocs / 125000.0).toInt)
    val dir = s"/tmp/graft-bench-input/skewed-$nDocs-p$parts"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) {
      Corpus.synthesizeSkewed(spark, nDocs, AnalyticsDomain.vocab,
        AnalyticsDomain.dictionary.map(_._1), numPartitions = parts)
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val nDocs = args(1).toLong
    val spark = BenchPipeline.newSession(cores)
    import spark.implicits._
    val dir = ensureSkewedInput(spark, nDocs)
    val docs = spark.read.parquet(dir).as[graft.model.Doc]
    val pipe = KgPipeline.analytics(spark)
    // warm-up (unlistened): JIT + codegen + parquet footers
    BenchPipeline.pipelineRun(spark, 2000)

    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)
    val t0 = System.nanoTime()
    val (_, _, ts) = pipe.runFused(docs)
    val nTriples = ts.count()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener drain
    val rep = stageSkewReport(stats)
    val dominant = {
      import scala.jdk.CollectionConverters._
      val totals = stats.byStage.asScala.map { case (sid, v) =>
        sid -> v.asScala.map(_.toLong).sum
      }
      val domSid = totals.maxByOption(_._2).map(_._1)
      rep.find(r => domSid.contains(r._1)).map(_._5).getOrElse(1.0)
    }
    val big = rep.filter(_._4 >= 500)
    val maxRatio = big.map(_._5).maxOption.getOrElse(1.0)
    println(f"""{"sec":$sec%.2f,"triples":$nTriples,""" +
      f""""dominant_ratio":$dominant%.2f,"max_ratio":$maxRatio%.2f}""")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
