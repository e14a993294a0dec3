package graft

import org.apache.spark.sql.SparkSession

/** Measurement-only companion to [[Bench]] (guide §1.4 discipline): runs the
  * SAME per-query timing section as the frozen harness — identical session
  * conf, identical warmups, identical artifact pre-builds, each query timed
  * by `.count()` on its returned DataFrame — but skips the ~18-min
  * subprocess scaling/skew legs so an optimization round can iterate on
  * per-query numbers quickly.
  *
  * Usage: `sbt "runMain graft.BenchExtra [query ...]"` — with no args every
  * declared query runs once; with args only the named queries run.
  * `SPARK_GRAFT_EXTRA_REPS` (default 1) repeats each query and reports every
  * sample plus the min. Prints one JSON line
  * `{"metric":"extra","queries":{...},"samples":{...},"sf":...}`.
  *
  * This main is additive: Bench.scala, Verify.scala and the oracle SQL are
  * untouched; official numbers stay the driver's own `graft.Bench` run.
  */
object BenchExtra {

  /** Same minimal stateful streaming drain as Bench's private warmup
    * (Bench.scala is frozen, so it keeps its own copy): loads the
    * incremental planner / state-store / WAL classes once so streaming rows
    * measure operators, not class loading. */
  private def streamingWarmup(spark: SparkSession): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val base = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(System.getProperty("java.io.tmpdir")),
      "graft-streamwarm-" + java.util.UUID.randomUUID().toString.take(8))
    val in = new org.apache.hadoop.fs.Path(base, "in").toString
    spark.range(16).selectExpr("id", "id % 4 as k").repartition(2)
      .write.mode("overwrite").parquet(in)
    val counts = spark.readStream
      .schema("id LONG, k LONG").option("maxFilesPerTrigger", 1).parquet(in)
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, Long](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long)], st: GroupState[Long]) =>
          val n = st.getOption.getOrElse(0L) + rows.size
          st.update(n); Iterator.single(n)
      }
    graft.streaming.Streaming.drainToMemory(counts.toDF(),
      new org.apache.hadoop.fs.Path(base, "ckpt").toString)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(base, true)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "1").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmups identical to Bench's query section
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "nation", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    streamingWarmup(spark)
    val wanted: Set[String] = args.toSet
    val artifacts = SparkEntry.artifactBuilders.map { case (name, build) =>
      val t0 = System.nanoTime()
      val ok = try { build(spark, sfDir); true } catch { case _: Throwable => false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.contains(n) }
    val samples = selected.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"extra:$name")
      val ss = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case t: Throwable =>
          System.err.println(s"FAIL $name: $t"); false }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      spark.sparkContext.setJobDescription(null)
      name -> ss
    }
    val qs = samples.map { case (k, ss) => "\"" + k + "\":" + f"${ss.min}%.3f" }
      .mkString("{", ",", "}")
    val sm = samples.map { case (k, ss) =>
      "\"" + k + "\":[" + ss.map(s => f"$s%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val arts = artifacts.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = samples.map(_._2.min).sum
    println(s"""{"metric":"extra","value":$total,"unit":"sec","queries":$qs,""" +
      s""""samples":$sm,"artifact_build":$arts,"sf":"$sfDir"}""")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
