package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.scalatest.funsuite.AnyFunSuite
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkInternals
import graft.corpus.{AnalyticsDomain, Corpus}
import graft.model._
import graft.SparkTestBase.bag

/** [[Barrier]] owns every frame main materializes and hands out: it
  * evaluates its input once on both branches, the frames main returns
  * leave no CacheManager entry behind, and a barrier's input plan, with its
  * SQL metrics, lives exactly as long as the barrier. */
class BarrierSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Runs `body` on one barrier branch, then puts the context and the conf
    * back as they were. The reliable branch gets a fresh checkpoint dir,
    * which `body` receives. */
  private def onBranch[A](reliable: Boolean)(body: Option[String] => A): A = {
    val sc = spark.sparkContext
    val (dir0, conf0) = (sc.getCheckpointDir, spark.conf.getOption("spark.graft.barrier"))
    val dir = if (reliable) Some(Files.createTempDirectory("graft-ckpt").toString) else None
    dir.foreach(sc.setCheckpointDir)
    spark.conf.set("spark.graft.barrier", if (reliable) "auto" else "local")
    try body(dir) finally {
      SparkInternals.restoreCheckpointDir(sc, dir0)
      conf0.fold(spark.conf.unset("spark.graft.barrier"))(spark.conf.set("spark.graft.barrier", _))
    }
  }

  test("Barrier evaluates its input once, on the local and on the reliable branch") {
    for (reliable <- Seq(false, true)) onBranch(reliable) { dir =>
      val evaluated = spark.sparkContext.longAccumulator("barrier-input")
      val b = Barrier(spark.range(1000).as[Long].map { x => evaluated.add(1); x })
      assert(b.count() == 1000)
      assert(b.collect().sorted.toSeq == (0L until 1000L))
      assert(evaluated.sum == 1000, s"reliable=$reliable: input rows evaluated ${evaluated.sum} times")
      dir.foreach { d =>
        val files = Files.walk(java.nio.file.Paths.get(d)).filter(Files.isRegularFile(_)).count()
        assert(files > 0, "the reliable branch wrote no checkpoint files")
      }
    }
  }

  /** Spark jobs that building `b` starts on this thread. */
  private def jobsToBuild(b: => Unit): Long = {
    val (sc, key) = (spark.sparkContext, "graft.spec.barrier-build")
    val started = new AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(key) != null) started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "1")
    try { b; SparkInternals.drainListenerBus(sc) } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    started.get
  }

  test("building a barrier starts no job over an exchange-free input; over an exchange it does") {
    val docs = spark.createDataset(Seq(
      Doc("d1", Seq(Span("text", "aspirin treats headache", null, 0))),
      Doc("d2", Seq(Span("text", "ibuprofen and aspirin", null, 0)))))
    // runFused's mention sets: no exchange below the barrier
    val ms = KgPipeline.analytics(spark).mentionSets(docs)
    assert(jobsToBuild(Barrier(ms)) == 0)
    // under AQE, building a local checkpoint runs every query stage of its input
    val grouped = spark.range(0, 200, 1, 4).groupBy(($"id" % 7).as("k")).count()
    assert(jobsToBuild(Barrier(grouped)) > 0)
  }

  /** A barrier over a filtered range, the ids of its input plan's
    * row-count metrics, and a weak reference to that plan. Built in a
    * method of its own, so that once it returns no stack slot of the
    * caller holds the input plan. */
  private def barrierOfFilter() = {
    val src = spark.range(0, 1000, 1, 2).filter($"id" % 3 =!= 0)
    val b = Barrier(src)
    val plan = src.queryExecution.executedPlan
    val ids = plan.collect { case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").id }
    (b, ids.toSet, new java.lang.ref.WeakReference(plan))
  }

  test("a barriered plan keeps its SQL metrics after another job checkpoints it and a GC runs") {
    // a job still running over the barrier reports its source plan's
    // metrics after a second job has checkpointed the barrier (dropping its
    // lineage) and a GC has run: the accumulators must still be there
    val errors = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-barrier-metrics", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage + Option(e.getThrown).fold("")(" " + _.getMessage)
        if (msg.contains("accumulator")) errors.add(msg)
      }
    }
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    appender.start()
    root.addAppender(appender)
    val (b, rowMetrics, _) = barrierOfFilter()
    val reported = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        t.taskInfo.accumulables.foreach { a =>
          if (rowMetrics(a.id)) a.update.foreach(u => reported.addAndGet(u.asInstanceOf[Long]))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val slow = new Thread(() => {
      b.mapPartitions { it =>
        val n = it.size.toLong // computes and stores this barrier partition
        BarrierSpec.computed.countDown()
        BarrierSpec.release.await(60, TimeUnit.SECONDS)
        Iterator(n)
      }.collect()
    })
    try {
      slow.start()
      assert(BarrierSpec.computed.await(60, TimeUnit.SECONDS))
      // reads the stored blocks, then checkpoints the barrier
      assert(b.count() == 666)
      System.gc(); System.gc()
      BarrierSpec.release.countDown()
      slow.join(60000)
      SparkInternals.drainListenerBus(spark.sparkContext)
    } finally {
      BarrierSpec.release.countDown()
      root.removeAppender(appender)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(errors.isEmpty, errors.toArray.take(3).mkString("\n"))
    assert(rowMetrics.nonEmpty)
    assert(reported.get > 0, "no numOutputRows of the barriered plan was reported")
  }

  test("a barrier's input plan is freed with the barrier") {
    def counted() = { val (b, _, plan) = barrierOfFilter(); assert(b.count() == 666); plan }
    val plan = counted()
    // a GC clears the barrier's key; the next barrier built drops its
    // entry, and a second GC frees the input
    val freed = (1 to 20).exists { _ =>
      System.gc(); Thread.sleep(50)
      Barrier(spark.range(1))
      System.gc()
      plan.get == null
    }
    assert(freed, "the input plan of an unreachable barrier is still reachable")
  }

  test("runs, add calls, toDf and toNetworkx leave the CacheManager as they found it") {
    def cached = SparkInternals.cachedEntries(spark)
    val before = cached
    val docs = Corpus.synthesize(spark, 200, AnalyticsDomain.vocab)
    val pipe = KgPipeline.analytics(spark)
    val counts = (1 to 3).flatMap(_ => Seq(pipe.run(docs)._3.count(), pipe.runFused(docs)._3.count()))
    assert(counts.head > 0 && counts.distinct == Seq(counts.head))
    assert(cached == before, "run / runFused")

    val s = new KgSession(spark, SparkTestBase.ctx, Files.createTempDirectory("graft-sess-").toString)
    def protein(id: String) = RawNode(id, "protein", Props.of("name" -> PV.str(id), "taxon" -> PV.int(9606)))
    s.addNodes(spark.createDataset(Seq(protein("p1"), protein("p2"))))
    s.addNodes(spark.createDataset(Seq(protein("p2"), protein("p3"))))
    s.addEdges(spark.createDataset(Seq(
      RawEdge("r1", "p1", "p2", "phosphorylation", Props.empty),
      RawEdge("t1", "a", "b", "post_translational", Props.of("directed" -> PV.bool(true))))))
    assert(cached == before, "addNodes / addEdges")

    val first = s.toDf()
    def rows(frames: Iterable[(String, org.apache.spark.sql.DataFrame)]) =
      frames.map { case (label, df) => label -> bag(df) }.toMap
    val want = rows(first)
    assert(want("protein").values.sum == 3 && want("phosphorylation").values.sum == 1)
    val second = s.toDf()
    val (n1, e1) = s.toNetworkx()
    val (n2, e2) = s.toNetworkx()
    assert(bag(n1) == bag(n2) && bag(e1) == bag(e2) && bag(n1).nonEmpty)
    assert(rows(first) == want, "frames of the first toDf() changed after the second")
    assert(rows(second) == want)
    assert(cached == before, "toDf / toNetworkx")
  }
}

object BarrierSpec {
  // task-side gates of the metrics spec: tasks run in this JVM, so the
  // closures reach these through the object, not through a serialized copy
  val computed = new CountDownLatch(2)
  val release = new CountDownLatch(1)
}
