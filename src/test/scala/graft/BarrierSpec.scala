package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkInternals
import graft.corpus.{AnalyticsDomain, Corpus}
import graft.model._
import graft.SparkTestBase.bag

/** [[Barrier]] owns every frame main materializes and hands out: it
  * evaluates its input once on both branches, and the frames main returns
  * leave no CacheManager entry behind. */
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
