package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._
import graft.functions.{AffineMinHash, QuantizedCosine, QuantizedCosinePair, RankCurie}

/** Codegen'd Catalyst expressions: interpreted eval vs whole-stage-codegen
  * parity, and equivalence with the HOF formulations they replaced. */
class FunctionsSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Mod = graft.ops.TextOps.Mod

  test("AffineMinHash equals the array_min(transform(...)) formulation") {
    val hv = Seq(
      Seq(5L, 999999999L, 123456L),
      Seq(0L),
      Seq(1000000006L, 7L, 7L, 42L),
    ).toDF("hv")
    val k = 16
    val viaExpr = hv.select(column(AffineMinHash(expression(col("hv")), k, Mod)).as("sigs"))
      .collect().map(_.getSeq[Long](0))
    val hofCols = (0 until k).map { j =>
      val a = 2L * j + 1; val b = 12345L * j + 7
      array_min(transform(col("hv"), h => pmod(h * a + b, lit(Mod)))).as(s"s$j")
    }
    val viaHof = hv.select(hofCols: _*).collect()
      .map(r => (0 until k).map(r.getLong))
    viaExpr.zip(viaHof).foreach { case (e, h) => assert(e == h) }
  }

  test("QuantizedCosine equals the zip_with/aggregate formulation") {
    val emb = Seq(
      Seq(0.5f, -0.25f, 0.125f, 1.0f),
      Seq(-1.5f, 0.0005f, -0.0004f, 0.9999f),
      Seq(0.0125f, -0.0125f, 2.5e-4f, -2.5e-4f), // .5-boundary quantization
    ).toDF("embedding")
    val qv = Seq(0.3, -0.7, 0.2, 0.15)
    val qq = qv.map(x => math.round(x * 1000))
    val qNorm = math.sqrt(qq.map(x => x.toDouble * x).sum)
    val viaExpr = emb.select(round(column(
      QuantizedCosine(expression(col("embedding")), qq.toArray, qNorm)), 6).as("c"))
      .as[Double].collect()
    // the HOF formulation this expression replaced
    val e = transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long"))
    val qLit = array(qq.map(lit): _*)
    def dotQ(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val cos = dotQ(e, qLit).cast("double") /
      (sqrt(dotQ(e, e).cast("double")) * lit(qNorm))
    val viaHof = emb.select(round(cos, 6).as("c")).as[Double].collect()
    assert(viaExpr.toSeq == viaHof.toSeq)
  }

  test("QuantizedCosinePair: exact values, symmetry, self-cosine = 1") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), 1.0),       // identical
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), 0.0),       // orthogonal
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f), -1.0),     // opposite
      (Seq(0.6f, 0.8f), Seq(0.6f, 0.8f), 1.0),
    ).toDF("a", "b", "expected")
    val got = df.select(round(column(QuantizedCosinePair(
      expression(col("a")), expression(col("b")))), 6).as("c"), col("expected"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  /** Runs `body` with whole-stage codegen off and expressions interpreted. */
  private def interpreted[T](body: => T): T = {
    val prev = spark.conf.getOption("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.wholeStage", v)
        case None    => spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }

  test("RankCurie: codegen and interpreted decode == byRank(r).curie, null-safe, loud out of range") {
    import graft.extract.{DictEntry, MentionDict}
    val dict = MentionDict.build((0 until 300).map(i =>
      DictEntry(f"s$i%03d", f"c:${(i * 7919) % 300}%03d", "c", 1.0)))
    val bc = spark.sparkContext.broadcast(dict)
    val n = dict.byRank.length
    // spark.range keeps the rows out of a LocalRelation, so the optimizer
    // cannot fold the projection on the driver; every 7th rank is null
    val ranks = spark.range(0, n, 1, 3).select(
      when(col("id") % 7 === 3, lit(null)).otherwise(col("id").cast("int")).as("r"))
    def decode(rs: org.apache.spark.sql.DataFrame) =
      rs.select(col("r"), column(RankCurie(expression(col("r")), bc)).as("c"))
    val want = (0 until n).map(r => if (r % 7 == 3) (null, null) else (r, dict.byRank(r).curie)).toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.getString(1))).toSet
    val generated = decode(ranks)
    assert(generated.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    assert(rows(generated) == want)
    assert(interpreted(rows(decode(ranks))) == want)
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || (t.getCause eq t)) t else rootCause(t.getCause)
    for (bad <- Seq(n, -1)) {
      val badRanks = spark.range(0, 4, 1, 1).select(
        when(col("id") === 2, lit(bad)).otherwise(col("id").cast("int")).as("r"))
      def raised = rootCause(intercept[Exception](decode(badRanks).collect()))
      for (e <- Seq(raised, interpreted(raised))) {
        assert(e.isInstanceOf[IllegalArgumentException], s"rank $bad: $e")
        assert(e.getMessage.contains(s"rank $bad") && e.getMessage.contains(s"$n entries"), e.getMessage)
      }
    }
  }

  test("expressions survive interpreted eval (codegen disabled)") {
    interpreted {
      val r = Seq(Seq(0.5f, -0.5f)).toDF("e")
        .select(
          column(QuantizedCosine(expression(col("e")), Array(500L, -500L),
            math.sqrt(500.0 * 500 + 500 * 500))).as("c"),
          column(AffineMinHash(expression(expr("array(5L, 7L)")), 4, Mod)).as("sigs"),
        ).head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
      assert(r.getSeq[Long](1).length == 4)
    }
  }
}
