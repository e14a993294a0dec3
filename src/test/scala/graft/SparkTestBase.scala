package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. A spec that stops
  * it (the pipeline-memo eviction spec) gets a new one on the next call;
  * suites read it once, when they start. */
object SparkTestBase {
  private var session: SparkSession = _

  def spark: SparkSession = synchronized {
    if (session == null || session.sparkContext.isStopped) {
      session = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      session.sparkContext.setLogLevel("WARN")
    }
    session
  }

  /** `xs` as a multiset (element -> count): a parity check on multisets
    * fails on a row emitted twice, which a `.toSet` compare passes. */
  def multiset[T](xs: Seq[T]): Map[T, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)

  /** The rows of `ds` as a [[multiset]]. */
  def bag[T](ds: org.apache.spark.sql.Dataset[T]): Map[T, Int] = multiset(ds.collect().toSeq)

  /** The standard test KgContext (schema + mini-biolink head ontology). */
  lazy val ctx: KgContext = KgContext.build(
    TestFixtures.resource("test_schema.yaml"),
    TestFixtures.resource("biolink_mini.ttl"),
    "entity",
  )
}
