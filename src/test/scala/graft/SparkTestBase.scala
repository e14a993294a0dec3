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

  /** The standard test KgContext (schema + mini-biolink head ontology). */
  lazy val ctx: KgContext = KgContext.build(
    TestFixtures.resource("test_schema.yaml"),
    TestFixtures.resource("biolink_mini.ttl"),
    "entity",
  )
}
