package graft

import org.apache.spark.sql.SparkSession

/** Plan audit: print formatted physical plans for the hot queries so scan
  * pruning (`ReadSchema`/`PushedFilters`), join strategies (broadcast vs
  * shuffle) and WholeStageCodegen spans can be inspected and kept tight.
  * Usage: sbt "Test/runMain graft.Explain [queryName ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q2_join", "kg_mentions", "kg_triples", "kg_rdf_reified",
        "dedup_minhash_lsh", "dedup_lsh_candidates", "dedup_jaccard",
        "dedup_embedding", "dedup_embedding_mp", "ann_cosine_topk",
        "ann_ivf_index_topk", "kg_node_frame")
    names.foreach { name =>
      println(s"\n===================== $name =====================")
      if (name == "fused_ms") {
        // the fused bench path over a staged parquet corpus: ReadSchema
        // must show only spans.{kind,text} (nested pruning)
        import spark.implicits._
        val dir = BenchPipeline.ensureInput(spark, 2000)
        val docs = spark.read.parquet(dir).as[graft.model.Doc]
        KgPipeline.analytics(spark).mentionSets(docs).explain("formatted")
      } else if (name == "fused_triples") {
        // the fused triple table over the barriered mention sets, as
        // runFused builds it: every key consumer must read ONE checkpointed
        // RDD; mention/doc branches are thin selects over the mention-set
        // barrier (a Scan ExistingRDD leaf) + broadcast joins. The key-block
        // exchange runs in that RDD's lineage, outside the Catalyst plan,
        // so its lineage prints after the plan.
        import spark.implicits._
        val dir = BenchPipeline.ensureInput(spark, 2000)
        val docs = spark.read.parquet(dir).as[graft.model.Doc]
        val pipe = KgPipeline.analytics(spark)
        val ms = Barrier(pipe.mentionSets(docs))
        ms.count()
        pipe.triplesFromSets(ms).explain("formatted")
        println("== key-block exchange (RDD lineage) ==")
        println(graft.extract.CoocCombine.distinctPairAndRankKeys(
          ms.select(org.apache.spark.sql.functions.col("pm")).as[Array[Long]], pipe.bcDict,
          graft.extract.Mentions.DefaultMaxEntitiesPerDoc).rdd.toDebugString)
      } else SparkEntry.queries.get(name) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None     => println(s"unknown query $name")
      }
    }
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
