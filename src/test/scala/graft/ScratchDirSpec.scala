package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.AnalyticsDomain

/** Rows that stage files under the scratch dir remove them before they
  * return, so repeated runs do not grow the temp dir. */
class ScratchDirSpec extends AnyFunSuite {

  test("kg_import_call, kg_rdf_reified and kg_stream_nodes leave no scratch dir behind") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // a small documents table in the corpus layout the rows read: (doc_id, text)
    val corpus = java.nio.file.Files.createTempDirectory("graft-corpus-").toFile
    val vocab = AnalyticsDomain.vocab
    def text(i: Int) = (0 until 8).map(j => vocab((i * 7 + j * 3) % vocab.size)).mkString(" ")
    (1 to 40).map(i => (i.toLong, text(i)))
      .toDF("doc_id", "text").write.parquet(s"$corpus/documents.parquet")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val prefixes = Seq("graft-import-", "graft-rdf-", "graft-stream-ckpt-")
    def scratch(): Set[String] =
      Option(tmp.list()).fold(Set.empty[String])(_.filter(n => prefixes.exists(n.startsWith)).toSet)
    try {
      val before = scratch()
      for (q <- Seq("kg_import_call", "kg_rdf_reified", "kg_stream_nodes"))
        assert(SparkEntry.queries(q)(spark, corpus.toString).collect().nonEmpty,
          s"$q returned no rows")
      assert(scratch() -- before == Set.empty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(corpus)
  }

  test("ann_ivf_hist and kg_stream_nodes register their JVM-lived scratch dirs for deletion at exit") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val corpus = java.nio.file.Files.createTempDirectory("graft-corpus-").toFile
    val vocab = AnalyticsDomain.vocab
    (1 to 40).map(i => (i.toLong, (0 until 8).map(j => vocab((i * 5 + j) % vocab.size)).mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$corpus/documents.parquet")
    (1 to 64).map(i => (i.toLong, Seq.tabulate(8)(j => ((i * 31 + j * 17) % 23 - 11) / 11f), i % 4))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$corpus/embeddings.parquet")
    try {
      for (q <- Seq("ann_ivf_hist", "kg_stream_nodes"))
        assert(SparkEntry.queries(q)(spark, corpus.toString).collect().nonEmpty,
          s"$q returned no rows")
      // the memoized dirs of this corpus, as the rows above staged them
      for (dir <- Seq(SparkEntry.ivfIndex(spark, corpus.toString),
          SparkEntry.streamInputArtifact(spark, corpus.toString))) {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.exists(p))
        assert(fs.cancelDeleteOnExit(p), s"$dir is not registered for deletion at exit")
        fs.deleteOnExit(p)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(corpus)
  }
}
