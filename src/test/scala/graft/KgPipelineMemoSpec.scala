package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{AnalyticsDomain, Corpus}

/** `KgPipeline.analytics` memoizes one pipeline per live SparkContext, and
  * `SparkEntry`'s per-corpus artifacts one frame per (context, corpus dir).
  * This suite stops the shared test session, so it keeps to one test and
  * hands later suites a new session through [[SparkTestBase.spark]]. */
class KgPipelineMemoSpec extends AnyFunSuite {

  test("analytics evicts pipelines whose SparkContext has stopped") {
    val sf = "/root/testdata/sf0.001"
    val lshCandidates = SparkEntry.queries("dedup_lsh_candidates")
    val first = SparkTestBase.spark
    val p1 = KgPipeline.analytics(first)
    assert(KgPipeline.analytics(first) eq p1, "a live context keeps its pipeline")
    val before = lshCandidates(first, sf).count()
    first.stop()
    val second = SparkTestBase.spark
    assert(second.sparkContext ne first.sparkContext)
    val p2 = KgPipeline.analytics(second)
    assert(p2 ne p1)
    assert(!KgPipeline.memoizedContexts.contains(first.sparkContext),
      "the stopped context's pipeline must be evicted")
    assert(KgPipeline.memoizedContexts.forall(!_.isStopped))
    // the fresh pipeline's broadcasts live on the new context
    val (_, _, triples) = p2.runFused(Corpus.synthesize(second, 50, AnalyticsDomain.vocab))
    assert(triples.count() > 0)
    // the artifact memo must not serve a frame bound to the stopped context
    assert(lshCandidates(second, sf).count() == before)
  }
}
