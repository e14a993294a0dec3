package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{AnalyticsDomain, Corpus}

/** `KgPipeline.analytics` memoizes one pipeline per live SparkContext. This
  * suite stops the shared test session, so it keeps to one test and hands
  * later suites a new session through [[SparkTestBase.spark]]. */
class KgPipelineMemoSpec extends AnyFunSuite {

  test("analytics evicts pipelines whose SparkContext has stopped") {
    val first = SparkTestBase.spark
    val p1 = KgPipeline.analytics(first)
    assert(KgPipeline.analytics(first) eq p1, "a live context keeps its pipeline")
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
  }
}
