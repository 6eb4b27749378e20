package graft

import org.scalatest.funsuite.AnyFunSuite

/** The mains reject bad arguments before they start a session: a typo in
  * a query subset names the unknown queries instead of running nothing. */
class MainArgsSpec extends AnyFunSuite {
  private val registered = Set("q1_pricing_summary", "cosine_topk_graph", "tf_idf")

  test("querySubset: names every unknown query and rejects an empty list") {
    assert(Verify.querySubset("tf_idf, cosine_topk_graph", registered) ==
      Right(Set("tf_idf", "cosine_topk_graph")))
    assert(Verify.querySubset("tf_idf,tfidf,cosine_topk_grpah", registered) ==
      Left("unknown queries: cosine_topk_grpah, tfidf"))
    assert(Verify.querySubset(" , ", registered).isLeft)
    assert(Verify.querySubset("", registered).isLeft)
  }

  test("Verify.parseArgs: two or three arguments, every named query registered") {
    assert(Verify.parseArgs(Seq(), registered) == Left(Verify.usage))
    assert(Verify.parseArgs(Seq("/data/sf0.01"), registered) == Left(Verify.usage))
    assert(Verify.parseArgs(Seq("a", "b", "tf_idf", "d"), registered) == Left(Verify.usage))
    assert(Verify.parseArgs(Seq("a", "b"), registered) == Right(("a", "b", None)))
    assert(Verify.parseArgs(Seq("a", "b", "tf_idf"), registered) ==
      Right(("a", "b", Some(Set("tf_idf")))))
    assert(Verify.parseArgs(Seq("a", "b", "tf_idff"), registered) ==
      Left("unknown queries: tf_idff"))
  }

  test("Bench.parseArgs: no argument runs the suite, a subset must be registered") {
    assert(Bench.parseArgs(Seq(), registered) == Right(None))
    assert(Bench.parseArgs(Seq("tf_idf,q1_pricing_summary"), registered) ==
      Right(Some(Set("tf_idf", "q1_pricing_summary"))))
    assert(Bench.parseArgs(Seq("q1_pricing_sumary"), registered) ==
      Left("unknown queries: q1_pricing_sumary"))
    assert(Bench.parseArgs(Seq("tf_idf", "extra"), registered).isLeft)
  }

  test("BenchSf1: every heavy-tier query is registered") {
    assert(BenchSf1.HeavyTier.filterNot(SparkEntry.queries.contains).isEmpty)
  }

  test("ScaleDataGen.parseArgs: copies must be a positive integer") {
    assert(ScaleDataGen.parseArgs(Seq()) == Right(("/root/testdata/sf0.1", "/tmp/graft_sf1", 10)))
    assert(ScaleDataGen.parseArgs(Seq("a", "b", "100")) == Right(("a", "b", 100)))
    assert(ScaleDataGen.parseArgs(Seq("a", "b", "ten")) ==
      Left("copies must be a positive integer, got 'ten'"))
    assert(ScaleDataGen.parseArgs(Seq("a", "b", "0")).isLeft)
    assert(ScaleDataGen.parseArgs(Seq("a", "b", "-3")).isLeft)
    assert(ScaleDataGen.parseArgs(Seq("a", "b", "10", "d")).isLeft)
  }
}
