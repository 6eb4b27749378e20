package graft

import org.scalatest.funsuite.AnyFunSuite

/** The LONG-overflow allowlist is keyed per query: a bounded idiom is
  * accepted only inside the queries whose bound was argued for it.
  */
class OverflowAuditSpec extends AnyFunSuite {

  private val driftNumerator = "(h_plain * 1000000L)"

  test("drift recall numerator: allowed under graph_topk_rescored_drift, " +
       "rejected under an unlisted query") {
    assert(OverflowAudit.knownBoundedWhy("graph_topk_rescored_drift",
      s"($driftNumerator + (tot div 2L))").isDefined)
    assert(OverflowAudit.knownBoundedWhy("some_new_query",
      s"($driftNumerator + (tot div 2L))").isEmpty)
    // keyed to the query that produces the pattern, not to the family:
    // the append audit's numerators are h_stale/h_fresh, never h_plain
    assert(OverflowAudit.knownBoundedWhy("graph_append_drift", driftNumerator).isEmpty)
  }

  test("every allowlist entry is keyed to a query and fully anchored") {
    assert(OverflowAudit.KnownBounded.size <= 8)
    OverflowAudit.KnownBounded.foreach { case (q, pat, _) =>
      assert(q.nonEmpty && !"".matches(q) && !"x".matches(q),
        s"entry for '$pat' must name its queries, got regex '$q'")
    }
  }
}
