package graft

import graft.PlanRules._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** The plan rules over the whole registry, gated: every registered
  * query's plan builds at sf0.001, no finding is an offender (the
  * round-close gate expects 0), the allowlists cover no more findings
  * than at round close, and no allowlist name is dead. One synthetic
  * frame per rule shows that the rule can fire.
  *
  * The registered queries are planned, never run. Building a registered
  * frame does run its eager set-up, though (`artifactDir` parquet builds,
  * `localCheckpoint` jobs), so the registry pass costs about one Verify
  * pass at sf0.001, and a query whose set-up throws fails the plan-build
  * test instead of hiding its findings.
  */
class PlanRulesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Each registered query's findings, or what its plan build threw. */
  private lazy val registry: Seq[(String, Either[String, Seq[Finding]])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(findings(name, fn(spark, sf).queryExecution))
        catch { case NonFatal(e) => Left(e.toString) }
        finally spark.catalog.clearCache())
    }
  private lazy val found: Seq[Finding] = registry.flatMap(_._2.getOrElse(Nil))

  private def show(fs: Seq[Finding]): String =
    fs.map(f => s"[${f.rule}] ${f.query} :: ${f.text}").mkString("\n", "\n", "")

  test("registry: every query's plan builds at sf0.001") {
    val errors = registry.collect { case (name, Left(e)) => s"$name: $e" }
    assert(errors.isEmpty, errors.mkString("plan errors:\n", "\n", ""))
  }

  test("registry: every finding is covered by an audited bound") {
    val offenders = found.filter(boundFor(_).isEmpty)
    assert(offenders.isEmpty, s"${offenders.size} offenders:" + show(offenders))
  }

  test("registry: the allowlists cover no more findings than at round close") {
    val covered = found.filter(boundFor(_).isDefined)
    // the two audit-arm queries hold 6 bounded-key windows between them
    for ((rule, max) <- Seq(LongOverflow -> 44, DecimalOverflow -> 164, BoundedKeyWindow -> 6)) {
      val hits = covered.filter(_.rule == rule)
      assert(hits.size <= max, s"$rule: ${hits.size} allowlisted findings, at most $max:" + show(hits))
    }
  }

  test("registry: every allowlisted query name matches a finding") {
    val dead = for {
      b <- Allowlist
      q <- b.queries.split('|').toSeq
      if !found.exists(b.copy(queries = q).covers)
    } yield s"[${b.rule}] $q :: ${b.pattern}"
    assert(dead.isEmpty, dead.mkString("dead allowlist entries:\n", "\n", ""))
  }

  private def fired(df: DataFrame): Seq[Finding] = findings("synthetic", df.queryExecution)

  /** A window finding's text starts with the window expression, whose
    * attribute ids differ from run to run. */
  private def firedWindow(df: DataFrame, rule: String): Unit = {
    val fs = fired(df)
    assert(fs.map(f => (f.rule, f.text.takeWhile(_ != ' '))) == Seq((rule, "row_number()")), show(fs))
  }

  test("global-window fires on row_number() over an empty Window.orderBy") {
    firedWindow(spark.range(100).withColumn("rn", row_number().over(Window.orderBy("id"))), GlobalWindow)
  }

  test("bounded-key-window fires on a broadcast-side key over a cross join with an unjoined scan") {
    val keys = spark.range(3).withColumnRenamed("id", "qid")
    val corpus = spark.range(100).withColumnRenamed("id", "doc")
    firedWindow(broadcast(keys).crossJoin(corpus)
      .withColumn("rk", row_number().over(Window.partitionBy("qid").orderBy("doc"))), BoundedKeyWindow)
  }

  test("long-overflow fires on sum(longCol) * 1000000L") {
    val df = spark.range(100).agg((sum("id") * 1000000L).as("ppm"))
    assert(fired(df) == Seq(Finding(LongOverflow, "synthetic", "(sum(id) * 1000000L)")))
  }

  test("decimal-overflow fires on a product of two DECIMAL(38,0) sums") {
    val df = spark.range(100).select(col("id").cast("decimal(38,0)").as("d"))
      .agg((sum("d") * sum("d")).as("sq"))
    assert(fired(df) == Seq(Finding(DecimalOverflow, "synthetic",
      "bound=10^48 cap=10^38 :: (sum(d) * sum(d))")))
  }

  private val driftNumerator = "(h_plain * 1000000L)"

  test("drift recall numerator: allowed under graph_topk_rescored_drift, " +
       "rejected under an unlisted query") {
    def covered(query: String, text: String) = boundFor(Finding(LongOverflow, query, text)).isDefined
    assert(covered("graph_topk_rescored_drift", s"($driftNumerator + (tot div 2L))"))
    assert(!covered("some_new_query", s"($driftNumerator + (tot div 2L))"))
    // keyed to the query that produces the pattern, not to the family:
    // the append audit's numerators are h_stale/h_fresh, never h_plain
    assert(!covered("graph_append_drift", driftNumerator))
  }

  test("every allowlist entry is keyed to a query and fully anchored") {
    assert(KnownBounded.size <= 8 && KnownBoundedDecimal.size <= 11 && auditArmAllowlist.size <= 2)
    Allowlist.foreach { b =>
      assert(b.queries.nonEmpty && !"".matches(b.queries) && !"x".matches(b.queries),
        s"entry for [${b.rule}] '${b.pattern}' must name its queries, got regex '${b.queries}'")
    }
  }
}
