package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType,
  ShortType}

/** Static plan rules over one query's `QueryExecution`, read from the plan
  * alone (no job runs); `PlanRulesSpec` gates them over the registry.
  * Window rules, over the PHYSICAL plan:
  *
  *  1. `global-window` — WindowExec with an EMPTY partition spec: the
  *     whole frame serializes through one reducer (the constant-key idiom
  *     exists to avoid this).
  *  2. `bounded-key-window` (r15 verdict task 2) — WindowExec whose
  *     partition key originates ONLY from the broadcast (build) side of a
  *     broadcast join below it, while the probe side reaches the window
  *     with no candidate-pruning join of its own. A bounded-cardinality
  *     key (e.g. 10 query ids) partitioning an unpruned corpus scan means
  *     each window partition holds O(corpus) rows — per-query corpus-sized
  *     sorts that the empty-spec check is blind to. Probe-side joins
  *     (IVF probe lists, graph shortlists, LSH buckets) prune candidates
  *     before the window, so those tiers do not flag. A plan whose
  *     rank-limit filter Spark rewrote into a WindowGroupLimitExec pair
  *     (partial below the exchange, final above) is reported with a
  *     `grouplimit=partial` tag: the partial operator already bounds each
  *     map task's contribution to k rows per key, so the shape is
  *     mitigated at runtime — but the rule still reports it, because the
  *     mitigation is an optimizer rewrite conditioned on the filter
  *     staying adjacent to the window, not a property of the query.
  *
  * Overflow rules, over the OPTIMIZED logical plan (r12 verdict task 6) —
  * the static version of the sf1 execution hunt that caught
  * `abc_xyz_matrix` and `concentration_8020`: both were hash-green at
  * every tested SF and only overflowed at the next decade, because a
  * LONG-typed `sum(corpus values) * 1000000` ppm idiom has ~9.2e18 of
  * headroom that a 2.5e13-token corpus exhausts.
  *
  *  3. `long-overflow` — a `Multiply` whose RESULT type is LongType, one
  *     operand a ppm/bps-class scale literal (100 … 1e9), the other
  *     operand's attribute lineage reaching a Sum/Count aggregate — i.e.
  *     an unwidened aggregate×scale product. The DECIMAL(38,0)-widened
  *     idiom disappears from this rule by construction (the multiply
  *     re-types to decimal).
  *  4. `decimal-overflow` — a decimal op whose modelled worst-case
  *     integral digits exceed its declared capacity (see `digitBound`).
  *
  * Mode: nothing in graft sets `spark.sql.ansi.enabled`, so Spark 4's
  * default (ANSI on) applies — an overflowing LONG multiply raises
  * ARITHMETIC_OVERFLOW and a DECIMAL past its precision raises
  * NUMERIC_VALUE_OUT_OF_RANGE; neither corrupts a result silently. The
  * failure surfaces only when a job reaches the overflowing scale, which
  * no fixture does. The rules' value is finding that site from the plan
  * alone, before any job runs. (Under ANSI off a LONG would wrap and a
  * DECIMAL would NULL silently, which is worse still.)
  */
object PlanRules {
  val GlobalWindow = "global-window"
  val BoundedKeyWindow = "bounded-key-window"
  val LongOverflow = "long-overflow"
  val DecimalOverflow = "decimal-overflow"

  /** One rule hit in one query. `text` is the offending expression's SQL
    * (for the window rules, the window expressions). */
  case class Finding(rule: String, query: String, text: String)

  /** An audited claim, not an exemption: it covers a finding of `rule` in
    * a query whose name matches the regex `queries` and whose text contains
    * `pattern`. Anything else that fires — a NEW query reusing a bounded
    * idiom included — must be restructured or widened to DECIMAL(38,0), or
    * land here with its bound argued.
    */
  case class Bound(rule: String, queries: String, pattern: String, why: String) {
    def covers(f: Finding): Boolean =
      f.rule == rule && f.query.matches(queries) && f.text.contains(pattern)
  }

  /** LONG-overflow sites bounded by a CONSTANT domain (the 16-hash MinHash
    * estimator, the drift audits' hit flags): bound × 1e6 « 2^63 at any
    * corpus size.
    */
  val KnownBounded: Seq[Bound] = {
    // the ANN drift audits' recall-ppm numerators (r17): h_* is a sum of
    // 0/1 hit flags over the brute ground-truth rows, ≤ k·nQueries = 50
    // at the fixed audit knobs (SF-independent — the knobs, not the
    // corpus, bound the row count), so h·1e6 ≤ 5e7 << 2^63. These
    // expressions predate r17; the rule only sees them now because the
    // per-factor result rows became lazy (no checkpoint leaf hides them).
    val driftRecallWhy = "drift-audit recall numerator: sum of hit flags over " +
      "brute top-k rows, <= k*nQueries = 50 at the fixed audit knobs; *1e6 <= 5e7"
    Seq(Bound(LongOverflow, "dup_evidence_incremental|dup_evidence_shrunk|minhash_estimate_audit",
        "sum(CASE WHEN (ma = mb) THEN 1 ELSE 0 END) * 1000000",
        "MinHash signature agreement: sum over exactly 16 hash_idx rows per pair, bound 16e6 << 2^63")) ++
      Seq("graph_append_drift" -> Seq("h_stale", "h_fresh"),
          "graph_delete_drift" -> Seq("h_tomb", "h_hard", "h_rep"),
          "graph_topk_rescored_drift" -> Seq("h_plain", "h_resc"))
        .flatMap { case (q, hs) => hs.map(h => Bound(LongOverflow, q, s"($h * 1000000L)", driftRecallWhy)) }
  }

  /** Decimal sites whose REAL bound is provably below the model's worst
    * case — the model cannot see (a) calendar/window-bounded group sizes,
    * (b) value domains tighter than 10^RowValueDigits (ppm shares, discount
    * micros, rank sums), or (c) producer bounds lost across
    * ShardedOrder/localCheckpoint leaf boundaries (the attr re-enters the
    * plan as a bare DECIMAL(38,0)). Each entry spells out its arithmetic.
    */
  val KnownBoundedDecimal: Seq[Bound] = Seq(
    ("moments_profile|interarrival_profile" ->
      "central-moment integer polynomials n^k*mk: ENFORCED (r15) — momentsProfile raise_errors inside the moment columns when max|x| > 3e4 or n*max|x| > 1.5e9 (14*(n*max|x|)^4 <= 7.1e37 < 10^38 covers every intermediate term), so a large group fails with a named bound before any decimal overflow, in ANSI and non-ANSI mode alike; corpus-scale groups must pre-aggregate"),
    ("revenue_trend|rolling_regression_slope|rolling_corr|ljung_box|revenue_acf|safety_stock|price_index_monthly" ->
      "time-series family over the CALENDAR-DAY aggregate series: n <= 1e4 days, daily sums <= 1e13 cents -> d*d sums <= 1e30, n*sxy <= 1e34 << 1e38"),
    ("simpson_paradox_screen|discount_elasticity|cuped_adjustment|diff_in_diff|welch_t_test|anova_priority_spend|neyman_allocation|gini_spend|mahalanobis_outliers|eb_shrunk_returns" ->
      "micros-share normal equations/variance screens: x,y are bounded domains (discount micros <= 1e6, quantity cents <= 1e6, ppm <= 1e6), so sx,sy <= 1e18 over 1e12 rows; n*sxy <= 1e36 and sx*sy <= 1e36 < 1e38 (the DECIMAL(38,0) design bound in the simpson scaladoc)"),
    ("ks_source_drift.*|ks_reference_drift.*|t_closeness_audit|customer_value_deciles" ->
      "ECDF cross-products of COUNTS: cum and n are both row counts <= 1e12 (dec-38 typing is the ShardedOrder checkpoint boundary, not the value) -> products <= 1e24 << 1e38"),
    ("classifier_auc|mann_whitney_u|clf_keep_parity|er_blocking_audit|bcubed_dedup_eval" ->
      "U-statistic / pair-count ratios: rank sums and pair counts <= n^2 = 1e24; * 1e6 ppm = 1e30 << 1e38; bcubed inner (c*1e6 div n) is a share <= 1e6 (c <= n), outer sum <= 1e6*N <= 1e18"),
    ("abc_xyz_matrix" ->
      "per-part CALENDAR sums behind the shard boundary: sq <= 1e3 months * 1e9 cents = 1e12, sq*sq <= 1e24, sqq*m*4 <= 1e24 (the 20-digit-numerator claim in the scaladoc)"),
    ("graph_modularity|graph_assortativity" ->
      "degree products over edges: deg <= |E| = 1e12, sum over edges of dx*dy <= 1e12 * 1e24 = 1e36 < 1e38"),
    ("embedding_centroid_drift" ->
      "per-dimension micros sums: |component micros| <= 1e6 * 1e12 vecs = 1e18 per dim; sa*sb <= 1e36, summed over the 64-dim grid stays < 1e38 (one fixed-shape division at the end, per the scaladoc)"),
    ("token_burstiness" ->
      "dispersion moments of per-doc term counts: count <= 1e6/doc, s1 <= 1e18 over 1e12 docs, s1^2 <= 1e36 < 1e38"),
    ("mv_incremental" ->
      "algebraic money-sum state: corpus revenue <= 1e14 dollars against the dec(p+10,2) sum type's 1e20+ integral capacity"),
    ("q9_profit_nation" ->
      "TPC-H money chain in dec(18,2) arithmetic: per-row profit <= 1e7, per-(nation,year) sums <= 1e19 against the capped 1e34 integral capacity"))
    .map { case (q, why) => Bound(DecimalOverflow, q, "", why) }

  /** Queries allowed to keep a bounded-key window over an unpruned
    * stream. Every entry is either a ground-truth/policy AUDIT arm (the
    * full ranking IS the measured quantity) or a sampling operator whose
    * output is a corpus fraction (no bounded-buffer formulation exists).
    * Production serving tiers are deliberately NOT here — they must plan
    * the topKSelect aggregation or a candidate-pruning join.
    */
  val auditArmAllowlist: Seq[Bound] = Seq(
    "filtered_ann_policy" ->
      "policy audit: the post-filter pitfall being measured IS the full-corpus shortlist window",
    "diversity_sample" ->
      "per-cluster proportional quota (output = pct of corpus): selection is a rank over cluster-sized partitions by design; partition count = nCentroids, scaled with n in deployment")
    .map { case (q, why) => Bound(BoundedKeyWindow, q, "", why) }

  val Allowlist: Seq[Bound] = KnownBounded ++ KnownBoundedDecimal ++ auditArmAllowlist

  /** The audited bound covering `f`, if any. */
  def boundFor(f: Finding): Option[Bound] = Allowlist.find(_.covers(f))

  /** Every rule's findings for `query`: the window rules walk the
    * executed plan, the overflow rules the optimized plan, of one build.
    */
  def findings(query: String, qe: QueryExecution): Seq[Finding] =
    windowFindings(query, qe.executedPlan) ++ overflowFindings(query, qe.optimizedPlan)

  private def windowFindings(query: String, plan: SparkPlan): Seq[Finding] = {
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      // AQE wraps the whole query as a leaf; walk its input plan
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case other => other.children
    }
    def subtree(p: SparkPlan): Seq[SparkPlan] =
      p +: children(p).flatMap(subtree)
    // does the window's child reach (without crossing a compacting
    // aggregate) a broadcast NESTED LOOP join whose BUILD side
    // supplies every partition attribute while its PROBE side runs
    // join-free into the window? Each piece is load-bearing:
    //  - NESTED LOOP: an equi-keyed BroadcastHashJoin prunes/limits
    //    probe rows by key match (a shortlist join-back, an LSH
    //    bucket join, a label equi-probe), but an NLJ against a
    //    bounded broadcast side passes EVERY corpus row into the
    //    per-key window — the hammingShortlist-class shape;
    //  - compacting aggregate: an aggregate whose grouping keys are a
    //    subset of the window's partition attrs bounds the stream to
    //    the key cardinality before the window (the topKSelect
    //    shape), so anything below it no longer feeds the window
    //    corpus-sized runs. An aggregate grouped by OTHER keys (e.g.
    //    per-vec_id assignment argmin) does not compact the per-key
    //    stream and the walk continues through it.
    def boundedKeyOverUnpruned(w: WindowExec): Boolean = {
      val partAttrs = AttributeSet(
        w.partitionSpec.flatMap(_.references.toSeq))
      if (partAttrs.isEmpty) return false
      def compacting(p: SparkPlan): Boolean = p match {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.groupingExpressions.nonEmpty &&
            AttributeSet(a.groupingExpressions.map(_.toAttribute))
              .subsetOf(partAttrs)
        case _ => false
      }
      def search(p: SparkPlan): Boolean =
        if (compacting(p)) false
        else p match {
          case j: BroadcastNestedLoopJoinExec =>
            val (build, probe) = j.buildSide match {
              case BuildLeft => (j.left, j.right)
              case BuildRight => (j.right, j.left)
            }
            (partAttrs.subsetOf(build.outputSet) &&
              !subtree(probe).exists {
                case _: BaseJoinExec | _: CartesianProductExec => true
                case _ => false
              }) || children(j).exists(search)
          case other => children(other).exists(search)
        }
      search(w.child)
    }
    def hasPartialGroupLimit(w: WindowExec): Boolean =
      subtree(w.child).exists {
        case _: WindowGroupLimitExec => true
        case _ => false
      }
    def exprs(w: WindowExec): String = w.windowExpression.mkString(";").take(120)
    def walk(p: SparkPlan): Seq[Finding] = (p match {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq(Finding(GlobalWindow, query, exprs(w)))
      case w: WindowExec if boundedKeyOverUnpruned(w) =>
        val tag = if (hasPartialGroupLimit(w)) "grouplimit=partial :: " else ""
        Seq(Finding(BoundedKeyWindow, query, tag + exprs(w)))
      case _ => Nil
    }) ++ children(p).flatMap(walk) ++ p.subqueries.flatMap(walk)
    walk(plan)
  }

  private val ScaleLits: Set[Long] = Set(100L, 10000L, 100000L, 1000000L, 1000000000L)

  /** DECIMAL model (r13 verdict task 5): any decimal op whose IDEAL
    * precision exceeds 38 gets CAPPED at 38, so the type no longer covers
    * the operands' worst case, and a value past it raises
    * NUMERIC_VALUE_OUT_OF_RANGE under the default ANSI mode (it would
    * NULL silently with ANSI off). The LONG rule can't see this class;
    * now that the registry is DECIMAL(38,0)-widened everywhere, this is
    * the remaining overflow surface, and the model finds it before a job
    * at that scale fails.
    *
    * A worst-case INTEGRAL-DIGIT bound is propagated through the
    * optimized plan (alias lineage fixpoint, like the LONG rule's
    * aggAttrs). Model leaf bounds, documented as the rule's scale
    * assumptions: a raw LONG/INT scan column holds ≤ 10^13 (micros /
    * cents / ppm-scaled row values), one aggregation multiplies row
    * count ≤ 10^15 into a Sum (so a single corpus Sum of row values is
    * ≤ 10^28) and a Count is ≤ 10^15. A decimal expression whose digit
    * bound exceeds its declared (precision − scale) capacity can
    * silently NULL under the model → finding. Ops BELOW the 38 cap can
    * never fire (Spark's ideal result type covers the operands'
    * type-level worst case, and the model bound is never wider); the
    * rule therefore fires exactly on capped arithmetic whose headroom
    * the model exhausts — stacked scale multiplies, aggregate ×
    * aggregate products, Sum-of-products chains.
    */
  val RowValueDigits = 9 // raw scan-column numeric ≤ 10^9 (prices, counts,
  // quantities, ppm shares); DERIVED cents/micros/ppm columns pick up their
  // scale factor's digits through literal propagation (x * 1e6 → +7), so
  // the model still prices the scaled idioms correctly
  val RowCountDigits = 15 // rows or groups per aggregate ≤ 10^15 (100 TB class)

  private def digitsOf(v: Any): Int = v match {
    case null => 1
    case d: org.apache.spark.sql.types.Decimal =>
      d.toBigDecimal.abs.toBigInt.toString.length
    case b: java.math.BigDecimal => b.abs.toBigInteger.toString.length
    case n: Number => math.abs(n.longValue).toString.length
    case _ => 38
  }

  /** Worst-case integral-digit bound under the model; `known` carries
    * alias-lineage bounds for attributes. Capped at 99 (only the ≤ 38
    * comparisons matter).
    */
  private def digitBound(e: Expression, known: Map[ExprId, Int]): Int = {
    def b(x: Expression): Int = math.min(99, digitBound(x, known))
    e match {
      case Literal(v, _) => digitsOf(v)
      case ar: AttributeReference => known.getOrElse(ar.exprId, ar.dataType match {
        case d: DecimalType => d.precision - d.scale
        case LongType       => RowValueDigits // model: raw scan long
        case IntegerType    => math.min(RowValueDigits, 10)
        case ShortType      => 5
        case ByteType       => 3
        case _              => RowValueDigits
      })
      case c: Cast => c.dataType match {
        case d: DecimalType => math.min(b(c.child), d.precision - d.scale)
        case LongType       => math.min(b(c.child), 19)
        case IntegerType    => math.min(b(c.child), 10)
        case _              => b(c.child)
      }
      case ae: AggregateExpression => ae.aggregateFunction match {
        case s: Sum     => math.min(99, b(s.child) + RowCountDigits)
        case _: Count   => RowCountDigits
        case m: Min     => b(m.child)
        case m: Max     => b(m.child)
        case a: Average => b(a.child)
        case f          => f.dataType match {
          case d: DecimalType => d.precision - d.scale
          case _              => 19
        }
      }
      case w: WindowExpression => b(w.windowFunction)
      case Add(l, r, _)      => math.max(b(l), b(r)) + 1
      case Subtract(l, r, _) => math.max(b(l), b(r)) + 1
      case Multiply(l, r, _) => b(l) + b(r)
      case Divide(l, r, _)   => b(l) + (r.dataType match {
        case d: DecimalType => d.scale // denominator can be as small as 10^-s
        case _              => 0
      }) + 1
      case IntegralDivide(l, _, _) => b(l)
      case Remainder(_, r, _) => b(r)
      case Pmod(_, r, _)      => b(r)
      case u: UnaryMinus      => b(u.child)
      case a: Abs             => b(a.child)
      case r: Round           => b(r.child)
      case r: BRound          => b(r.child)
      case c: Coalesce        => c.children.map(b).max
      case i: If              => math.max(b(i.trueValue), b(i.falseValue))
      case cw: CaseWhen =>
        (cw.branches.map(_._2) ++ cw.elseValue.toSeq).map(b).max
      case g: Greatest => g.children.map(b).max
      case l: Least    => l.children.map(b).max
      case al: Alias   => b(al.child)
      // unknown producer: fall back to the declared type's capacity
      case other =>
        (try other.dataType catch { case _: Throwable => null }) match {
          case d: DecimalType => d.precision - d.scale
          case LongType       => 19
          case IntegerType    => 10
          case _              => RowValueDigits
        }
    }
  }

  private def overflowFindings(query: String, plan: LogicalPlan): Seq[Finding] = {
    val out = scala.collection.mutable.ListBuffer.empty[Finding]
    def longAgg(e: Expression): Boolean = e match {
      case ae: AggregateExpression => ae.aggregateFunction match {
        case _: Sum   => ae.dataType == LongType
        case _: Count => true
        case _        => false
      }
      case _ => false
    }
    // attributes produced (anywhere in the plan) by a long-typed
    // Sum/Count aggregate — the corpus-scale candidates
    val aggAttrs = scala.collection.mutable.Set.empty[ExprId]
    plan.foreach {
      case a: Aggregate =>
        a.aggregateExpressions.foreach {
          case al: Alias if al.child.exists(longAgg) => aggAttrs += al.exprId
          case _ =>
        }
      case _ =>
    }
    // propagate through pass-through aliases (projections renaming an
    // aggregate output keep its overflow class)
    var grew = true
    while (grew) {
      grew = false
      plan.foreach { node =>
        node.expressions.foreach(_.foreach {
          case al: Alias if !aggAttrs.contains(al.exprId) =>
            val feeds = al.child.references.exists(r => aggAttrs.contains(r.exprId))
            val direct = al.child match {
              case ar: AttributeReference => aggAttrs.contains(ar.exprId)
              case c: Cast => c.child.references.exists(r => aggAttrs.contains(r.exprId)) &&
                c.dataType == LongType
              case _ => feeds && al.child.dataType == LongType &&
                !al.child.exists(_.isInstanceOf[AggregateExpression])
            }
            if (direct) { aggAttrs += al.exprId; grew = true }
          case _ =>
        })
      }
    }
    def isScaleLit(e: Expression): Boolean = e match {
      case Literal(v: Long, LongType) => ScaleLits.contains(v)
      case Literal(v: Int, _)         => ScaleLits.contains(v.toLong)
      case Cast(l: Literal, _, _, _)  => isScaleLit(l)
      case _ => false
    }
    def reachesAgg(e: Expression): Boolean = e.exists {
      case ar: AttributeReference => aggAttrs.contains(ar.exprId)
      case other => longAgg(other)
    }
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case m @ Multiply(l, r, _) if m.dataType == LongType &&
            ((isScaleLit(l) && reachesAgg(r)) || (isScaleLit(r) && reachesAgg(l))) =>
          out += Finding(LongOverflow, query, m.sql.take(160))
        case _ =>
      })
    }
    // ---- DECIMAL: digit-bound model vs capacity ----
    // alias-lineage fixpoint: bound every named column by its
    // producing expression, so downstream nodes see 28 for a corpus
    // sum instead of the type-level 38
    var known = Map.empty[ExprId, Int]
    var changed = true
    var iters = 0
    while (changed && iters < 10) {
      changed = false; iters += 1
      plan.foreach { node =>
        node.expressions.foreach(_.foreach {
          case al: Alias =>
            val nb = math.min(99, digitBound(al.child, known))
            if (known.get(al.exprId).forall(_ > nb)) {
              known += al.exprId -> nb; changed = true
            }
          case _ =>
        })
      }
    }
    val flagged = scala.collection.mutable.Set.empty[String]
    plan.foreach { node =>
      node.expressions.foreach(_.foreach { e =>
        val arithmetic = e match {
          case _: Add | _: Subtract | _: Multiply | _: Divide => true
          case ae: AggregateExpression =>
            ae.aggregateFunction.isInstanceOf[Sum]
          case _ => false
        }
        // WindowSpecDefinition and friends throw on dataType — they are
        // never arithmetic, so a null sentinel skips them
        val dt = try e.dataType catch { case _: Throwable => null }
        dt match {
          case d: DecimalType if arithmetic =>
            val cap = d.precision - d.scale
            val bound = digitBound(e, known)
            if (bound > cap) {
              val txt = e.sql.take(160)
              if (flagged.add(txt))
                out += Finding(DecimalOverflow, query, s"bound=10^$bound cap=10^$cap :: $txt")
            }
          case _ =>
        }
      })
    }
    out.toList
  }
}
