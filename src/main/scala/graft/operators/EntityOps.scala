package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Entity resolution over string-valued columns ([EXT] — the
  * record-linkage step every warehouse needs once two sources feed one
  * dimension; the reference's single-source load has no analog, so the
  * surface follows the classic blocked-ER literature: Fellegi-Sunter
  * blocking + edit-distance compare + transitive canonicalization).
  *
  * Scale design — VALUE-level, not row-level: a fact table's string
  * column carries few distinct values relative to rows (names, brands,
  * cities — vocabulary grows sublinearly with data). So the pipeline
  * first collapses to `distinct value + row count` (one shuffle keyed by
  * the value — the only corpus-scale stage), and every quadratic step
  * runs on the distinct-value frame: blocking bounds the candidate set,
  * the DP edit distance runs per candidate pair, and the resulting match
  * table is a broadcast-scale artifact any consumer joins back to rows.
  * At 100 TB the rows never meet the O(block²) work.
  *
  * Determinism: blocks and candidate order are data-derived (no rand);
  * `levenshtein` is the classic DP both Spark and DuckDB implement
  * identically; the canonical label is the lexicographic component min.
  */
object EntityOps {

  /** Blocked fuzzy self-match of a string column: candidate pairs share a
    * block key (default: the value's last whitespace token — the head
    * noun for "adjective noun" product names), pass a cheap length-delta
    * bound, and match when edit distance ≤ `maxDist`. Emits the value
    * pair (canonical a < b order), the distance, and each value's row
    * support (the audit column: how many fact rows a merge would touch).
    */
  def fuzzyNameMatch(df: DataFrame, valueCol: String, maxDist: Int = 3): DataFrame = {
    val names = df
      .groupBy(col(valueCol).as("name"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("block", element_at(split(col("name"), " "), -1))
    val a = names.select(col("block"), col("name").as("name_a"), col("n_rows").as("n_rows_a"))
    val b = names.select(col("block"), col("name").as("name_b"), col("n_rows").as("n_rows_b"))
    a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b"))
      // levenshtein(x, y) >= |len(x) - len(y)|: skip the DP when the
      // bound already exceeds the threshold
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_rows_a"), col("n_rows_b"))
  }

  /** Edit-distance ≤ 1 self-match via DELETION NEIGHBORHOODS (FastSS,
    * Bocek et al. 2007 — published, restated Spark-first): each distinct
    * value emits itself plus its |v| one-character deletions as join
    * keys; ed(a,b) ≤ 1 implies the key sets intersect (equal → the value
    * itself; insert/delete → the longer's deletion equals the shorter;
    * substitute → both delete the differing position), so one equi-join
    * on the key finds every candidate and a final `levenshtein ≤ 1`
    * check removes the share-a-deletion-but-ed-2 false positives
    * ("ab"/"ba" both delete to "b"). The A/B against `fuzzyNameMatch` at
    * threshold 1: NO block key — candidate volume is bounded by key
    * collisions (Σ|v| keys total) instead of O(block²), so the plan has
    * no hot-block straggler to audit, at the price of the ×|v| key
    * fan-out. Same value-level discipline: everything past the first
    * aggregate runs on the distinct-value frame.
    */
  def fuzzyNameMatchDel1(df: DataFrame, valueCol: String): DataFrame = {
    val names = df
      .groupBy(col(valueCol).as("name"))
      .agg(count(lit(1)).as("n_rows"))
      .filter(length(col("name")) >= 1)
    val keys = names.select(col("name"), col("n_rows"),
      explode(expr(
        """array_union(
          |  transform(sequence(1, length(name)),
          |    i -> concat(substr(name, 1, i - 1), substr(name, i + 1))),
          |  array(name))""".stripMargin)).as("k"))
    val a = keys.select(col("k"), col("name").as("name_a"), col("n_rows").as("n_rows_a"))
    val b = keys.select(col("k"), col("name").as("name_b"), col("n_rows").as("n_rows_b"))
    a.join(b, Seq("k"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"), col("n_rows_a"), col("n_rows_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 1)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_rows_a"), col("n_rows_b"))
  }

  /** Blocked Jaro–Winkler self-match — [[fuzzyNameMatch]]'s front-weighted
    * sibling: same last-token blocking and value-level discipline, but
    * scored by the native codegen'd
    * [[graft.functions.GraftFunctions.jaroWinkler]] expression instead of
    * the edit-distance DP. JW is length-normalized (a 2-edit slip in a
    * 40-char name still scores ≈ 0.95) and prefix-boosted, so it
    * surfaces the long-name near-misses a fixed `maxDist` cutoff drops
    * and ranks them by closeness. Emits half-up-ppm scores ≥ `minPpm`;
    * the ppm quantization of the bit-exact double is the only rounding
    * anywhere, shared with the oracle's `jaro_winkler_similarity`.
    */
  def jwNamePairs(df: DataFrame, valueCol: String, minPpm: Long = 880000L): DataFrame = {
    val names = df
      .groupBy(col(valueCol).as("name"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("block", element_at(split(col("name"), " "), -1))
    val a = names.select(col("block"), col("name").as("name_a"), col("n_rows").as("n_rows_a"))
    val b = names.select(col("block"), col("name").as("name_b"), col("n_rows").as("n_rows_b"))
    a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw_ppm",
        round(graft.functions.GraftFunctions.jaroWinkler(
          col("name_a"), col("name_b")) * lit(1000000L)).cast(LongType))
      .select(col("name_a"), col("name_b"), col("jw_ppm"),
        col("n_rows_a"), col("n_rows_b"))
      .filter(col("jw_ppm") >= minPpm)
  }

  /** Sorted-neighborhood ER (Hernández–Stolfo): candidate pairs are
    * values within `w` positions of each other in GLOBAL lexicographic
    * order — the third candidate-generation strategy next to last-token
    * blocking ([[fuzzyNameMatch]]: hot-block risk, misses cross-block
    * pairs) and deletion neighborhoods ([[fuzzyNameMatchDel1]]: exact
    * ed ≤ 1 only). Sorted order catches shared-PREFIX near-misses that
    * land in different blocks, at a hard candidate budget of n·w pairs —
    * no hot block can exist by construction. The global rank is the
    * [[ShardedOrder]] shard+carry scan (never one reducer); the
    * neighborhood join is a w-fold key fan-out equi-join on rank, so
    * the whole plan is two shuffles regardless of value skew. Final
    * verify: `levenshtein ≤ maxDist`, same as the blocked tier.
    */
  def erSortedNeighborhood(df: DataFrame, valueCol: String, w: Int = 3,
                           maxDist: Int = 3): DataFrame = {
    require(w >= 1, s"window out of range: $w")
    val sp = df.sparkSession
    import sp.implicits._
    val names = df.groupBy(col(valueCol).as("name"))
      .agg(count(lit(1)).as("n_rows"))
    val ranked = ShardedOrder.withGlobalRank(names, "rk", 32, col("name"))
    val probes = (1 to w).map(_.toLong).toDF("j")
    val a = ranked.crossJoin(broadcast(probes))
      .select((col("rk") + col("j")).as("rk"),
        col("name").as("name_a"), col("n_rows").as("n_rows_a"))
    val b = ranked.select(col("rk"),
      col("name").as("name_b"), col("n_rows").as("n_rows_b"))
    a.join(b, Seq("rk"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_rows_a"), col("n_rows_b"))
  }

  /** Blocking-quality audit (Christen's reduction ratio) — the
    * pre-flight read BEFORE running the quadratic compare: how many
    * candidate pairs does the block key actually admit vs the all-pairs
    * total, and how big is the hottest block (the straggler bound —
    * O(max_block²) is the worst single task the DP stage can see)?
    * Reduction ratio < ~99% on a large vocabulary means the block key is
    * too coarse and the ER job will blow up; this row is how you find
    * out for the price of two aggregates instead of a failed job. Pure
    * integer output; same last-token block key as `fuzzyNameMatch`, so
    * the audit prices exactly the join that would run.
    */
  def erBlockingAudit(df: DataFrame, valueCol: String): DataFrame = {
    val names = df.groupBy(col(valueCol).as("name")).agg(count(lit(1)).as("nr"))
      .withColumn("block", element_at(split(col("name"), " "), -1))
    names.groupBy(col("block")).agg(count(lit(1)).as("b"))
      .agg(sum(col("b")).as("n_values"),
        count(lit(1)).as("n_blocks"),
        max(col("b")).as("max_block"),
        sum(expr("b * (b - 1) div 2")).as("candidate_pairs"))
      .select(col("n_values"), col("n_blocks"), col("max_block"), col("candidate_pairs"),
        expr("n_values * (n_values - 1) div 2").as("total_pairs"),
        expr("""case when n_values > 1 then
          |  (cast(n_values * (n_values - 1) div 2 - candidate_pairs as decimal(38,0)) * 1000000
          |   + (n_values * (n_values - 1) div 2) div 2)
          |  div (n_values * (n_values - 1) div 2) end""".stripMargin)
          .as("reduction_ppm"))
  }

  /** Transitive canonicalization: connected components over the fuzzy
    * match graph, then every ROW of the input mapped to its canonical
    * value (the component's lexicographic-min name). Output is the merge
    * audit: per canonical value, how many raw variants collapsed into it
    * and how many rows it now covers.
    *
    * The component step runs on the distinct-value graph, which is
    * broadcast scale by the vocabulary argument in the object scaladoc —
    * so it uses `DedupOps.dupComponentsLocal` (hard-capped driver-side
    * union-find): the match graph is KBs of edges, and a graph past the
    * cap fails loudly here rather than turning distributed. The r14
    * bench regression was a distributed collapse on this path — 5.2 s
    * standalone of which ~4.9 s was per-round scheduling on a
    * sub-10⁴-edge graph. The row-level assignment is one broadcast
    * join, as before; semantics are unchanged (same min-id components,
    * oracle shared).
    */
  def fuzzyCanonicalize(df: DataFrame, valueCol: String, maxDist: Int = 3): DataFrame = {
    val pairs = fuzzyNameMatch(df, valueCol, maxDist)
      .select(col("name_a").as("doc_a"), col("name_b").as("doc_b"))
    val comps = DedupOps.dupComponentsLocal(pairs)
      .select(col("doc_id").as("name"), col("component").as("canonical"))
    df.select(col(valueCol).as("name"))
      .join(broadcast(comps), Seq("name"), "left")
      .select(col("name"), coalesce(col("canonical"), col("name")).as("canonical_name"))
      .groupBy(col("canonical_name"))
      .agg(countDistinct(col("name")).as("n_variants"), count(lit(1)).as("n_rows"))
  }

  /** Fellegi–Sunter EM match-weight estimation (Fellegi & Sunter 1969;
    * Winkler's EM formulation) — the UNSUPERVISED step the rest of the
    * ER tier assumes away: given candidate pairs and three boolean
    * field-agreement indicators (g1, g2, g3), estimate per-field
    * m-probabilities (P(agree | match)), u-probabilities
    * (P(agree | non-match)) and the match prevalence λ, with the
    * binary-independence mixture model. The resulting log(m/u) weights
    * are what a production linker thresholds on; this op outputs the
    * fitted ppm parameters after `rounds` EM iterations.
    *
    * Scale & determinism shape: the only fact-scale stage is the
    * (g1, g2, g3) pattern COUNT — at most 8 rows regardless of corpus
    * size, so EM itself runs on a bounded grid. The state is a 1-row
    * integer-ppm frame re-quantized EVERY round (the iterative
    * fixed-point discipline of `doc_pagerank`/`pca_top_component`
    * applied to EM): each responsibility w(γ) and each updated
    * parameter is ONE fixed-shape double over integer ppm state and
    * exact integer counts, clamped to [1, 999999] so no product can
    * degenerate to 0/1 and no later division can hit zero.
    */
  def fsEmWeights(pairs: DataFrame, rounds: Int = 3,
                  initLambdaPpm: Long = 100000L,
                  initMPpm: Long = 900000L, initUPpm: Long = 100000L): DataFrame =
    fsEmState(fsPatterns(pairs), rounds, initLambdaPpm, initMPpm, initUPpm)
      .select(col("n_pairs"), col("lam").as("lambda_ppm"),
        col("m1").as("m1_ppm"), col("m2").as("m2_ppm"), col("m3").as("m3_ppm"),
        col("u1").as("u1_ppm"), col("u2").as("u2_ppm"), col("u3").as("u3_ppm"))

  private def fsPatterns(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("g1"), col("g2"), col("g3")).agg(count(lit(1)).as("cnt"))

  private def fsEmState(patterns: DataFrame, rounds: Int,
                        initLambdaPpm: Long, initMPpm: Long, initUPpm: Long): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds out of range: $rounds")
    val sp = patterns.sparkSession
    var state = sp.range(1).select(
      lit(initLambdaPpm).as("lam"),
      lit(initMPpm).as("m1"), lit(initMPpm).as("m2"), lit(initMPpm).as("m3"),
      lit(initUPpm).as("u1"), lit(initUPpm).as("u2"), lit(initUPpm).as("u3"))
    val pm =
      """(cast(case when g1 then m1 else 1000000 - m1 end as double) / 1000000.0d)
        | * (cast(case when g2 then m2 else 1000000 - m2 end as double) / 1000000.0d)
        | * (cast(case when g3 then m3 else 1000000 - m3 end as double) / 1000000.0d)""".stripMargin
    val pu =
      """(cast(case when g1 then u1 else 1000000 - u1 end as double) / 1000000.0d)
        | * (cast(case when g2 then u2 else 1000000 - u2 end as double) / 1000000.0d)
        | * (cast(case when g3 then u3 else 1000000 - u3 end as double) / 1000000.0d)""".stripMargin
    def clampPpm(e: String): Column =
      greatest(lit(1L), least(lit(999999L), expr(e)))
    for (_ <- 1 to rounds) {
      val wpat = patterns.crossJoin(broadcast(state))
        .withColumn("w", clampPpm(
          s"""cast(round(
             |  ($pm) * (cast(lam as double) / 1000000.0d)
             |  / (($pm) * (cast(lam as double) / 1000000.0d)
             |     + ($pu) * (1.0d - cast(lam as double) / 1000000.0d)) * 1000000) as bigint)""".stripMargin))
      state = wpat.agg(
          sum(col("cnt")).as("n"),
          sum(col("cnt") * col("w")).as("swc"),
          sum(col("cnt") * (lit(1000000L) - col("w"))).as("suc"),
          sum(when(col("g1"), col("cnt") * col("w")).otherwise(0L)).as("m1n"),
          sum(when(col("g2"), col("cnt") * col("w")).otherwise(0L)).as("m2n"),
          sum(when(col("g3"), col("cnt") * col("w")).otherwise(0L)).as("m3n"),
          sum(when(col("g1"), col("cnt") * (lit(1000000L) - col("w"))).otherwise(0L)).as("u1n"),
          sum(when(col("g2"), col("cnt") * (lit(1000000L) - col("w"))).otherwise(0L)).as("u2n"),
          sum(when(col("g3"), col("cnt") * (lit(1000000L) - col("w"))).otherwise(0L)).as("u3n"))
        .select(col("n").as("n_pairs"),
          clampPpm("cast(round(cast(swc as double) / cast(n as double)) as bigint)").as("lam"),
          clampPpm("cast(round(cast(m1n as double) / cast(swc as double) * 1000000) as bigint)").as("m1"),
          clampPpm("cast(round(cast(m2n as double) / cast(swc as double) * 1000000) as bigint)").as("m2"),
          clampPpm("cast(round(cast(m3n as double) / cast(swc as double) * 1000000) as bigint)").as("m3"),
          clampPpm("cast(round(cast(u1n as double) / cast(suc as double) * 1000000) as bigint)").as("u1"),
          clampPpm("cast(round(cast(u2n as double) / cast(suc as double) * 1000000) as bigint)").as("u2"),
          clampPpm("cast(round(cast(u3n as double) / cast(suc as double) * 1000000) as bigint)").as("u3"))
    }
    state
  }

  /** The decision face of [[fsEmWeights]]: score every agreement pattern
    * with the FITTED mixture's posterior match probability
    * w(γ) = λP_m(γ) / (λP_m(γ) + (1−λ)P_u(γ)) and bucket pairs into the
    * Fellegi–Sunter three-way decision (match ≥ `hiPpm`, possible in
    * between — the clerical-review queue — non-match < `loPpm`).
    * Pattern posteriors reuse the exact formula and ppm quantization of
    * the EM's final responsibility step, so the classification is the
    * model's own fixed point, not a re-derivation. Output is the
    * 3-row decision table with pair counts and the posterior range per
    * bucket; everything after the pattern count is grid-scale.
    */
  def fsMatchClassify(pairs: DataFrame, rounds: Int = 3,
                      hiPpm: Long = 900000L, loPpm: Long = 100000L): DataFrame = {
    val patterns = fsPatterns(pairs)
    val state = fsEmState(patterns, rounds, 100000L, 900000L, 100000L)
    val pm =
      """(cast(case when g1 then m1 else 1000000 - m1 end as double) / 1000000.0d)
        | * (cast(case when g2 then m2 else 1000000 - m2 end as double) / 1000000.0d)
        | * (cast(case when g3 then m3 else 1000000 - m3 end as double) / 1000000.0d)""".stripMargin
    val pu =
      """(cast(case when g1 then u1 else 1000000 - u1 end as double) / 1000000.0d)
        | * (cast(case when g2 then u2 else 1000000 - u2 end as double) / 1000000.0d)
        | * (cast(case when g3 then u3 else 1000000 - u3 end as double) / 1000000.0d)""".stripMargin
    patterns.crossJoin(broadcast(state))
      .withColumn("w", greatest(lit(1L), least(lit(999999L), expr(
        s"""cast(round(
           |  ($pm) * (cast(lam as double) / 1000000.0d)
           |  / (($pm) * (cast(lam as double) / 1000000.0d)
           |     + ($pu) * (1.0d - cast(lam as double) / 1000000.0d)) * 1000000) as bigint)""".stripMargin))))
      .withColumn("decision",
        when(col("w") >= hiPpm, "match")
          .when(col("w") < loPpm, "nonmatch").otherwise("possible"))
      .groupBy(col("decision"))
      .agg(sum(col("cnt")).as("n_pairs"),
        min(col("w")).as("min_w_ppm"), max(col("w")).as("max_w_ppm"))
  }
}
