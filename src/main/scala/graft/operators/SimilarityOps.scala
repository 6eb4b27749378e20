package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor / similarity search over the `embeddings`
  * table ([EXT], SURVEY.md §2.11).
  *
  * Two tiers, as the north star mandates:
  *  - `cosineTopK` — brute-force baseline: broadcast the (small) query set
  *    against the full corpus. Linear in corpus size, embarrassingly
  *    parallel, zero shuffle until the final per-query top-k. This is the
  *    correct plan whenever |queries| is small — even at 100 TB corpus the
  *    scan is the floor cost and nothing beats a single pass.
  *  - `lshBucketedTopK` — the scale path when the query set is NOT small:
  *    random-hyperplane LSH buckets both sides, so candidate scoring is an
  *    equi-join on the bucket key (shuffle by bucket, not all-pairs). An
  *    IVF variant would swap the bucket fn for nearest-centroid; the
  *    plumbing is identical.
  *
  * Scoring uses the native `CosineSimilarity` Catalyst expression (fused
  * dot+norms, whole-stage codegen) — the HOF formulation (`aggregate` over
  * `zip_with`) is interpreted per element and three passes. Semantics are
  * identical: left-to-right double accumulation, so scores stay bit-stable
  * and oracle-checkable after rounding.
  */
object SimilarityOps {

  /** Bounded per-group top-k selection shared by every brute/quantized
    * scoring tier (r16): [[graft.functions.TopKAggregator]] over
    * (score, vec_id) keyed by `keys`, exploded back to one row per kept
    * candidate with its rank. Replaces the
    * `row_number().over(partitionBy(q_id).orderBy(score desc, vec_id))`
    * window wherever the partition key is a bounded query set over an
    * unpruned corpus. What the window formulation actually planned
    * (the committed r16 before-plan files under plans/r16): Spark 4's rank-limit
    * pushdown DID bound the shuffle (WindowGroupLimit Partial below the
    * exchange, Final above), but only after a map-side Sort of EVERY
    * scored pair — a full O((n·q/P)·log) per-task sort of rows that are
    * then thrown away — and the rewrite is an optimizer courtesy that
    * evaporates the moment the rank filter is no longer adjacent to the
    * window. The aggregator plans partial+final ObjectHashAggregate:
    * no sort of the scored stream at all, ≤ k pairs per group per map
    * task, merged map-side — the bounded shape is a property of the
    * query, not of a rewrite. The ordering contract is the window's
    * exactly: (−score, vec_id) ascending = score desc, vec_id asc;
    * rank = position in the merged buffer + 1 = the old row_number.
    * Callers guarantee score is never NaN (all corpora/prefixes are
    * nonzero-norm; quantizeInt8 drops scale-0 rows) — the two
    * formulations order NaN differently, nothing else.
    */
  private def topKSelect(scored: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    scored.groupBy(keys.map(col): _*)
      .agg(topk(col("score"), col("vec_id")).as("top"))
      .select(keys.map(col) :+ posexplode(col("top")): _*)
      .select(keys.map(col) ++ Seq(col("col._2").as("vec_id"),
        col("col._1").as("score"),
        (col("pos") + 1).cast(IntegerType).as("rank")): _*)
  }

  /** The query set of every tier: vectors with vec_id < nQueries, as
    * (q_id, q_emb).
    */
  private def queriesOf(vectors: DataFrame, nQueries: Int): DataFrame =
    vectors.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** The second stage of every two-stage tier: EXACT round-4 cosine for
    * the (q_id, vec_id) `shortlist` rows only, against `vectors`
    * (vec_id, embedding) and the broadcast `queries` (q_id, q_emb), then
    * the top k per query by (score desc, vec_id) — [[cosineTopK]]'s
    * schema and contract, so a rescored tier is directly comparable with
    * brute. The window is bounded by construction: its input is
    * shortlist × queries rows, never the corpus.
    */
  private def exactRescore(shortlist: DataFrame, vectors: DataFrame,
                           queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))
    shortlist.select(col("q_id"), col("vec_id"))
      .join(vectors.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4))
      .select(col("q_id"), col("vec_id"), col("score"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
  }

  /** Per-query recall@k of an approximate top-k against the brute top-k:
    * |brute ∩ approx| / k for each query, rounded to 2 dp, as
    * (q_id, recall). Both frames carry (q_id, vec_id); the left join from
    * `brute` keeps a query the approximate tier returned nothing for, at
    * 0.0. Callers add their own label column.
    */
  def perQueryRecall(brute: DataFrame, approx: DataFrame, k: Int): DataFrame =
    brute.select(col("q_id"), col("vec_id"))
      .join(approx.select(col("q_id"), col("vec_id")).withColumn("hit", lit(1)),
        Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(round(sum(coalesce(col("hit"), lit(0))).cast(DoubleType) / lit(k.toDouble), 2)
        .as("recall"))

  /** Brute-force top-k cosine neighbors for each query vector (vec_id <
    * nQueries), excluding self. Query side is broadcast; per-query top-k
    * via the bounded [[topKSelect]] aggregation (vec_id tiebreak for
    * determinism, identical to the historical row_number formulation).
    */
  def cosineTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val corpus = embeddings.select(col("vec_id"), col("embedding"))
    val queries = queriesOf(embeddings, nQueries)
    val scored = corpus
      .join(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4))
    topKSelect(scored, Seq("q_id"), k)
  }

  /** Hard-negative mining: for each query, the top-k most-similar vectors
    * INSIDE a similarity band [lo, hi) — close enough to be informative
    * contrastive negatives, far enough to exclude near-dups/positives
    * (cosine ≥ hi is dup territory on this corpus; ≤ lo is trivially
    * negative and teaches a contrastive model nothing). This is the
    * in-batch-negatives upgrade every embedding-training pipeline
    * eventually ships: mine the negatives offline against the whole
    * corpus, not whatever happened to co-occur in a batch.
    *
    * Same scoring shape as `cosineTopK` (queries broadcast, per-query
    * window top-k), with the band predicate applied BEFORE the window so
    * ranking sorts only band survivors. The 100 TB tier composes exactly
    * like ANN: run the band filter over an IVF/LSH shortlist instead of
    * the brute corpus — the scorer and band logic are unchanged.
    */
  def hardNegatives(embeddings: DataFrame, nQueries: Int, k: Int,
                    lo: Double = 0.05, hi: Double = 0.7): DataFrame = {
    val corpus = embeddings.select(col("vec_id"), col("embedding"))
    val queries = queriesOf(embeddings, nQueries)
    val banded = corpus
      .join(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4))
      .filter(col("score") >= lo && col("score") < hi)
    topKSelect(banded, Seq("q_id"), k)
  }

  /** Two-stage retrieval: ADC shortlist, EXACT rescore — the pattern
    * every PQ deployment ships, because ADC distances are quantized
    * approximations (fine for pruning, wrong for final order). Stage 1
    * scores the whole corpus from codes + a broadcast LUT (bytes per
    * vector, the memory win); stage 2 recomputes exact cosine for only
    * `shortlist` candidates per query and re-ranks the top k — full
    * precision touched for shortlist × queries rows, never the corpus.
    * Output schema matches `cosineTopK`, so the exactness of the final
    * ordering is directly comparable against the brute tier.
    */
  def pqTopKRescored(embeddings: DataFrame, nQueries: Int, k: Int,
                     shortlist: Int = 20): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k = $k")
    exactRescore(pqTopK(embeddings, nQueries, shortlist), embeddings,
      queriesOf(embeddings, nQueries), k)
  }

  /** Graded ranking-quality gate for the ANN tiers: per-query nDCG@5 of
    * the seeded-IVF shortlist against the brute top-5 as the ideal —
    * recall@k (the existing `ann_recall` gate) treats a hit at rank 1
    * and rank 5 the same; nDCG is the position-weighted read a serving
    * deployment actually tunes on. Integer end-to-end: the 1/log₂(i+1)
    * position weights are PINNED micros constants (1e6, 630930, 500000,
    * 430677, 386853 — no runtime transcendentals), relevance is binary
    * membership in the brute ideal, DCG is an integer dot product, and
    * nDCG divides by the constant IDCG once, half-up. Costs one brute
    * pass + one IVF pass — the same frames the recall gate already
    * prices.
    */
  def annNdcg(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    require(k == 5, s"position-weight table is pinned for k = 5, got $k")
    val ideal = cosineTopK(embeddings, nQueries, k)
      .select(col("q_id"), col("vec_id"), lit(1L).as("rel"))
    val weight = expr("""case rank when 1 then 1000000L when 2 then 630930L
      | when 3 then 500000L when 4 then 430677L when 5 then 386853L end""".stripMargin)
    val idcg = 2948460L
    ivfTopK(embeddings, 16, nQueries, k)
      .join(ideal, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), (coalesce(col("rel"), lit(0L)) * weight).as("g"))
      .groupBy(col("q_id")).agg(sum(col("g")).as("dcg"))
      .select(col("q_id"), col("dcg"),
        expr(s"(cast(dcg as decimal(38,0)) * 1000000 + ${idcg / 2}) div $idcg").as("ndcg_ppm"))
  }

  /** Per-query reciprocal rank of the TRUE nearest neighbor inside the
    * IVF shortlist — the first-hit-position retrieval metric next to
    * [[annRecall]]'s set overlap and [[annNdcg]]'s graded gain: MRR
    * punishes an ANN tier that finds the right answer but buries it at
    * rank k. Relevance = the brute-force rank-1 neighbor (self excluded);
    * rr_ppm = (10⁶ + r div 2) div r at the first matching rank, 0 when
    * the true NN misses the shortlist entirely (the recall failure,
    * priced at its MRR cost). LEFT join keeps every query row. Same
    * scale shape as the other ANN audits: two bounded retrieval frames
    * (nQueries·k rows) joined on (q_id, vec_id).
    */
  /** Embedding-distribution drift between two corpus halves — the
    * vector-space analog of the KS/PSI monitors: split by vec_id parity
    * (any deterministic predicate serves), form each half's centroid,
    * and report the cosine between them. A healthy re-embed or an i.i.d.
    * split reads ≈ 10⁶ micro (identical directions); a model swap or a
    * pipeline regression pulls it down. Determinism at scale: per-
    * component values quantize to integer micros FIRST, so the per-dim
    * sums are exact integers under any partitioning/order (float
    * accumulation order is the classic nondeterminism here); the dot
    * and norms ride DECIMAL(38,0) over the dim-scale grid, and ONE
    * double division produces cos_micro. Scale shape: one corpus
    * explode → (half, dim) partial-agg grid (2·dim rows) → dim-keyed
    * join; nothing else touches the corpus.
    */
  def embeddingCentroidDrift(embeddings: DataFrame): DataFrame = {
    val D = DecimalType(38, 0)
    val sums = embeddings
      .select((pmod(col("vec_id"), lit(2)) === 0).as("in_a"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("in_a"), col("dim"))
      .agg(sum(expr("cast(round(cast(x as double) * 1000000) as bigint)")).as("s"),
        count(lit(1)).as("n"))
    val a = sums.filter(col("in_a")).select(col("dim"), col("s").as("sa"), col("n").as("na"))
    val b = sums.filter(!col("in_a")).select(col("dim"), col("s").as("sb"), col("n").as("nb"))
    a.join(b, Seq("dim"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum((col("sa").cast(D) * col("sb")).cast(D)).as("dot"),
        sum((col("sa").cast(D) * col("sa")).cast(D)).as("qa"),
        sum((col("sb").cast(D) * col("sb")).cast(D)).as("qb"))
      .select(col("n_a"), col("n_b"),
        when(col("qa") === 0 || col("qb") === 0, lit(null).cast(LongType))
          .otherwise(expr("""cast(round(cast(dot as double)
            | / (sqrt(cast(qa as double)) * sqrt(cast(qb as double)))
            | * 1000000) as bigint)""".stripMargin))
          .as("cos_micro"))
  }

  def annMrr(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val truth = cosineTopK(embeddings, nQueries, 1)
      .select(col("q_id"), col("vec_id"))
    ivfTopK(embeddings, 16, nQueries, k)
      .join(truth.withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(min(when(col("hit") === 1, col("rank"))).as("first_rank"))
      .select(col("q_id"), col("first_rank"),
        coalesce(
          expr("cast((1000000 + first_rank div 2) div first_rank as bigint)"),
          lit(0L)).as("rr_ppm"))
  }

  /** Maximal-marginal-relevance reranking (Carbonell & Goldstein) of the
    * cosine shortlist: greedily pick k results balancing relevance to the
    * query against redundancy with what is ALREADY picked —
    * argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s). This is the
    * diversity-vs-relevance dial every retrieval/RAG stack ships (top-k
    * alone returns five copies of the same passage precisely when the
    * corpus has near-dups — the failure mode this engine's dedup tier
    * measures). Determinism: rel and pairwise sims quantize to micros
    * once; with λ = lambdaTenths/10 the greedy objective is the pure
    * INTEGER λ·10·rel − (10−λ·10)·maxsim (deci-micros — no division
    * anywhere), and every argmax tiebreaks on vec_id. Scale shape: the
    * shortlist bounds everything — pairwise sims are shortlist² per
    * query and each of the k rounds is a join over ≤ nQueries·shortlist
    * rows; the corpus-scale stage is the one `cosineTopK` scan, for
    * which any ANN tier substitutes unchanged.
    */
  def mmrRerank(embeddings: DataFrame, nQueries: Int = 4, shortlist: Int = 10,
                k: Int = 5, lambdaTenths: Int = 7): DataFrame = {
    require(k >= 1 && k <= shortlist, s"k out of range: $k vs shortlist $shortlist")
    require(lambdaTenths >= 0 && lambdaTenths <= 10, s"lambdaTenths: $lambdaTenths")
    val lam = lambdaTenths
    val com = 10 - lambdaTenths
    // The shortlist and its pairwise-sim frame are referenced by EVERY
    // greedy round; localCheckpoint both (nQueries·shortlist and
    // nQueries·shortlist² rows — driver-tiny) so rounds join materialized
    // frames instead of re-running the corpus scoring scan per reference
    // (Catalyst does not dedupe common subplans; uncheckpointed, the
    // 5-round loop re-executed the corpus scan ~15× — measured 11.2 s at
    // sf0.1, 0.7 s checkpointed).
    val top = cosineTopK(embeddings, nQueries, shortlist)
      .select(col("q_id"), col("vec_id"),
        expr("cast(round(score * 1000000) as bigint)").as("rel_m"))
      .localCheckpoint()
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    val withEmb = top.join(emb, Seq("vec_id"))
    val pm = withEmb.select(col("q_id"), col("vec_id").as("a"), col("embedding").as("ea"))
      .join(withEmb.select(col("q_id"), col("vec_id").as("b"), col("embedding").as("eb")),
        Seq("q_id"))
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        round(round(graft.functions.GraftFunctions.cosineSim(col("ea"), col("eb")), 4)
          * 1000000).cast(org.apache.spark.sql.types.LongType).as("sim_m"))
      .localCheckpoint()
    val w = Window.partitionBy("q_id").orderBy(col("mmr_dm").desc, col("vec_id"))
    var sel: DataFrame = null
    var picks: DataFrame = null
    for (r <- 1 to k) {
      val scored =
        if (r == 1)
          top.select(col("q_id"), col("vec_id"), (lit(lam) * col("rel_m")).as("mmr_dm"))
        else
          top.join(sel, Seq("q_id", "vec_id"), "left_anti")
            .join(pm.join(sel.select(col("q_id"), col("vec_id").as("b")), Seq("q_id", "b"))
              .groupBy(col("q_id"), col("a").as("vec_id")).agg(max(col("sim_m")).as("ms")),
              Seq("q_id", "vec_id"))
            .select(col("q_id"), col("vec_id"),
              (lit(lam) * col("rel_m") - lit(com) * col("ms")).as("mmr_dm"))
      // each pick feeds every later round's anti-join AND max-sim join —
      // materialize the (≤ nQueries)-row frame
      val pick = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), lit(r).as("pick"), col("mmr_dm"))
        .localCheckpoint()
      sel = if (r == 1) pick.select("q_id", "vec_id")
            else sel.unionByName(pick.select("q_id", "vec_id"))
      picks = if (r == 1) pick else picks.unionByName(pick)
    }
    picks.select(col("q_id"), col("vec_id"),
      col("pick").cast(org.apache.spark.sql.types.IntegerType).as("pick"), col("mmr_dm"))
  }

  /** Embedding-space near-duplicate pairs, brute-force baseline: all pairs
    * (i < j) with cosine ≥ threshold. O(n²/2) scoring — correct and
    * oracle-checkable, the right choice only when n is modest (e.g. one
    * shard). The 100 TB path is `embeddingDupPairsLsh` below: equi-join on
    * the hyperplane bucket instead of a cross join, trading recall for
    * linearity; this brute variant stays registered as its recall
    * reference.
    */
  def embeddingDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val a = embeddings.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = embeddings.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("emb_a"), col("emb_b")), 4))
      .filter(col("score") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("score"))
  }

  /** IVF (inverted-file) assignment: each vector → its nearest of
    * `nCentroids` centroid vectors. Centroids here are the first
    * nCentroids corpus vectors (deterministic stand-in for k-means
    * training — swap in learned centroids without touching the plumbing;
    * a couple of Lloyd iterations are expressible as repeated
    * assign+groupBy-avg passes over this same shape). Assignment is a
    * broadcast crossJoin + row_number: one pass over the corpus.
    */
  /** First-n deterministic centroid seed (the k-means init stand-in; any
    * (centroid_id, c_emb) frame can replace it — see ivfTrainCentroids).
    */
  def seedCentroids(embeddings: DataFrame, nCentroids: Int): DataFrame =
    embeddings.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))

  /** Nearest-centroid assignment against an arbitrary (centroid_id, c_emb)
    * frame. Centroid scores rounded to 6 before ranking: assignment stays
    * deterministic across engines (the DuckDB oracle replays this ranking
    * with list_cosine_similarity; an ulp difference must not flip a list
    * assignment), ties broken by centroid_id.
    */
  def ivfAssignWith(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    nearestCentroids(embeddings, "vec_id", "embedding", centroids, 1)

  /** The one nearest-list selection of the IVF tiers: each row's `n`
    * nearest centroids by round-6 cosine of `vec` against c_emb,
    * centroid_id tiebreak, as (key, vec, centroid_id). n = 1 is the list
    * assignment of a corpus vector; n = nProbe is a query's probe set.
    */
  private def nearestCentroids(rows: DataFrame, key: String, vec: String,
                               centroids: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("c_score").desc, col("centroid_id"))
    rows
      .join(broadcast(centroids))
      .withColumn("c_score",
        round(graft.functions.GraftFunctions.cosineSim(col(vec), col("c_emb")), 6))
      .withColumn("c_rank", row_number().over(w))
      .filter(col("c_rank") <= n)
      .select(col(key), col(vec), col("centroid_id"))
  }

  def ivfAssign(embeddings: DataFrame, nCentroids: Int): DataFrame =
    ivfAssignWith(embeddings, seedCentroids(embeddings, nCentroids))

  /** Assignment IDS ONLY — same winner as `ivfAssignWith` (round-6 score
    * desc, centroid_id tiebreak, expressed as an argmin struct) but as a
    * partial-aggregated hash aggregate over NARROW (vec_id, centroid_id,
    * score) rows instead of a row_number window. The window formulation
    * shuffles every corpus row TWICE carrying both embedding arrays
    * (~800 B/row — at 200 k vectors × 16 centroids that is GBs through
    * sort); this one map-side-combines 3.2 M 20-byte rows down to one row
    * per vector before the exchange. Use it wherever downstream needs the
    * list id, not the vector (candidate pruning, stats); `ivfAssignWith`
    * remains the right call when the embedding must ride along (list
    * storage, in-list scoring).
    */
  def ivfAssignIds(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    embeddings
      .join(broadcast(centroids))
      .select(col("vec_id"),
        struct(
          (lit(0.0) - round(graft.functions.GraftFunctions
            .cosineSim(col("embedding"), col("c_emb")), 6)).as("neg_score"),
          col("centroid_id")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("best.centroid_id").as("centroid_id"))

  /** Embedding outlier screen: flag vectors whose cosine distance to
    * their assigned centroid is ≥ 2× the centroid's mean member
    * distance — the corpus-cleaning pass that catches mis-embedded /
    * off-distribution rows BEFORE they seed ANN lists or dedup
    * clusters. One broadcast assignment pass (the `ivfAssignIds` argmin
    * shape, keeping the winning score), one per-centroid mean, one
    * co-partitioned join back. All comparisons are integer micros:
    * dist = round((1 − round6(cos)) · 1e6), the mean is an integer
    * `div`, and the ratio is half-up ppm — bit-identical cross-engine;
    * `greatest(mean, 1)` guards the all-identical-cluster edge where a
    * zero mean would make the ratio engine-dependent (NULL vs error).
    */
  def embeddingOutliers(embeddings: DataFrame, nCentroids: Int = 8): DataFrame = {
    val assigned = embeddings
      .join(broadcast(seedCentroids(embeddings, nCentroids)))
      .select(col("vec_id"),
        struct(
          (lit(0.0) - round(graft.functions.GraftFunctions
            .cosineSim(col("embedding"), col("c_emb")), 6)).as("neg_score"),
          col("centroid_id")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("best.centroid_id").as("centroid_id"),
        expr("cast(round((1.0d + best.neg_score) * 1000000) as bigint)")
          .as("dist_micros"))
    val means = assigned.groupBy(col("centroid_id"))
      .agg(expr("greatest(sum(dist_micros) div count(1), 1L)").as("mean_micros"))
    assigned.join(means, "centroid_id")
      .select(col("vec_id"), col("centroid_id"), col("dist_micros"),
        col("mean_micros"),
        expr("(dist_micros * 1000000L + mean_micros div 2) div mean_micros")
          .as("ratio_ppm"))
      .withColumn("is_outlier", col("ratio_ppm") >= lit(2000000L))
  }

  /** Lloyd k-means refinement of the IVF centroids, as repeated
    * assign → per-dimension-mean passes over the corpus — the "couple of
    * Lloyd iterations expressible as repeated assign+groupBy-avg" path,
    * now real. Each iteration is one broadcast assignment pass plus one
    * (centroid_id, dim) hash aggregate (partial map-side, rows shuffled =
    * centroids × dims, independent of corpus size). Centroid components
    * round to 6 so training is deterministic across engines and
    * partitionings (double-sum order cannot leak into the result) and the
    * DuckDB oracle can replay it. A centroid whose list empties drops out
    * (no re-seeding), identically in both engines. At 100 TB you would
    * train on a sample and checkpoint between iterations; the plan shape
    * per iteration is unchanged.
    */
  def ivfTrainCentroids(embeddings: DataFrame, nCentroids: Int,
                        iters: Int = 2): DataFrame = {
    var centroids = seedCentroids(embeddings, nCentroids)
    for (_ <- 0 until iters) {
      centroids = ivfAssignWith(embeddings, centroids)
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, m))), x -> round(x.m, 6))")
          .as("c_emb"))
    }
    // the trained index is consumed at least twice downstream (corpus
    // assignment + query probes); without persist each consumer replays
    // the full training lineage — plan-audited as a doubled Lloyd
    // subtree. nCentroids × dim rows, so caching is free; the cluster
    // analog is writing the index to a table once per build. Cache
    // LIFECYCLE IS CALLER-OWNED: unpersist (or spark.catalog.clearCache())
    // after the consuming action, as Verify/Bench do per query — a
    // long-lived session that never drops it accumulates blocks.
    centroids.persist()
  }

  /** IVF ANN top-k: corpus sharded by nearest centroid (the inverted
    * lists); each query probes its `nProbe` nearest centroids and scores
    * only those lists — an equi-join on centroid_id, so the shuffle
    * distributes by list and scoring cost drops by ~nCentroids/nProbe.
    * Recall < 1 by construction; raise nProbe to trade cost for recall.
    */
  def ivfTopK(embeddings: DataFrame, nCentroids: Int, nQueries: Int, k: Int,
              nProbe: Int = 2): DataFrame =
    ivfTopKWith(embeddings, seedCentroids(embeddings, nCentroids), nQueries, k, nProbe)

  /** IVF top-k against an arbitrary centroid frame (seeded or trained). */
  def ivfTopKWith(embeddings: DataFrame, centroids: DataFrame,
                  nQueries: Int, k: Int, nProbe: Int = 2): DataFrame =
    ivfTopKOverLists(ivfAssignWith(embeddings, centroids), centroids,
      queriesOf(embeddings, nQueries), k, nProbe)

  /** The probe/score/rank pipeline over PREBUILT inverted lists — shared
    * by the inline path (`ivfTopKWith`, which assigns lists on the fly)
    * and the persisted-index path (`ivfTopKFromIndex`). `queries` is any
    * (q_id, q_emb) frame.
    */
  def ivfTopKOverLists(lists: DataFrame, centroids: DataFrame,
                       queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    val probes = nearestCentroids(queries, "q_id", "q_emb", centroids, nProbe)
    // bounded keep-best (r17, guide §2.3): the probed-list stream is
    // nProbe/nCentroids of the corpus per query — still corpus-scale —
    // and the old window paid a map-side sort of it; topKSelect keeps
    // the same (score desc, vec_id asc) contract and rank semantics
    topKSelect(
      lists.join(probes, Seq("centroid_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("score",
          round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4))
        .select(col("q_id"), col("vec_id"), col("score")),
      Seq("q_id"), k)
  }

  /** Persist the trained IVF index: centroids plus the corpus assignment
    * (the inverted lists), lists PARTITIONED BY centroid_id — so a probe
    * that touches nProbe of nCentroids lists prunes the rest at the file
    * level (partition pruning / DPP once the probe set is known). This is
    * the amortization path: Lloyd training and corpus assignment run once
    * per index build, every query batch afterwards pays only
    * probe + score. The cache-based amortization inside one session
    * (`ivfTrainCentroids`' persist) composes with, but does not replace,
    * this — a persisted index survives sessions and is shared by every
    * reader of the warehouse.
    */
  def writeIvfIndex(embeddings: DataFrame, dir: String,
                    nCentroids: Int = 16, iters: Int = 2): Unit = {
    val centroids = ivfTrainCentroids(embeddings, nCentroids, iters)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    ivfAssignWith(embeddings, centroids)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/lists")
    centroids.unpersist()
  }

  /** Incremental index maintenance — the ANN analog of the dedup family's
    * `screenDeltaAgainstCorpus`: a daily embedding ingest assigns ONLY the
    * delta batch against the persisted centroids and appends the resulting
    * list rows; the corpus-scale lists are never rewritten and Lloyd never
    * reruns. Correct by construction: IVF assignment is a pure function of
    * the centroids, so an index built all-at-once and one grown by appends
    * hold identical lists (spec-asserted probe-for-probe). At 100 TB this
    * is the difference between a daily index job costing O(delta) and
    * O(corpus); centroid drift (retrain when appended fraction crosses a
    * threshold) is an operational policy LAYERED ON this mechanism — the
    * rebuild path is `writeIvfIndex` itself.
    *
    * `partitionBy(centroid_id)` appends land as new files inside each
    * list's partition directory, so file-level probe pruning keeps
    * working unchanged.
    */
  def appendToIvfIndex(delta: DataFrame, dir: String): Unit = {
    val spark = delta.sparkSession
    val centroids = spark.read.parquet(s"$dir/centroids")
    ivfAssignWith(delta, centroids)
      .write.mode("append").partitionBy("centroid_id").parquet(s"$dir/lists")
  }

  /** The drift audits' per-factor runner. `body(f, corpus)` builds factor
    * `f`'s one-row result over `corpusOf(f)`, which the runner persists
    * and builds in one job before the body runs, and unpersists when the
    * body returns or throws. Built first, because AQE turns every scan of
    * a not-yet-built cache into its own cache-building stage job (12
    * one-task jobs per factor in `graphTopKRescoredDrift`); the build is
    * a `noop` write, which adds no Exchange, where a `count()` adds one.
    * Factors run concurrently, one driver thread each from a pool
    * that lives for this call: every body is a chain of small eager jobs
    * over its own corpus slice, independent of its siblings, so
    * submitting them together lets the scheduler overlap their stages on
    * idle cores (r17: ivf_delete 1.17×, ivf_append 1.16× over the serial
    * loop), and per-factor results do not depend on the
    * interleaving. All of the call's jobs run in one job group: the first
    * body to throw cancels the group, including jobs a sibling submits
    * later, and the runner waits for every sibling to settle before it
    * rethrows that first error. Rows come back in factor order, unioned,
    * and are not materialized here — a lazy row is computed by the
    * caller's consuming action.
    */
  private[graft] def factorSweep(factors: Seq[Int], corpusOf: Int => DataFrame)(
      body: (Int, DataFrame) => DataFrame): DataFrame = {
    require(factors.nonEmpty, "factorSweep needs at least one factor")
    val corpora = factors.map(corpusOf)
    val sc = corpora.head.sparkSession.sparkContext
    val group = s"factorSweep-${java.util.UUID.randomUUID()}"
    val firstError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(factors.size)
    try {
      val pending = factors.zip(corpora).map { case (f, corpus) =>
        pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = try {
            sc.setJobGroup(group, s"drift factor $f")
            corpus.persist().write.format("noop").mode("overwrite").save()
            body(f, corpus)
          } catch { case e: Throwable =>
            if (firstError.compareAndSet(null, e)) sc.cancelJobGroupAndFutureJobs(group)
            throw e
          } finally corpus.unpersist()
        })
      }
      val rows = pending.map(p => scala.util.Try(p.get()))
      Option(firstError.get()).foreach(e => throw e)
      rows.map(_.get).reduce(_.unionAll(_))
    } finally pool.shutdown()
  }

  /** Recall@k counts of one or more hit sets against one brute top-k, as
    * ONE row: each arm's `hits` under its own column name, then `tot`
    * (the brute row count). Arms are (q_id, vec_id) frames; the first
    * arm's aggregate carries `tot` and every further arm's 1-row
    * aggregate rides a broadcast cross join.
    */
  private def recallCounts(brute: DataFrame, arms: (String, DataFrame)*): DataFrame = {
    def counts(hits: DataFrame): DataFrame =
      brute.join(hits.select(col("q_id"), col("vec_id")).withColumn("hit", lit(1L)),
          Seq("q_id", "vec_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"), count(lit(1)).as("tot"))
    val (h0, hits0) = arms.head
    arms.tail.foldLeft(counts(hits0).select(col("hits").as(h0), col("tot"))) {
      case (row, (h, hits)) => row.crossJoin(broadcast(counts(hits).select(col("hits").as(h))))
    }
  }

  /** Hit count `h` over `tot` in parts per million, rounded half up — the
    * drift audits' one recall rule (exact BIGINT arithmetic, so the
    * DuckDB oracles replay it bit for bit).
    */
  private def ppm(h: String): Column = expr(s"($h * 1000000 + tot div 2) div tot")

  /** One IVF drift row: the `lead` columns, then recall@k of the stale
    * centroids `cStale` and of a fresh retrain on `corpus` (both assigned
    * and probed over `corpus`, against its brute top-k) and drift_ppm =
    * fresh − stale. The eager localCheckpoint forces the 1-row aggregate
    * NOW, so the fresh centroids and the factor's corpus cache can be
    * dropped before the next factor grows its own copy — without it the
    * cached corpora (the largest = the full frame) pile up for the
    * session's lifetime (r12 advice).
    */
  private def ivfDriftRow(lead: Seq[Column], corpus: DataFrame, cStale: DataFrame,
                          nCentroids: Int, iters: Int, nQueries: Int, k: Int,
                          nProbe: Int): DataFrame = {
    val brute = cosineTopK(corpus, nQueries, k).select(col("q_id"), col("vec_id"))
    val queries = queriesOf(corpus, nQueries)
    def hits(c: DataFrame): DataFrame =
      ivfTopKOverLists(ivfAssignWith(corpus, c), c, queries, k, nProbe)
    val cFresh = ivfTrainCentroids(corpus, nCentroids, iters)
    try recallCounts(brute, "h_stale" -> hits(cStale), "h_fresh" -> hits(cFresh))
      .select(lead ++ Seq(ppm("h_stale").as("recall_stale_ppm"),
        ppm("h_fresh").as("recall_fresh_ppm"),
        (ppm("h_fresh") - ppm("h_stale")).as("drift_ppm")): _*)
      .localCheckpoint()
    finally cFresh.unpersist()
  }

  /** Recall decay of an UNRETRAINED IVF index under appends — the
    * measurement [[appendToIvfIndex]]'s doc promises as "operational
    * policy layered on the mechanism", now a gated value: centroids train
    * (Lloyd) on the base 1/11 of the corpus, the corpus then grows by
    * 1×/5×/10× the base size, and per growth factor the audit reports
    * recall@k of (a) the STALE index — base-trained centroids assigning
    * the grown corpus, exactly what repeated `appendToIvfIndex` calls
    * produce — vs (b) a FRESH full retrain, both against full-precision
    * brute on the same grown corpus. drift_ppm = fresh − stale is the
    * number the rebuild threshold reads: retrain when it exceeds the
    * recall budget. Base/growth slices are vec_id prefixes (deterministic;
    * the synthetic ids are dense), sized from one driver-side count.
    * Releases every centroid frame it trains; a `prebuiltStale` frame
    * stays the caller's.
    */
  def ivfAppendDrift(embeddings: DataFrame, factors: Seq[Int] = Seq(1, 5, 10),
                     nCentroids: Int = 16, iters: Int = 2,
                     nQueries: Int = 10, k: Int = 5, nProbe: Int = 2,
                     prebuiltStale: Option[DataFrame] = None): DataFrame = {
    val nb = embeddings.count() / 11
    val base = embeddings.filter(col("vec_id") < nb)
    // the stale arm's centroids are "the index trained before the
    // appends" — the registered query reads them from a per-(JVM, corpus)
    // artifact (r16, the graph_base11 argument applied to IVF) instead of
    // re-running the Lloyd train per call; the default still trains
    // inline for standalone callers and specs
    val cStale = prebuiltStale.getOrElse(ivfTrainCentroids(base, nCentroids, iters))
    try factorSweep(factors, f => embeddings.filter(col("vec_id") < nb * (1 + f))) {
      (f, corpus) =>
        ivfDriftRow(Seq(lit(f.toLong).as("append_factor"), lit(nb).as("n_base"),
          lit(nb * (1 + f)).as("n_corpus")),
          corpus, cStale, nCentroids, iters, nQueries, k, nProbe)
    } finally if (prebuiltStale.isEmpty) cStale.unpersist()
  }

  /** DELETE-drift audit for the IVF index — the centroid-bias question,
    * completing the append/delete symmetry ([[ivfAppendDrift]] measures
    * growth): after churn removes a fraction of the corpus, the lists
    * shed their deleted rows trivially (IVF has no routing structure to
    * fragment — the graph tier's delete problem doesn't exist here), but
    * the CENTROIDS were trained on mass that is no longer there, so
    * probe pruning follows a stale partition of the space. Per deleted
    * fraction: stale centroids (trained pre-delete on the full corpus,
    * fraction-independent — trained once) vs a fresh Lloyd retrain on
    * the survivors, both assigned/probed over the survivors and
    * recalled against brute. drift_ppm = fresh − stale is what a
    * retrain buys back; the rebuild policy reads it exactly like the
    * append side's. Releases every centroid frame it trains; a
    * `prebuiltStale` frame stays the caller's.
    */
  def ivfDeleteDrift(embeddings: DataFrame, delTenths: Seq[Int] = Seq(1, 2, 4),
                     nCentroids: Int = 16, iters: Int = 2,
                     nQueries: Int = 10, k: Int = 5, nProbe: Int = 2,
                     prebuiltStale: Option[DataFrame] = None): DataFrame = {
    // "trained pre-delete on the full corpus" IS the persisted trained
    // index's centroid frame — the registered query reads the shared
    // per-(JVM, corpus) artifact (r16); the default trains inline
    val cStale = prebuiltStale.getOrElse(
      ivfTrainCentroids(embeddings, nCentroids, iters))
    try factorSweep(delTenths,
        f => embeddings.filter(col("vec_id") < nQueries || col("vec_id") % 10 >= f)) {
      (f, corpus) =>
        val nAlive = corpus.count()
        ivfDriftRow(Seq(lit(f.toLong * 10L).as("del_pct"), lit(nAlive).as("n_alive")),
          corpus, cStale, nCentroids, iters, nQueries, k, nProbe)
    } finally if (prebuiltStale.isEmpty) cStale.unpersist()
  }

  /** Top-k against a persisted index — no training, no assignment, just
    * probe + score over the pruned lists.
    */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       nQueries: Int, k: Int, nProbe: Int = 2): DataFrame =
    ivfTopKOverIndex(dir, spark.read.parquet(s"$dir/lists"), nQueries, k, nProbe)

  /** The read path of both persisted IVF indexes: `lists` is the index's
    * (vec_id, embedding, centroid_id) rows as read, the queries are its
    * vec_id < nQueries rows, and the centroids come from `dir`.
    */
  private def ivfTopKOverIndex(dir: String, lists: DataFrame, nQueries: Int, k: Int,
                               nProbe: Int): DataFrame =
    ivfTopKOverLists(lists, lists.sparkSession.read.parquet(s"$dir/centroids"),
      queriesOf(lists, nQueries), k, nProbe)

  /** Johnson–Lindenstrauss random projection — the THIRD memory/compute
    * lever of the ANN family, orthogonal to int8 (precision) and PQ
    * (codebooks): dim 64 → `k` via a seeded Rademacher ±1 matrix
    * (Achlioptas 2003 — database-friendly JL: signs suffice, no
    * Gaussians), cutting every downstream score to k/d of its mults and
    * every in-flight row to k/d of its width. Distortion is the JL bound
    * (ε ~ sqrt(ln n / k)); the spec gates recall@5 against brute on the
    * fixture.
    *
    * Fully oracle-replayable: the sign matrix derives from md5 parity of
    * "i_j" (identical string→hex in Spark, Scala and DuckDB), components
    * quantize to a 1e-3 BIGINT grid BEFORE the sum (floor(x·1000 + 0.5)
    * — the bit-portable formulation, not round()), and the projection is
    * then pure integer arithmetic — order-independent, engine-exact.
    * The 1e3 grid is chosen so downstream COSINE stays exact too:
    * |proj_i| ≤ 64 000, so every dot/norm term (≤ 16·64000² ≈ 6.5e10)
    * is an exact integer in a double — no float-summation-order surface
    * anywhere in the tier. Cosine is preserved up to the uniform scale
    * (scale-invariant, the int8 tier's own argument); the grid's ~0.1%
    * per-component noise is far under the JL distortion itself.
    */
  def rpSigns(k: Int = 16, d: Int = 64): Array[Array[Long]] =
    Array.tabulate(k, d) { (i, j) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_${j}".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
    }

  /** (vec_id, proj) with proj = R · quantize(embedding) as array<bigint>:
    * one per-row expression, zero shuffles. The sign matrix is embedded
    * as literals (computed once on the driver), so per-row cost is k·d
    * integer multiply-adds — no md5 in the hot loop.
    */
  def rpProject(embeddings: DataFrame, k: Int = 16, d: Int = 64): DataFrame = {
    val signs = rpSigns(k, d)
    val rows = signs.map(_.mkString("array(", "L, ", "L)"))
    val projSql = rows
      .map(r => s"aggregate(zip_with(q, $r, (x, s) -> x * s), 0L, (a, v) -> a + v)")
      .mkString("array(", ", ", ")")
    val sql =
      "element_at(transform(array(" +
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000 + 0.5d) as bigint))" +
        s"), q -> $projSql), 1)"
    embeddings.select(col("vec_id"), expr(sql).as("proj"))
  }

  /** Brute top-k in the PROJECTED space — `cosineTopK`'s shape at k/d of
    * the scoring width. The projected frame is persisted (caller-owned
    * cache): the r9 int8 ladder showed codegen inlines un-materialized
    * projections into the broadcast join's inner loop, re-evaluating
    * them once per scored PAIR.
    */
  def rpTopK(embeddings: DataFrame, nQueries: Int, topK: Int,
             k: Int = 16, d: Int = 64): DataFrame = {
    val proj = rpProject(embeddings, k, d)
      .withColumn("pd", expr("transform(proj, x -> cast(x as double))"))
      .select(col("vec_id"), col("pd"))
      .persist()
    val queries = proj.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("pd").as("q_pd"))
    val scored = proj
      .join(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("pd"), col("q_pd")), 4))
    topKSelect(scored, Seq("q_id"), topK)
  }

  /** Scalar int8 quantization of the embedding column: per-vector scale =
    * max|component| / 127, components snapped to integers by
    * `floor(x/scale + 0.5)` — spelled that way (not `round`) because the
    * floor formulation is bit-portable across engines, so the DuckDB
    * oracle replays the quantizer exactly; `round` half-way semantics
    * differ by engine/version. Zero vectors (scale 0) are dropped — they
    * have no cosine direction to preserve.
    *
    * This is the 100 TB memory/bandwidth lever for ANN: int8 corpus
    * vectors are 4× (vs float32) or 8× (vs float64) smaller, which is the
    * difference between an executor's inverted lists fitting in memory and
    * spilling. Cosine is SCALE-INVARIANT, so the per-vector scale never
    * enters the score — quantized cosine approximates full-precision
    * cosine with error ~1/127 per component pair. The integer components
    * are carried as exact doubles (every int8 is exactly representable),
    * feeding the same codegen'd CosineSimilarity kernel: at storage scale
    * you'd persist `qv` as TINYINT and widen on read; the arithmetic —
    * and hence every result below — is identical.
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("scale",
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))") / 127.0)
      .filter(col("scale") > 0)
      // floor returns BIGINT in Spark SQL; widen back to double so the
      // quantized vectors feed the same CosineSimilarity kernel (int8
      // values widen exactly — the arithmetic is still integer-exact)
      .withColumn("qv",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5d) AS DOUBLE))"))
      .select(col("vec_id"), col("qv"), col("scale"))

  /** The quantized corpus as it should live AT REST: components as real
    * TINYINT (`array<tinyint>` in parquet), not doubles that happen to
    * hold integers. This is where the 4-8× claim is actually banked —
    * the in-flight double representation only saves score-kernel
    * bandwidth; persisted tinyint saves it on disk, over the network,
    * and in the page cache. The round trip is lossless by construction:
    * every quantized component is an integer in [-127, 127], so
    * double → tinyint → double is exact and all downstream scores are
    * bit-identical to the in-memory tier.
    */
  def quantizeInt8Stored(embeddings: DataFrame): DataFrame =
    quantizeInt8(embeddings).select(
      col("vec_id"),
      expr("transform(qv, x -> cast(x as tinyint))").as("qv8"),
      col("scale"))

  /** Widen a stored int8 frame back to the double-array shape the native
    * cosine kernel consumes — exact (every int8 is exactly representable
    * as a double). Other columns (centroid_id, scale) ride through.
    */
  def widenInt8(stored: DataFrame): DataFrame =
    stored
      .withColumn("qv", expr("transform(qv8, x -> cast(x as double))"))
      .drop("qv8")

  /** Shared scoring body of the int8 brute tier: per-query top-k over a
    * (vec_id, qv) quantized frame — in-memory and at-rest paths differ
    * only in where that frame comes from.
    *
    * Same bounded-aggregation selection as [[hammingShortlist]] (r15
    * verdict task 1's stretch): the per-q_id corpus-wide row_number window
    * is replaced by [[topKSelect]]'s TopKAggregator — ≤ k pairs per query
    * per map task, merged map-side, no sort of the scored stream.
    * Ordering contract identical: (−score, vec_id) ascending = (score
    * desc, vec_id asc), the exact window ordering; scores are round-4
    * doubles from nonzero vectors (quantizeInt8 drops scale-0 rows), so
    * no NaN enters the comparator.
    */
  private[graft] def topKOverQuantized(q: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val corpus = q.select(col("vec_id"), col("qv"))
    val queries = q.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
    val scored = corpus
      .join(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("qv"), col("q_qv")), 4))
    topKSelect(scored, Seq("q_id"), k)
  }

  /** FILTERED top-k retrieval — the metadata-constrained search every
    * production vector store serves ("nearest neighbors WHERE label =
    * q.label"): each query ranks only corpus vectors sharing its label.
    * The filter composes BEFORE scoring (predicate next to the join
    * condition, so Catalyst prunes non-matching pairs at the broadcast
    * probe — never score-then-discard), which is the property that
    * matters at scale: selectivity s cuts the scored volume to s·n, and
    * under a partition-by-label layout it prunes whole files. Same
    * rounding/tiebreak contract as [[cosineTopK]].
    */
  def cosineTopKFiltered(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val corpus = embeddings.select(col("vec_id"), col("embedding"), col("label"))
    val queries = embeddings
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val scored = corpus
      .join(broadcast(queries),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4))
    // q_label rides the group key (1:1 with q_id) so the output keeps the
    // label column; selection itself is the bounded aggregation
    topKSelect(scored, Seq("q_id", "q_label"), k)
      .withColumnRenamed("q_label", "label")
  }

  /** Brute-force top-k over the int8-quantized corpus — `cosineTopK` with
    * 4-8× less data per scored row. Same broadcast/window shape; the scores
    * are the quantized approximation (oracled exactly, since the
    * quantizer is bit-portable). At scale, follow with a full-precision
    * rescore of the top candidates if exact ordering matters.
    *
    * The quantized frame is `persist()`ed — cache lifecycle CALLER-owned,
    * the engine-wide convention (`ann_recall`, trained IVF). Not an
    * optimization nicety: the r9 int8 ladder (SCALE.md, "r8: ANN scaling
    * exponents") measured that without a materialization barrier,
    * whole-stage codegen inlines the interpreted-HOF quantize expression
    * into the broadcast join's inner loop — once per SCORED PAIR, not
    * once per corpus row (×100: 3.38 s vs 0.57 quantize + 0.71 score in
    * isolation) — and that per-pair term was the entire ×100 exponent
    * (0.54) of this tier. Quantize-once is also the semantic at any real scale: the
    * quantized corpus is the artifact, scored by many query batches
    * (`cosineTopKInt8Stored` is the same statement at rest).
    */
  def cosineTopKInt8(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    topKOverQuantized(quantizeInt8(embeddings).persist(), nQueries, k)

  /** The same brute tier THROUGH the at-rest layout: quantize → persist
    * as `array<tinyint>` → read back → widen → score. Output is
    * bit-identical to `cosineTopKInt8` (the round trip is exact), which
    * is what lets the driver gate hash-compare this query against the
    * identical oracle — the persisted layout is proven to change
    * nothing but the bytes at rest.
    */
  def cosineTopKInt8Stored(embeddings: DataFrame, dir: String,
                           nQueries: Int, k: Int): DataFrame = {
    quantizeInt8Stored(embeddings).write.mode("overwrite").parquet(dir)
    topKOverQuantized(
      widenInt8(embeddings.sparkSession.read.parquet(dir)), nQueries, k)
  }

  /** `writeIvfIndex` with int8 inverted lists: centroids stay full
    * precision (they are nCentroids×dim — bytes don't matter; assignment
    * quality does), the corpus lists land as (vec_id, qv8 tinyint array,
    * scale, centroid_id), partitioned by centroid_id like the float
    * index. Assignment runs at full precision — quantization costs
    * recall only at scoring, never at index build.
    */
  def writeIvfIndexInt8(embeddings: DataFrame, dir: String,
                        nCentroids: Int = 16, iters: Int = 2): Unit = {
    val centroids = ivfTrainCentroids(embeddings, nCentroids, iters)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    ivfAssignWith(embeddings, centroids)
      .select(col("vec_id"), col("centroid_id"))
      .join(quantizeInt8Stored(embeddings), Seq("vec_id"))
      .select(col("vec_id"), col("qv8"), col("scale"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/lists")
    centroids.unpersist()
  }

  /** Top-k against a persisted int8 index: probe + score over the pruned
    * lists, vectors widened on read — the read path pays ~1/4 the bytes
    * of the float index for the measured ~2% recall@5 cost
    * (`ann_recall_int8`).
    */
  def ivfTopKFromIndexInt8(spark: org.apache.spark.sql.SparkSession, dir: String,
                           nQueries: Int, k: Int, nProbe: Int = 2): DataFrame =
    ivfTopKOverIndex(dir,
      widenInt8(spark.read.parquet(s"$dir/lists")).withColumnRenamed("qv", "embedding"),
      nQueries, k, nProbe)

  /** Random-hyperplane LSH bucket id: sign bits of the embedding's
    * components at `(dim / nBits)`-strided positions folded into an int. A
    * stand-in for learned hyperplanes that keeps everything deterministic
    * and data-independent; `nBits` buckets ≈ 2^nBits shards.
    *
    * The stride is derived from `size(embedding)` at runtime, so the same
    * bucket function works for any dimension; for dim < nBits the
    * out-of-range probes read null via `get` (0-based, null-safe even under
    * ANSI) and contribute a 0 bit rather than erroring or collapsing
    * silently.
    */
  def lshBucket(embedding: Column, nBits: Int): Column = {
    val stride = greatest(
      floor(size(embedding).cast(DoubleType) / nBits).cast(IntegerType), lit(1))
    (0 until nBits).map { i =>
      when(get(embedding, lit(i) * stride) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Embedding near-duplicate pairs, LSH-bucketed — the 100 TB path for
    * `embeddingDupPairs`: both sides carry their hyperplane bucket and
    * candidates come from an equi-join on it (shuffle distributes by
    * bucket; no nested-loop anywhere in the plan). Recall < 1 by
    * construction — a near-dup pair straddling a hyperplane is missed;
    * the brute-force variant stays registered as the recall reference.
    * The bucket expression is ~nBits comparisons per row, so computing it
    * on both join sides is free (unlike the MinHash signature case that
    * forced the posting-list formulation in DedupOps).
    */
  def embeddingDupPairsLsh(embeddings: DataFrame, threshold: Double,
                           nBits: Int = 8): DataFrame = {
    val bucketed = embeddings.withColumn("bucket", lshBucket(col("embedding"), nBits))
    val a = bucketed.select(col("bucket"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("emb_a"), col("emb_b")), 4))
      .filter(col("score") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("score"))
  }

  /** Undirected closure of a directed (src, dst) edge list: the edges
    * plus their reverses, deduped (the NSW/HNSW reverse-link rule — a
    * node that is nobody's top-k OUT-neighbor would otherwise be
    * unreachable by any beam). Idempotent on an already-symmetric set.
    */
  def symmetrize(directed: DataFrame): DataFrame =
    directed.unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** LINEAR-cost kNN-graph build: bucket-cell exhaustive init + NN-descent
    * refinement (Dong, Moses & Li, WWW'11 — the public algorithm, re-
    * expressed as DataFrame ops). It replaced a one-shot LSH-bucket build
    * (removed; numbers in SCALE.md r13) that scored n²·(nBits+1)/2^nBits
    * pairs — measured e = 1.4 at the sf1 decade with nBits pinned at 4,
    * and raising nBits on an isotropic corpus collapses recall (sign-bit
    * collision p^nBits → buckets stop containing true neighbors; measured
    * 0.00 recall@5 at nBits = 8). NN-descent sidesteps the trade entirely:
    *
    *  - INIT: vectors split into (bucket, cell) groups — the 4-bit sign
    *    bucket for locality, then a portable-hash cell so every group is
    *    ~[[cellTarget]] vectors regardless of corpus size; exhaustive
    *    kNN inside each group costs n·cellTarget scored pairs. LINEAR.
    *  - DESCENT round: every node's candidates = its neighbors'
    *    neighbors over the SYMMETRIZED current graph (the NN-descent
    *    invariant: a neighbor of my neighbor is probably my neighbor),
    *    rescored exactly, keep top graphK. ≤ n·(2·graphK)² candidate
    *    rows per round. LINEAR, and each round can only improve the
    *    graph (keep-best on exact scores).
    *
    * Deterministic end to end: round-6 scores, dst tiebreak, md5-derived
    * cells, every round localCheckpointed. Returns the DIRECTED top-k
    * edges plus the long links; callers [[symmetrize]].
    */
  def knnGraphDescent(embeddings: DataFrame, graphK: Int = 16,
                      descentRounds: Int = 2, nBits: Int = 4,
                      cellTarget: Int = 128, longK: Int = 4,
                      knownN: Option[Long] = None): DataFrame = {
    // knownN skips the count action when the caller already sized the
    // corpus (every registered caller slices dense vec_id prefixes and
    // knows n exactly) — one fewer driver barrier per build (r17, §5)
    val n = knownN.getOrElse(embeddings.count())
    val nCells = math.max(1L, n / ((1L << nBits) * cellTarget))
    // a SECOND, geometry-independent hash partition: ~cellTarget-sized
    // groups spanning every bucket. The locality cells alone make the
    // init a union of disconnected cliques (measured: beam recall frozen
    // at the init value through 6 descent rounds — two-hop never escapes
    // a clique); the salted-hash groups are NN-descent's random-init
    // component, connecting the graph so descent can propagate.
    val nGroups = math.max(1L, n / cellTarget)
    val cellEx = s"cast(conv(substr(md5(cast(vec_id as string)), 1, 8), 16, 10) " +
      s"as bigint) % $nCells"
    val groupEx = s"cast(conv(substr(md5(concat('g', cast(vec_id as string))), 1, 8), 16, 10) " +
      s"as bigint) % $nGroups"
    val bucketed = embeddings
      .withColumn("bucket", lshBucket(col("embedding"), nBits))
      .withColumn("cell", expr(cellEx))
      .withColumn("rgroup", expr(groupEx))
    // per-src keep-best via the bounded topKSelect aggregation (r17,
    // guide §2.3): the row_number window paid a map-side sort of EVERY
    // candidate pair per round — n·(2·graphK)² rows at corpus scale —
    // before discarding all but graphK per src. Same ordering contract
    // (score desc, dst asc); round-6 scores, no NaN (nonzero-norm corpus).
    def topN(cand: DataFrame, n: Int): DataFrame = {
      val scored = cand
        .join(embeddings.select(col("vec_id").as("src"), col("embedding").as("s_emb")),
          Seq("src"))
        .join(embeddings.select(col("vec_id").as("dst"), col("embedding").as("d_emb")),
          Seq("dst"))
        .withColumn("score",
          round(graft.functions.GraftFunctions.cosineSim(col("s_emb"), col("d_emb")), 6))
        .select(col("src"), col("dst").as("vec_id"), col("score"))
      topKSelect(scored, Seq("src"), n)
        .select(col("src"), col("vec_id").as("dst"))
    }
    val cellPairs = bucketed.select(col("bucket"), col("cell"), col("vec_id").as("src"))
      .join(bucketed.select(col("bucket"), col("cell"), col("vec_id").as("dst")),
        Seq("bucket", "cell"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val groupPairs = bucketed.select(col("rgroup"), col("vec_id").as("src"))
      .join(bucketed.select(col("rgroup"), col("vec_id").as("dst")), Seq("rgroup"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    // NSW-style LONG links: each node's best `longK` out of its random
    // group, kept ALONGSIDE the refined kNN edges. Descent converges
    // toward the pure kNN graph, which is exactly the graph greedy beam
    // search navigates WORST (measured at sf1: recall 0.64 after 2
    // rounds, 0.26 after 3 — better graph, worse navigability); the
    // random-sample shortcuts restore the small-world property the beam
    // needs (Malkov et al., NSW 2014).
    // longEdges has exactly ONE consumer (the final union below), so its
    // eager checkpoint was a pure driver-barrier job: un-checkpointed it
    // materializes once inside the caller's consuming action (r17 cadence
    // cut, guide §5). groupPairs was already computed twice either way.
    val longEdges = topN(groupPairs, longK)
    var edges = topN(cellPairs.unionByName(groupPairs).distinct(), graphK)
      .localCheckpoint()
    for (_ <- 1 to descentRounds) {
      val nbr = symmetrize(edges)
      val twoHop = nbr.select(col("src"), col("dst").as("mid"))
        .join(nbr.select(col("src").as("mid"), col("dst")), Seq("mid"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      edges = topN(twoHop.unionByName(edges).distinct(), graphK).localCheckpoint()
    }
    edges.unionByName(longEdges).distinct()
  }

  /** The graph tier's SCALE CONTRACT (r12 verdict task 3): at fixed knobs
    * recall@5 decayed 0.50/0.34/0.22 across the three fixture SFs, because
    * a constant beam explores a constant number of nodes while the true
    * top-k spreads through a growing graph. The rule scales the explored
    * set with corpus size: with lg = bit-length of n (exact integer log2,
    * `64 - numberOfLeadingZeros`, = `length(bin(n))` on the oracle side),
    *
    *   beam = 6·lg(n), entrySeeds = 2·lg(n), rounds = 3, graphK = 16.
    *
    * The BUILD-side half of the contract is [[knnGraphDescent]] (linear
    * cell-bounded init + NN-descent + NSW long links), which replaced the
    * one-shot LSH build for the reasons in its scaladoc. Query-side work
    * stays |queries|·beam·graphK = O(log n) per query once the graph
    * exists. Measured (SCALE.md r13):
    * recall@5 = 1.00 / 1.00 / 0.98 / 0.98 across sf0.001/sf0.01/sf0.1/
    * sf1(20k vectors) with the descent build at these query knobs, vs
    * 0.50/0.34/0.22 shipped in r12; the `ann_recall_graph` gate pins the
    * ≥ 0.90 floor at all three gate SFs.
    */
  def graphKnobs(n: Long): (Int, Int, Int, Int) = {
    val lg = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))
    (6 * lg, 3, 16, 2 * lg) // (beam, rounds, graphK, entrySeeds)
  }

  /** Graph ANN under the full scale contract: [[knnGraphDescent]] build
    * (symmetrized) + beam search at the contract query knobs — one
    * driver-side count picks every width for this corpus. The only
    * explicit-knob face is [[graphAnnTopKOver]].
    */
  def graphAnnTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val n = embeddings.count()
    val (beam, rounds, graphK, seeds) = graphKnobs(n)
    graphAnnTopKOver(embeddings,
      symmetrize(knnGraphDescent(embeddings, graphK, knownN = Some(n))),
      nQueries, k, beam, rounds, seeds)
  }

  /** Persist the graph-ANN index under the scale contract: the
    * symmetrized descent edge list plus the vectors (the same
    * self-contained layout as [[writeIvfIndex]] — a reader needs no
    * access to the source table). Build once per corpus snapshot; every
    * query batch afterwards pays beam search only. graphK comes from the
    * rule, and [[graphAnnTopKFromIndex]] re-derives beam/seeds from the
    * persisted vector count — index and query side agree on the knobs
    * without a side-channel config.
    */
  def writeGraphIndex(embeddings: DataFrame, dir: String): Unit = {
    val n = embeddings.count()
    val (_, _, graphK, _) = graphKnobs(n)
    symmetrize(knnGraphDescent(embeddings, graphK, knownN = Some(n)))
      .write.mode("overwrite").parquet(s"$dir/edges")
    embeddings.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$dir/vectors")
  }

  /** Persist the base-1/11 slice's descent-built SYMMETRIC edge set — the
    * "index that predates the appends" that [[graphAppendDrift]] and
    * [[graphTopKRescoredDrift]] both replay (r16): the two audits derive
    * the IDENTICAL frame (same nb; graphK is the scale-constant contract
    * knob), so the registry builds it once per (JVM, corpus) like every
    * other persisted index instead of running two descent builds per
    * bench pass. Determinism of the descent build (round-6 scores,
    * md5-derived cells, dst tie-breaks) makes the parquet round trip
    * exact — stored ≡ inline edge set, so both audits' oracles (which
    * replay the inline build) keep hash-proving the equivalence.
    */
  def writeGraphBase11(embeddings: DataFrame, dir: String): Unit = {
    val n = embeddings.count()
    val nb = n / 11
    val graphK = graphKnobs(n)._3
    symmetrize(knnGraphDescent(embeddings.filter(col("vec_id") < nb), graphK,
        knownN = Some(nb)))
      .write.mode("overwrite").parquet(dir)
  }

  /** Beam search against a [[writeGraphIndex]] index — no graph build,
    * just the per-round equi-join over the stored edges, at the contract
    * knobs for the stored vector count.
    */
  def graphAnnTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                            dir: String, nQueries: Int, k: Int): DataFrame = {
    val vectors = spark.read.parquet(s"$dir/vectors")
    val (beam, rounds, _, seeds) = graphKnobs(vectors.count())
    graphAnnTopKOver(vectors, spark.read.parquet(s"$dir/edges"),
      nQueries, k, beam, rounds, seeds)
  }

  /** Incremental graph-index append for the DESCENT-built index: edges
    * for the NEW nodes only — each delta vector runs just the INIT step
    * of the build (its (bucket, cell) locality candidates plus its
    * random-group candidates, both under the index's BUILD-TIME hash
    * moduli `moduliN` — rebucketing IS a rebuild) against the full grown
    * corpus, takes its top graphK, and the new edges are symmetrized in.
    * No descent rounds, and existing nodes' own top-k lists are NOT
    * rewired — exactly the staleness [[graphAppendDrift]] measures.
    */
  def knnGraphAttach(corpus: DataFrame, deltaMinId: Long, moduliN: Long,
                     graphK: Int = 16, nBits: Int = 4,
                     cellTarget: Int = 128): DataFrame = {
    val nCells = math.max(1L, moduliN / ((1L << nBits) * cellTarget))
    val nGroups = math.max(1L, moduliN / cellTarget)
    val cellEx = s"cast(conv(substr(md5(cast(vec_id as string)), 1, 8), 16, 10) " +
      s"as bigint) % $nCells"
    val groupEx = s"cast(conv(substr(md5(concat('g', cast(vec_id as string))), 1, 8), 16, 10) " +
      s"as bigint) % $nGroups"
    val bucketed = corpus
      .withColumn("bucket", lshBucket(col("embedding"), nBits))
      .withColumn("cell", expr(cellEx))
      .withColumn("rgroup", expr(groupEx))
    val delta = bucketed.filter(col("vec_id") >= deltaMinId)
    val cellCand = delta.select(col("bucket"), col("cell"), col("vec_id").as("src"))
      .join(bucketed.select(col("bucket"), col("cell"), col("vec_id").as("dst")),
        Seq("bucket", "cell"))
      .select(col("src"), col("dst"))
    val groupCand = delta.select(col("rgroup"), col("vec_id").as("src"))
      .join(bucketed.select(col("rgroup"), col("vec_id").as("dst")), Seq("rgroup"))
      .select(col("src"), col("dst"))
    // same bounded keep-best as knnGraphDescent's topN (r17, guide §2.3):
    // delta × (cell ∪ group) candidates, top graphK per src without the
    // map-side sort; ordering contract unchanged (score desc, dst asc)
    val scored = cellCand.unionByName(groupCand)
      .filter(col("src") =!= col("dst"))
      .distinct()
      .join(corpus.select(col("vec_id").as("src"), col("embedding").as("s_emb")),
        Seq("src"))
      .join(corpus.select(col("vec_id").as("dst"), col("embedding").as("d_emb")),
        Seq("dst"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("s_emb"), col("d_emb")), 6))
      .select(col("src"), col("dst").as("vec_id"), col("score"))
    symmetrize(topKSelect(scored, Seq("src"), graphK)
      .select(col("src"), col("vec_id").as("dst")))
  }

  /** What both append audits ([[graphAppendDrift]],
    * [[graphTopKRescoredDrift]]) derive before their factor sweep, as
    * (nb, graphK, baseSym, queries, scoredAll). None of it depends on the
    * factor (r13 verdict task 6):
    *  - `baseSym`, the STALE side's base graph: graphK is scale-constant
    *    in the contract (graphKnobs' third knob), so the NN-descent build
    *    over the base 1/11 slice is identical for every factor. It is
    *    "the index that predates the appends": when the caller holds it
    *    persisted (the registry shares one base-slice artifact between
    *    the two audits, built once per JVM), reading it skips a per-call
    *    descent rebuild. symmetrize is idempotent on the already-symmetric
    *    stored set, so the guard costs one distinct and a directed caller
    *    still reads right;
    *  - `scoredAll`, the brute baselines: the grown corpora are nested
    *    vec_id prefixes, so one full-precision scored frame over the
    *    LARGEST corpus replays every factor's cosineTopK as a prefix
    *    filter + top-k — one corpus scoring pass instead of |factors|.
    */
  private def appendAuditPrelude(embeddings: DataFrame, factors: Seq[Int],
                                 nQueries: Int, prebuiltBase: Option[DataFrame])
      : (Long, Int, DataFrame, DataFrame, DataFrame) = {
    val nb = embeddings.count() / 11
    val nMax = nb * (1 + factors.max)
    val graphK = graphKnobs(nMax)._3
    val baseSym = prebuiltBase
      .map(e => symmetrize(e.select(col("src"), col("dst"))).localCheckpoint())
      .getOrElse(symmetrize(knnGraphDescent(
        embeddings.filter(col("vec_id") < nb), graphK, knownN = Some(nb)))
        .localCheckpoint())
    val queries = queriesOf(embeddings, nQueries)
    val scoredAll = embeddings.filter(col("vec_id") < nMax)
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4)
          .as("score"))
      .localCheckpoint()
    (nb, graphK, baseSym, queries, scoredAll)
  }

  /** Recall decay of an append-attached graph index vs a full rebuild —
    * [[ivfAppendDrift]]'s analog for the graph tier (r12 verdict task 3):
    * the base 1/11 of the corpus builds the graph, the corpus grows
    * 1×/5×/10×, and per factor the audit reports beam-search recall@k of
    * (a) the STALE index — base-time edges plus [[knnGraphAttach]]-only
    * delta edges, exactly what repeated appends produce — vs (b) a FRESH
    * [[knnGraphDescent]] rebuild, both under the scale-contract knobs for the
    * GROWN size and both against full-precision brute. drift_ppm =
    * fresh − stale is the rebuild-policy number. Slices are vec_id
    * prefixes (deterministic, dense ids), sized from one driver count.
    */
  def graphAppendDrift(embeddings: DataFrame, factors: Seq[Int] = Seq(1, 5, 10),
                       nQueries: Int = 10, k: Int = 5,
                       prebuiltBase: Option[DataFrame] = None): DataFrame = {
    val (nb, graphK, baseSym, _, scoredAll) =
      appendAuditPrelude(embeddings, factors, nQueries, prebuiltBase)
    factorSweep(factors, f => embeddings.filter(col("vec_id") < nb * (1 + f))) {
      (f, corpus) =>
        val n = nb * (1 + f)
        val (beam, rounds, _, seeds) = graphKnobs(n)
        // the persisted index keeps its BUILD-TIME hash moduli: appends
        // attach through the base-size cells/groups (re-hashing IS a
        // rebuild), while the fresh rebuild gets the grown corpus's moduli
        val stale = baseSym
          .unionByName(knnGraphAttach(corpus, nb, nb, graphK)).distinct()
        val fresh = symmetrize(knnGraphDescent(corpus, graphK, knownN = Some(n)))
        // brute ground truth via the bounded topKSelect aggregation (r17):
        // same (score desc, vec_id asc) contract as the old row_number
        // window, no map-side sort of every scored pair
        val brute = topKSelect(scoredAll.filter(col("vec_id") < n), Seq("q_id"), k)
          .select(col("q_id"), col("vec_id"))
        // ONE (arm, q_id)-keyed beam chain for both arms (r14): stale and
        // fresh share corpus, queries and knobs within a factor — only the
        // edge set differs — so a single keyed chain replaces two full
        // chains (half the per-round jobs and checkpoints), per-arm
        // results identical by construction. The arms ride uncheckpointed
        // into the chain: graphAnnSearchArmsVisited materializes the union
        // graph once (r17), replacing the two per-arm checkpoint jobs.
        val hits = graphAnnSearchArms(corpus,
            Seq("stale" -> stale, "fresh" -> fresh),
            nQueries, k, beam, rounds, seeds)
          .select(col("arm"), col("q_id"), col("vec_id"))
          .localCheckpoint()
        def arm(a: String): DataFrame = hits.filter(col("arm") === a)
        // the factor's row is LAZY (r17): every frame it reads (hits,
        // scoredAll) is already checkpointed, so a per-factor row
        // checkpoint would be one more driver-barrier job per factor — the
        // caller's single consuming action computes all factor rows in ONE
        // job. hits is the last eager corpus-dependent frame.
        recallCounts(brute, "h_stale" -> arm("stale"), "h_fresh" -> arm("fresh"))
          .select(lit(f.toLong).as("append_factor"),
            lit(nb).as("n_base"),
            lit(n).as("n_corpus"),
            ppm("h_stale").as("recall_stale_ppm"),
            ppm("h_fresh").as("recall_fresh_ppm"),
            (ppm("h_fresh") - ppm("h_stale")).as("drift_ppm"))
    }
  }

  /** Append-drift audit for the PRODUCTION retrieval stack (r14 verdict
    * task 8): [[graphAppendDrift]] measures the stale-index rebuild
    * threshold for the plain k-beam tier, but what ships is the
    * two-stage stack ([[graphTopKRescored]]: 20-wide beam shortlist →
    * exact rescore). This audit composes the two findings: per growth
    * factor, the base-1/11 graph plus attach-only delta edges (exactly
    * what repeated appends produce) is beam-searched at `shortlist`
    * width under the GROWN corpus's contract knobs, and recall@k vs
    * full-precision brute is reported for BOTH faces from the one
    * chain — the plain top-k (shortlist rank ≤ k: the k-beam filter and
    * the shortlist share the round-4 ranking, so one search serves
    * both) and the exact-rescored top-k. rescore_lift_ppm =
    * rescored − plain is how much of the stale index's recall loss the
    * rescore stage buys back — the number that decides whether the
    * rebuild threshold for the production stack differs from the plain
    * tier's. Same factor-shared work as [[graphAppendDrift]]
    * ([[appendAuditPrelude]]) and the same factor sweep.
    */
  def graphTopKRescoredDrift(embeddings: DataFrame,
                             factors: Seq[Int] = Seq(5, 10),
                             nQueries: Int = 10, k: Int = 5,
                             shortlist: Int = 20,
                             prebuiltBase: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k = $k")
    val (nb, graphK, baseSym, queries, scoredAll) =
      appendAuditPrelude(embeddings, factors, nQueries, prebuiltBase)
    factorSweep(factors, f => embeddings.filter(col("vec_id") < nb * (1 + f))) {
      (f, corpus) =>
        val n = nb * (1 + f)
        val (beam, rounds, _, seeds) = graphKnobs(n)
        val stale = baseSym
          .unionByName(knnGraphAttach(corpus, nb, nb, graphK)).distinct()
        // brute ground truth via the bounded topKSelect aggregation (r17):
        // same (score desc, vec_id asc) contract as the old row_number
        // window, no map-side sort of every scored pair
        val brute = topKSelect(scoredAll.filter(col("vec_id") < n), Seq("q_id"), k)
          .select(col("q_id"), col("vec_id"))
        val sl = graphAnnTopKOver(corpus, stale, nQueries, shortlist, beam, rounds, seeds)
          .localCheckpoint()
        // LAZY row (r17): sl is checkpointed and brute reads the
        // checkpointed scoredAll; the rescore re-reads the (registry-persisted)
        // embeddings slice — so a per-factor row checkpoint would be one
        // more driver barrier per factor, and the caller's single
        // consuming action computes both factor rows in one job
        recallCounts(brute, "h_plain" -> sl.filter(col("rank") <= k),
          "h_resc" -> exactRescore(sl, corpus, queries, k))
          .select(lit(f.toLong).as("append_factor"),
            lit(nb).as("n_base"),
            lit(n).as("n_corpus"),
            ppm("h_plain").as("recall_stale_plain_ppm"),
            ppm("h_resc").as("recall_stale_rescored_ppm"),
            (ppm("h_resc") - ppm("h_plain")).as("rescore_lift_ppm"))
    }
  }

  /** LOCAL repair of a graph index after deletes — the third policy
    * between tombstone routing and a full rebuild, and the one real HNSW
    * deployments apply at compaction: for every deleted waypoint d,
    * bridge its alive in-neighbors to its alive out-neighbors (a → d → b
    * becomes a → b), keep each source's best `bridgeK` bridges by exact
    * cosine, and add them (symmetrized) to the surviving edges. Strictly
    * additive — surviving edges are never re-selected, so the repair
    * touches only the delete neighborhoods — and delta-bounded: bridge
    * candidate volume is Σ_d deg_in(d)·deg_out(d) = O(|deleted|·graphK²),
    * one per-source window, never a corpus-scale rebuild.
    */
  def graphDeleteRepair(embeddings: DataFrame, edges: DataFrame,
                        deleted: DataFrame, bridgeK: Int = 4): DataFrame = {
    val del = deleted.select(col("vec_id"))
    val surviving = edges
      .join(del.select(col("vec_id").as("src")), Seq("src"), "left_anti")
      .join(del.select(col("vec_id").as("dst")), Seq("dst"), "left_anti")
      .select(col("src"), col("dst"))
    val inA = edges
      .join(del.select(col("vec_id").as("dst")), Seq("dst"))
      .join(del.select(col("vec_id").as("src")), Seq("src"), "left_anti")
      .select(col("src").as("a"), col("dst").as("d"))
    val outB = edges
      .join(del.select(col("vec_id").as("src")), Seq("src"))
      .join(del.select(col("vec_id").as("dst")), Seq("dst"), "left_anti")
      .select(col("src").as("d"), col("dst").as("b"))
    // DISTINCT before the window: two deleted waypoints can yield the
    // same (a, b) pair, and duplicate rows under a (score, dst) ordering
    // tie nondeterministically — dedup makes the rank well-defined
    val cand = inA.join(outB, Seq("d"))
      .filter(col("a") =!= col("b"))
      .select(col("a").as("src"), col("b").as("dst"))
      .distinct()
    // bounded keep-best (r17, guide §2.3): same contract as the old
    // row_number window (score desc, dst asc), no sort of the bridge
    // candidate stream; candidates are distinct so ties are impossible
    val scoredBridges = cand
      .join(embeddings.select(col("vec_id").as("src"), col("embedding").as("s_emb")),
        Seq("src"))
      .join(embeddings.select(col("vec_id").as("dst"), col("embedding").as("d_emb")),
        Seq("dst"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("s_emb"), col("d_emb")), 6))
      .select(col("src"), col("dst").as("vec_id"), col("score"))
    val top = topKSelect(scoredBridges, Seq("src"), bridgeK)
      .select(col("src"), col("vec_id").as("dst"))
    surviving
      .unionByName(top)
      .unionByName(top.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** DELETE-drift audit for the graph index — the tombstone problem, the
    * other half of the index-maintenance story next to the append-drift
    * family: vectors leave a 100 TB corpus too (takedowns, dedup
    * rewrites, retention), and a graph index degrades under deletion in
    * a mode appends never trigger — removing a node's EDGES fragments
    * the navigable graph, because deleted hubs were load-bearing routing
    * waypoints. Per deleted fraction (delTenths/10 of the corpus, query
    * vectors always kept), three serving policies against brute over
    * the SURVIVORS:
    *
    *  - `tomb` (tombstone/route-through, what HNSW deployments ship):
    *    the index keeps every edge; deleted nodes still ROUTE the beam
    *    but are excluded from the final ranking;
    *  - `hard` (edge prune, the tempting "clean" fix): every edge
    *    touching a deleted node is dropped, no rewiring — connectivity
    *    pays;
    *  - `repair` ([[graphDeleteRepair]]): the hard prune plus local
    *    bridges around each deleted waypoint.
    *
    * `routing_gain_ppm` = tomb − hard is the measured value of letting
    * tombstones route; `repair_gain_ppm` = repair − hard is what the local
    * repair buys back. The rebuild policy reads `recall_tomb_ppm`
    * against the scale contract's 0.90 floor — a fresh rebuild on the
    * survivors is the contract tier itself (gated at all SFs), so no
    * rebuild arm is burned here. ONE descent build (the index predates
    * the deletes, fraction-independent) and ONE (1 + 2·|tenths|)-arm beam
    * chain serve every reading: the arms are `full`, then `hard$f` and
    * `repair$f` per fraction. The tomb readings of all fractions share
    * the `full` arm — only the exclusion at the final window differs —
    * and each hard or repair arm is the same chain over its own edges.
    * Entry seeds are drawn from the full corpus in EVERY arm (the seed
    * list is part of the stale index too); a deleted seed routes in the
    * tomb arm, expands nothing in a hard arm (its edges are gone), and
    * is never returned anywhere. The fractions share one keyed chain, so
    * this audit needs no [[factorSweep]]; it shares only the recall rule.
    */
  def graphDeleteDrift(embeddings: DataFrame, delTenths: Seq[Int] = Seq(1, 2, 4),
                       nQueries: Int = 10, k: Int = 5,
                       prebuiltEdges: Option[DataFrame] = None): DataFrame = {
    val n = embeddings.count()
    val (beam, rounds, graphK, seeds) = graphKnobs(n)
    // "the index that predates the deletes" IS the persisted graph index
    // when the caller has one — passing its edges skips a per-call
    // descent rebuild (stored ≡ inline is hash-proven by
    // cosine_topk_graph_stored's shared oracle); the default still
    // builds inline for standalone callers and specs. The supplied frame
    // is symmetrized defensively (r15 ADVICE): the in/out bridge
    // derivation and the hard prune both assume a symmetric edge set, and
    // symmetrize is idempotent on one — so the registered caller's plan
    // gains only a distinct over its already-symmetric index, while a caller
    // passing a DIRECTED edge list now gets correct readings instead of
    // silently skewed ones.
    val full = prebuiltEdges
      .map(e => symmetrize(e.select(col("src"), col("dst"))).localCheckpoint())
      .getOrElse(symmetrize(knnGraphDescent(embeddings, graphK, knownN = Some(n)))
        .localCheckpoint())
    def aliveOn(c: String, f: Int): Column =
      col(c) < nQueries || col(c) % 10 >= f
    val arms = ("full" -> full) +: delTenths.flatMap { f =>
      val hard = full.filter(aliveOn("src", f) && aliveOn("dst", f))
      val repaired = graphDeleteRepair(embeddings, full,
        embeddings.filter(!aliveOn("vec_id", f)).select(col("vec_id")))
      Seq(s"hard$f" -> hard, s"repair$f" -> repaired)
    }
    val vis = graphAnnSearchArmsVisited(embeddings, arms, nQueries, beam,
      rounds, seeds).localCheckpoint()
    val queries = queriesOf(embeddings, nQueries)
    val scoredAll = embeddings.select(col("vec_id"), col("embedding"))
      .join(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4)
          .as("score"))
      .localCheckpoint()
    val rows = delTenths.map { f =>
      val aliveV = aliveOn("vec_id", f)
      // brute ground truth via the bounded topKSelect aggregation (r17,
      // guide §2.3): same (score desc, vec_id asc) contract as the old
      // row_number window, no map-side sort of every scored pair. The
      // arm windows below stay: their input is the visited set (beam-
      // bounded by construction), not a corpus-scale scored stream.
      val brute = topKSelect(scoredAll.filter(aliveV), Seq("q_id"), k)
        .select(col("q_id"), col("vec_id"))
      def armTop(arm: String): DataFrame =
        topKVisited(vis.filter(col("arm") === arm).drop("arm").filter(aliveV),
          Seq("q_id"), k)
      val nAlive = embeddings
        .agg(sum(when(aliveV, 1L).otherwise(0L)).as("n_alive"))
      // LAZY per-fraction rows (r17): everything they read (vis,
      // scoredAll) is checkpointed and embeddings is the caller's
      // persisted frame, so the old per-fraction row checkpoints were
      // three more driver-barrier jobs — the caller's single consuming
      // action computes all fraction rows in one job
      recallCounts(brute, "h_tomb" -> armTop("full"),
          "h_hard" -> armTop(s"hard$f"), "h_rep" -> armTop(s"repair$f"))
        .crossJoin(broadcast(nAlive))
        .select(lit(f.toLong * 10L).as("del_pct"),
          col("n_alive"),
          ppm("h_tomb").as("recall_tomb_ppm"),
          ppm("h_hard").as("recall_hard_ppm"),
          ppm("h_rep").as("recall_repair_ppm"),
          (ppm("h_tomb") - ppm("h_hard")).as("routing_gain_ppm"),
          (ppm("h_rep") - ppm("h_hard")).as("repair_gain_ppm"))
    }
    rows.reduce(_.unionAll(_))
  }

  /** Two-stage GRAPH retrieval: beam-search shortlist, exact rescore —
    * [[pqTopKRescored]]'s composition applied to the graph tier (r13
    * verdict task 7), the production-shaped stack (graph recall + exact
    * precision) as one call. Stage 1 widens the beam output to
    * `shortlist` candidates per query under the scale-contract knobs;
    * stage 2 recomputes exact round-4 cosine for shortlist × queries rows
    * only and re-ranks the top k — the final ordering is full-precision
    * regardless of the beam's round-6 visit scoring, and a wider
    * shortlist strictly widens the recall envelope (the GraphAnnGateSpec
    * pin: rescored recall@k ≥ the plain k-beam tier's). Output schema
    * matches [[cosineTopK]], directly comparable against brute.
    */
  def graphTopKRescored(embeddings: DataFrame, nQueries: Int, k: Int,
                        shortlist: Int = 20): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k = $k")
    exactRescore(graphAnnTopK(embeddings, nQueries, shortlist), embeddings,
      queriesOf(embeddings, nQueries), k)
  }

  /** [[graphTopKRescored]] riding the persisted index: beam shortlist
    * from the stored edges+vectors (knobs re-derived from the stored
    * count), exact rescore against the stored vectors — the production
    * read path: build once per corpus snapshot, every query batch pays
    * beam + shortlist-rescore only. Bit-identical to the inline
    * composition (the stored build IS the inline build —
    * `cosine_topk_graph_stored` shares the inline tier's oracle
    * verbatim), so this face shares `graph_topk_rescored`'s oracle too;
    * the fresh-build chain stays oracled via `cosine_topk_graph` and
    * recall-gated at all three SFs in GraphAnnGateSpec.
    */
  def graphTopKRescoredFromIndex(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, nQueries: Int, k: Int,
                                 shortlist: Int = 20): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k = $k")
    val vectors = spark.read.parquet(s"$dir/vectors")
    exactRescore(graphAnnTopKFromIndex(spark, dir, nQueries, shortlist), vectors,
      queriesOf(vectors, nQueries), k)
  }

  /** Beam search over a caller-supplied symmetrized edge set — the public
    * face of the search half, for custom graph builds, and the one-arm
    * call every single-graph tier makes: (q_id, vec_id, score, rank).
    * The chain materializes `edges` once, so callers do not checkpoint it.
    */
  def graphAnnTopKOver(embeddings: DataFrame, edges: DataFrame, nQueries: Int,
                       k: Int, beam: Int, rounds: Int, entrySeeds: Int): DataFrame =
    topKVisited(graphAnnSearchArmsVisited(embeddings, Seq("" -> edges), nQueries, beam,
      rounds, entrySeeds).drop("arm"), Seq("q_id"), k)

  /** Greedy BEAM SEARCH over one or more symmetrized kNN graphs (the
    * HNSW/NSW recall path, DataFrame-native) instead of pointer chasing,
    * every frame keyed by an extra `arm` column naming the graph. Per
    * round, the current top-`beam` candidates of every (arm, query)
    * expand through ONE equi-join on the graph's (arm, src) key, newly
    * reached nodes score against their query (broadcast query set), and
    * the beam re-selects from everything visited. Termination mimics
    * HNSW's: when the beam stops producing unvisited neighbors the
    * frontier fixes itself. Deterministic end to end (round-6 scores,
    * node tiebreaks, the visited set keyed by (arm, q_id, node)); every
    * round localCheckpoints (multi-reference loop rule). Per round the
    * work is |arms|·|queries|·beam·graphK candidate rows — independent
    * of corpus size once the graph is built.
    *
    * Arms share corpus, queries and knobs and differ only in the graph,
    * so one keyed chain costs one set of per-round jobs/checkpoints
    * instead of one per arm; every window partitions by (arm, q_id), so
    * each arm's output is exactly what a one-arm call over its graph
    * returns (same scores, same tie-breaks). An arm with no edges returns
    * its scored entry seeds.
    */
  private[graft] def graphAnnSearchArms(embeddings: DataFrame,
                                        graphs: Seq[(String, DataFrame)],
                                        nQueries: Int, k: Int, beam: Int,
                                        rounds: Int, entrySeeds: Int): DataFrame =
    topKVisited(graphAnnSearchArmsVisited(embeddings, graphs, nQueries, beam, rounds,
      entrySeeds), Seq("arm", "q_id"), k)

  /** The beam chain's final cut: the top k visited nodes of each `keys`
    * group, (q_id) for one graph and (arm, q_id) for several, with their
    * rank. The ranking (and thus any shortlist boundary a two-stage
    * caller like graphTopKRescored cuts at) is on the ROUND-4 score with
    * vec_id tie-break: the visited frame's `score` is already
    * round(score, 4), NOT the round-6 beam score. This matches the
    * oracle's gtop CTE (round(score, 4) before its window) exactly, so a
    * round-4 tie at the boundary admits the same candidates in both
    * engines (pinned by GraphAnnGateSpec's round-4 boundary spec). A
    * one-graph window partitions by q_id alone, so a shortlist keeps the
    * partitioning its rescore window needs.
    */
  private def topKVisited(visited: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    val wk = Window.partitionBy(keys.map(col): _*).orderBy(col("score").desc, col("vec_id"))
    visited.withColumn("rank", row_number().over(wk)).filter(col("rank") <= k)
  }

  /** The arms chain WITHOUT the final top-k cut: every visited node per
    * (arm, query) with its round-4 score. Every ranked face is this frame
    * cut by [[topKVisited]]; the delete-drift audit applies its own
    * exclusion before the cut.
    */
  private def graphAnnSearchArmsVisited(embeddings: DataFrame,
                                        graphs: Seq[(String, DataFrame)],
                                        nQueries: Int, beam: Int, rounds: Int,
                                        entrySeeds: Int): DataFrame = {
    // ONE materialization of every arm's edge set (r17): the union graph
    // is consumed by the expand join in EVERY round, and without its own
    // checkpoint each round's job recomputed every arm's derivation —
    // for the delete audit that meant re-running all per-fraction repair
    // windows rounds× (guide §5: cache/checkpoint what is reused), and a
    // stored index would re-scan its edge files every round. Callers do not
    // checkpoint their edge sets; this single job replaces one per arm.
    val graph = graphs.map { case (a, g) =>
      g.select(lit(a).as("arm"), col("src"), col("dst"))
    }.reduce(_ unionByName _).localCheckpoint()
    val queries = queriesOf(embeddings, nQueries)
    def scored(cand: DataFrame): DataFrame = cand
      .join(embeddings.select(col("vec_id").as("node"), col("embedding").as("n_emb")),
        Seq("node"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("n_emb"), col("q_emb")), 6))
      .select(col("arm"), col("q_id"), col("node"), col("score"))
    val seedPairs = embeddings.filter(col("vec_id") < entrySeeds)
      .select(col("vec_id").as("node"))
      .crossJoin(broadcast(queries.select(col("q_id"))))
      .filter(col("node") =!= col("q_id"))
    // every arm enters at the same seeds: one row per (arm, seed pair),
    // generated in place from the arm names (no join, no extra scan)
    val entry = seedPairs.withColumn("arm", explode(typedLit(graphs.map(_._1))))
    var visited = scored(entry).localCheckpoint()
    val wb = Window.partitionBy("arm", "q_id").orderBy(col("score").desc, col("node"))
    // `visited` keeps its per-round checkpoint (3 consumers per round:
    // the anti-join, the union, the beam window). `frontier` is a pure
    // window over the just-checkpointed `visited` with ONE consumer (the
    // next round's expand join), so its checkpoint was a driver-barrier
    // job computing nothing the expand job wouldn't — same
    // projection-lineage argument as the r16 HITS cut (guide §5); and
    // the final round's frontier was never consumed at all.
    def beamOf(vis: DataFrame): DataFrame = vis
      .withColumn("rnk", row_number().over(wb))
      .filter(col("rnk") <= beam).select(col("arm"), col("q_id"), col("node"))
    var frontier = beamOf(visited)
    for (r <- 1 to rounds) {
      val expand = frontier
        .join(graph.select(col("arm"), col("src").as("node"), col("dst")),
          Seq("arm", "node"))
        .select(col("arm"), col("q_id"), col("dst").as("node"))
        .filter(col("node") =!= col("q_id"))
        .distinct()
        .join(visited.select(col("arm"), col("q_id"), col("node")),
          Seq("arm", "q_id", "node"), "left_anti")
      visited = visited.unionByName(scored(expand)).localCheckpoint()
      if (r < rounds) frontier = beamOf(visited)
    }
    // round-4 output scores (see topKVisited on the ranking)
    visited
      .select(col("arm"), col("q_id"), col("node").as("vec_id"),
        round(col("score"), 4).as("score"))
  }

  /** Query-side probe set: the query's own bucket plus (with multiProbe)
    * every bucket at Hamming distance 1 — the standard multi-probe LSH
    * recall recovery. A corpus vector lives in exactly one bucket, so the
    * probe equi-join yields each candidate at most once (no dedup pass).
    */
  def lshProbeBuckets(bucket: Column, nBits: Int, multiProbe: Boolean): Column =
    if (!multiProbe) array(bucket)
    else array(bucket +: (0 until nBits).map(j => bucket.bitwiseXOR(lit(1 << j))): _*)

  /** LSH-bucketed ANN: both sides bucketed, candidates joined on bucket —
    * the shuffle distributes by bucket so no executor scores the full
    * corpus. Recall < 1 by construction (ANN).
    *
    * Defaults (nBits = 4, multiProbe on) are tuned for corpora WITHOUT
    * strong coordinate clustering: sign-bit collision probability for a
    * neighbor at angle θ is (1 − θ/π) per bit, so recall ≈ p^nBits +
    * nBits·p^(nBits−1)(1−p) with distance-1 probes — measured by the
    * `ann_recall` query (isotropic fixture: ≈0.02 at 8 bits single-probe
    * vs ≈0.5 at 4 bits multi-probe scoring ~30% of the corpus). On such
    * data the Lloyd-trained IVF tier is the better adaptive path; sign-LSH
    * shines when near-dups are near-identical (see embeddingDupPairsLsh).
    */
  def lshBucketedTopK(embeddings: DataFrame, nQueries: Int, k: Int, nBits: Int = 4,
                      multiProbe: Boolean = true): DataFrame = {
    val bucketed = embeddings.withColumn("bucket", lshBucket(col("embedding"), nBits))
    val corpus = bucketed.select(col("bucket"), col("vec_id"), col("embedding"))
    val queries = bucketed
      .filter(col("vec_id") < nQueries)
      .select(
        explode(lshProbeBuckets(col("bucket"), nBits, multiProbe)).as("bucket"),
        col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = corpus
      .join(queries, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4))
    // bounded keep-best (r17, guide §2.3): the bucket candidate stream is
    // a corpus fraction (~30% multi-probe), the old window sorted it all
    // map-side; same contract, each (q_id, vec_id) occurs at most once
    topKSelect(scored.select(col("q_id"), col("vec_id"), col("score")),
      Seq("q_id"), k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then within each
    * cluster drop every vector that has a semantically-near neighbor
    * (cosine ≥ threshold) with a smaller vec_id — one survivor per ε-ball,
    * min-id kept. The clustering IS the 100 TB shape: pairwise scoring
    * happens only inside a cluster, so candidate generation is an
    * equi-join on centroid_id (expected n²/k work, shuffle partitioned by
    * cluster) instead of an all-pairs cross join — exactly the paper's
    * reason for clustering first. The keep rule is SemDeDup's LOCAL
    * per-cluster policy (a vector survives iff no smaller-id in-cluster
    * neighbor within ε), not a transitive closure — embarrassingly
    * parallel, and replayable in SQL for the oracle. Scores round at 6
    * before the threshold so an engine ulp cannot flip membership.
    * Swap `ivfTrainCentroids` in for `seedCentroids` via `ivfAssignWith`
    * when trained geometry matters; the dedup plumbing is identical.
    */
  def semanticDedup(embeddings: DataFrame, nClusters: Int,
                    threshold: Double): DataFrame = {
    val assigned = ivfAssign(embeddings, nClusters)
    val right = assigned.select(col("centroid_id"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val dropped = assigned.select(col("centroid_id"), col("vec_id"), col("embedding"))
      .join(right, Seq("centroid_id"))
      .filter(col("vec_b") < col("vec_id"))
      .filter(round(graft.functions.GraftFunctions.cosineSim(
        col("embedding"), col("emb_b")), 6) >= threshold)
      .select(col("vec_id"))
      .distinct()
    assigned
      .join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("centroid_id").as("cluster_id"))
  }

  /** Cluster-proportional diversity sample: a deterministic coreset that
    * preserves the embedding-space shape. Uniform hash sampling keeps the
    * corpus' mode collapse (dominant clusters stay dominant and tiny modes
    * vanish); sampling a per-cluster quota of ceil(pct% of the cluster)
    * guarantees every mode survives (quota >= 1) while large clusters are
    * thinned proportionally — the standard curation move before expensive
    * per-doc scoring. Selection order inside a cluster is the portable md5
    * hash (vec_id tiebreak), so the picked set is engine/retry/partition
    * invariant and replayable. The quota is pure integer arithmetic
    * ((n*pct + 99) div 100) — no float rounding to diverge between engines.
    * Scale shape: one broadcast-assign pass + one window partitioned by
    * centroid_id. Cluster counts ride in the same window (count over the
    * partition), so there is exactly ONE shuffle keyed by centroid; skew =
    * largest cluster, bounded by training balance (see ivfTrainCentroids).
    */
  def diversitySample(embeddings: DataFrame, nCentroids: Int = 16,
                      pct: Int = 25): DataFrame = {
    val assigned = ivfAssign(embeddings, nCentroids)
      .select(col("vec_id"), col("centroid_id"))
    val wAll = Window.partitionBy("centroid_id")
    val wPick = Window.partitionBy("centroid_id").orderBy(
      expr("cast(conv(substr(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint)"),
      col("vec_id"))
    assigned
      .withColumn("cluster_n", count(lit(1)).over(wAll))
      .withColumn("pick_rank", row_number().over(wPick))
      .filter(col("pick_rank") <=
        greatest(lit(1L), expr(s"(cluster_n * $pct + 99) div 100")))
      .select(col("vec_id"), col("centroid_id"), col("pick_rank"))
  }

  // ---- Product quantization (PQ) — the 100 TB memory-wall tier ----
  //
  // int8 cuts vector memory 4x; PQ cuts it dim*4 / m bytes — here 64 dims
  // of float32 (256 B) become m=4 one-byte codes: 64x. The corpus-side
  // scoring pass touches ONLY the code table + a per-query lookup table of
  // m*k partial dot products (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011 — public method, re-expressed as
  // DataFrame ops). Everything that sums ACROSS rows is quantized to
  // 1e-6-scaled BIGINTs first (the tfidf_topk_sim discipline), so scores
  // are integer-exact and partition-order-free; only within-row folds
  // (left-to-right, deterministic) stay in doubles.

  /** Per-(vec, subspace) slice of the embedding, widened to double. */
  private def pqSlices(embeddings: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sub = dim / m
    embeddings.select(col("vec_id"),
      explode(expr(
        s"""transform(sequence(0, ${m - 1}), s -> named_struct(
           |  'sub', s,
           |  'v_sub', transform(slice(embedding, s * $sub + 1, $sub),
           |                     x -> cast(x as double))))""".stripMargin)).as("sl"))
      .select(col("vec_id"), col("sl.sub").as("sub"), col("sl.v_sub").as("v_sub"))
  }

  /** Seeded PQ codebook: per subspace, the sub-slices of the first kCodes
    * vectors (vec_id < kCodes) are the codewords — the same deterministic
    * seeding as `seedCentroids`, so training is replayable. m*kCodes rows
    * total: always broadcast-sized. A Lloyd refinement per subspace would
    * reuse `ivfTrainCentroids`' assign→mean loop verbatim on each slice.
    */
  def pqCodebook(embeddings: DataFrame, m: Int = 4, kCodes: Int = 16,
                 dim: Int = 64): DataFrame =
    pqSlices(embeddings.filter(col("vec_id") < kCodes), m, dim)
      .select(col("sub"), col("vec_id").as("code_id"), col("v_sub").as("c_sub"))

  /** SQL spelling of the PQ slice distance — kept as the cross-check
    * oracle for the native `l2_dist` expression that replaced it on the
    * hot path (PropertySpec asserts bit-equality; SCALE.md r8 has the
    * measured win: the interpreted fold made PQ encode super-linear).
    */
  private[graft] val pqDistExpr =
    "sqrt(aggregate(zip_with(v_sub, c_sub, (x, y) -> (x - y) * (x - y)), " +
      "0D, (a, v) -> a + v))"

  private def pqDist = round(
    graft.functions.GraftFunctions.l2Dist(col("v_sub"), col("c_sub")), 6)

  /** PQ encoding against an arbitrary (sub, code_id, c_sub) codebook:
    * each (vector, subspace) maps to its nearest codeword by rounded L2
    * distance (code_id tiebreak). The argmin is a partial-aggregated
    * min(struct(dist, code_id)) — map-side combine collapses the
    * m*kCodes candidate rows to one per (vec, sub) BEFORE the shuffle,
    * unlike a row_number window which would sort the full candidate set.
    * Output is the whole at-rest representation: n*m (vec_id, sub,
    * code_id) rows ≈ m bytes per vector after dictionary encoding.
    */
  def pqCodesWith(embeddings: DataFrame, codebook: DataFrame, m: Int = 4,
                  dim: Int = 64): DataFrame =
    pqSlices(embeddings, m, dim)
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("dist", pqDist)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("dist"), col("code_id"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code_id").as("code_id"))

  def pqCodes(embeddings: DataFrame, m: Int = 4, kCodes: Int = 16,
              dim: Int = 64): DataFrame =
    pqCodesWith(embeddings, pqCodebook(embeddings, m, kCodes, dim), m, dim)

  /** Per-subspace Lloyd refinement of the PQ codebooks — `ivfTrainCentroids`
    * applied independently in each of the m subspaces: assign every slice
    * to its nearest codeword, recompute each codeword as the per-dimension
    * mean of its members (round-6, so training is deterministic across
    * engines and partitionings), repeat. Each iteration is one broadcast
    * assignment pass + one (sub, code_id, pos) hash aggregate whose shuffle
    * is m*kCodes*subDim rows regardless of corpus size. A codeword whose
    * cell empties drops out (no re-seeding), identically in both engines.
    * The member slice rides INSIDE the argmin struct (dist + code_id are
    * unique per group, so the array never participates in the comparison) —
    * no second join to recover it. Cache lifecycle is CALLER-owned, as with
    * `ivfTrainCentroids`: the returned codebook is consumed 3× downstream.
    */
  def pqTrainCodebooks(embeddings: DataFrame, m: Int = 4, kCodes: Int = 16,
                       dim: Int = 64, iters: Int = 1): DataFrame = {
    var cb = pqCodebook(embeddings, m, kCodes, dim)
    val slices = pqSlices(embeddings, m, dim)
    for (_ <- 0 until iters) {
      cb = slices.join(broadcast(cb), Seq("sub"))
        .withColumn("dist", pqDist)
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("code_id"), col("v_sub"))).as("best"))
        .select(col("sub"), col("best.code_id").as("code_id"),
          posexplode(col("best.v_sub")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code_id"), col("pos"))
        .agg(avg(col("x")).as("mv"))
        .groupBy(col("sub"), col("code_id"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, mv))), p -> round(p.mv, 6))")
          .as("c_sub"))
    }
    // localCheckpoint, not persist: same executor-cached blocks, but the
    // Lloyd lineage is TRUNCATED — with persist, every downstream stage's
    // task binary still serializes the full training DAG (measured:
    // 2.1 MiB task binaries in the pq_trained/ivfpq benches)
    cb.localCheckpoint()
  }

  /** Asymmetric-distance ANN top-k over PQ codes: queries stay exact, the
    * corpus is its codes. Per query, a LUT of m*kCodes quantized partial
    * dots is broadcast; scoring is codes ⋈ LUT on (sub, code_id) + an
    * integer-exact per-(query, vec) sum — the corpus-side pass never
    * touches a float vector. Approx cosine = adc_dot / (|q| * |x̂|) with
    * |x̂| reconstructed from per-codeword squared norms (also integer-
    * summed). Round-6 score, vec_id tiebreak: deterministic ranking.
    */
  def pqTopK(embeddings: DataFrame, nQueries: Int, k: Int, m: Int = 4,
             kCodes: Int = 16, dim: Int = 64): DataFrame =
    pqTopKWith(embeddings, pqCodebook(embeddings, m, kCodes, dim),
      nQueries, k, m, dim)

  /** IVF-PQ: the composed ANN tier every large-scale vector store ships
    * (the FAISS `IVFx,PQy` shape) — the coarse quantizer prunes the
    * candidate set to the nProbe nearest inverted lists, and ADC scores
    * PQ codes ONLY for candidates inside those lists. The two halves are
    * exactly this engine's existing tiers (`ivfAssignWith` lists,
    * `pqCodesWith` + LUT scoring); the composition is one extra equi-join
    * (candidates ⋈ codes) placed BEFORE the LUT join, so the ADC
    * aggregate processes |lists probed| rows instead of |corpus|.
    *
    * At 100 TB this stacking is the whole game: IVF cuts the scored set
    * ~nCentroids/nProbe ×, PQ cuts bytes-per-scored-vector ~64× (m codes
    * vs dim floats), and both reductions multiply. Recall composes too
    * (list-miss × code-distortion) — gate it like `ann_recall_pq` when
    * tuning nProbe/m.
    */
  def ivfPqTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                nCentroids: Int = 16, nProbe: Int = 2,
                m: Int = 4, kCodes: Int = 16, dim: Int = 64): DataFrame = {
    val centroids = seedCentroids(embeddings, nCentroids)
    // ids-only argmin aggregate: the corpus assignment must not shuffle
    // embedding arrays through a window (measured: 34 s → the window's
    // wide-row sorts dominated the whole query at 200 k vectors)
    val assigned = ivfAssignIds(embeddings, centroids)
    val queries = queriesOf(embeddings, nQueries)
    val cands = nearestCentroids(queries, "q_id", "q_emb", centroids, nProbe)
      .join(assigned, Seq("centroid_id"))
      .select(col("q_id"), col("vec_id"))
    val cb = pqCodebook(embeddings, m, kCodes, dim)
    // codes feed BOTH the reconstruction norms and the candidate scoring —
    // persist or the encode pass (the corpus-scale work) runs twice
    // (cache lifecycle caller-owned, as everywhere in this engine)
    val codes = pqCodesWith(embeddings, cb, m, dim).persist()
    // candidate prune FIRST: the LUT join + ADC aggregate see only probed
    // lists, never the corpus
    adcTopK(cands.join(codes, Seq("vec_id"))
        .join(broadcast(pqLut(queries, cb, m, dim)), Seq("q_id", "sub", "code_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("pd_q")).as("dot_q"))
        .join(pqReconSq(codes, cb), Seq("vec_id")),
      queries, k)
  }

  /** Persist the composed IVF-PQ index: centroids + per-subspace codebook
    * (both KB-scale) and the corpus as (vec_id, centroid_id, sub,
    * code_id, recon_sq_q) — codes JOINED with their list assignment and
    * the precomputed reconstruction norm, partitioned by centroid_id for
    * file-level probe pruning. This banks the ~55% of per-batch IVF-PQ
    * cost that SCALE.md measured as index build (assignment + encode):
    * build once here, and every query batch through
    * `ivfPqTopKFromIndex` pays only probe selection + the LUT join + ADC
    * over the probed lists' code rows. Code rows are 5 small integers —
    * the at-rest index is a fraction of the float corpus, which is the
    * PQ memory story landing on disk (same motivation as
    * `writeIvfIndexInt8`, compounded).
    */
  def writeIvfPqIndex(embeddings: DataFrame, dir: String,
                      nCentroids: Int = 16, m: Int = 4, kCodes: Int = 16,
                      dim: Int = 64): Unit = {
    val centroids = seedCentroids(embeddings, nCentroids)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    val cb = pqCodebook(embeddings, m, kCodes, dim)
    cb.write.mode("overwrite").parquet(s"$dir/codebook")
    val codes = pqCodesWith(embeddings, cb, m, dim).persist()
    try codes
        .join(ivfAssignIds(embeddings, centroids), Seq("vec_id"))
        .join(pqReconSq(codes, cb), Seq("vec_id"))
        .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/codes")
    finally codes.unpersist() // failure paths must not leak cached blocks (r7 advice)
  }

  /** Query batch against a persisted IVF-PQ index: probe + LUT + ADC
    * only — no assignment, no encode (plan-asserted in the spec). The
    * queries frame must carry (q_id, q_emb).
    */
  def ivfPqTopKFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                         queries: DataFrame, k: Int, nProbe: Int = 2,
                         m: Int = 4, dim: Int = 64): DataFrame = {
    val cb = spark.read.parquet(s"$dir/codebook")
    // the probed code-row stream is corpus-scale: the bounded ADC
    // selection never sorts it
    adcTopK(
      nearestCentroids(queries, "q_id", "q_emb", spark.read.parquet(s"$dir/centroids"), nProbe)
        .join(spark.read.parquet(s"$dir/codes"), Seq("centroid_id"))
        .join(broadcast(pqLut(queries, cb, m, dim)), Seq("q_id", "sub", "code_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("pd_q")).as("dot_q"), first(col("recon_sq_q")).as("recon_sq_q")),
      queries, k)
  }

  /** ADC top-k against an arbitrary codebook (seeded or Lloyd-trained). */
  def pqTopKWith(embeddings: DataFrame, cb: DataFrame, nQueries: Int,
                 k: Int, m: Int = 4, dim: Int = 64): DataFrame = {
    val codes = pqCodesWith(embeddings, cb, m, dim)
    val queries = queriesOf(embeddings, nQueries)
    // plain PQ scores the WHOLE corpus from codes (no coarse prune — that
    // is ivfPqTopK's job), so its selection must be the bounded
    // aggregation, not a per-q_id corpus-wide window (r16: same shape fix
    // as the binary/int8 tiers)
    adcTopK(codes.join(broadcast(pqLut(queries, cb, m, dim)), Seq("sub", "code_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("pd_q")).as("dot_q"))
        .join(pqReconSq(codes, cb), Seq("vec_id")),
      queries, k)
  }

  /** Per-vector squared norm of the PQ reconstruction x̂, integer-exact:
    * (vec_id, recon_sq_q) = Σ over the vector's codes of round(|c|²·1e6).
    */
  private def pqReconSq(codes: DataFrame, cb: DataFrame): DataFrame = {
    val cbSq = cb.withColumn("c_sq_q",
      expr("cast(round(aggregate(c_sub, 0D, (a, x) -> a + x * x) * 1000000) as bigint)"))
      .select(col("sub"), col("code_id"), col("c_sq_q"))
    codes.join(broadcast(cbSq), Seq("sub", "code_id"))
      .groupBy(col("vec_id")).agg(sum(col("c_sq_q")).as("recon_sq_q"))
  }

  /** The per-query lookup table of m·kCodes quantized partial dots:
    * (q_id, sub, code_id, pd_q) = round(q_sub · c_sub · 1e6) for every
    * (q_id, q_emb) query slice and codeword.
    */
  private def pqLut(queries: DataFrame, cb: DataFrame, m: Int, dim: Int): DataFrame =
    pqSlices(queries.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")), m, dim)
      .select(col("vec_id").as("q_id"), col("sub"), col("v_sub").as("q_sub"))
      .join(cb, Seq("sub"))
      .withColumn("pd_q",
        expr("cast(round(aggregate(zip_with(q_sub, c_sub, (x, y) -> x * y), " +
          "0D, (a, v) -> a + v) * 1000000) as bigint)"))
      .select(col("q_id"), col("sub"), col("code_id"), col("pd_q"))

  /** The ADC score and selection of every PQ tier, over (q_id, vec_id,
    * dot_q, recon_sq_q) rows: approx cosine = adc_dot / (|q|·|x̂|),
    * round-6, self excluded, then the bounded [[topKSelect]] (score desc,
    * vec_id) — the corpus-scale scored stream is never sorted.
    */
  private def adcTopK(dots: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qNorm = queries.select(col("q_id"),
      expr("sqrt(aggregate(q_emb, 0D, (a, x) -> a + cast(x as double) * cast(x as double)))")
        .as("q_norm"))
    topKSelect(
      dots.join(broadcast(qNorm), Seq("q_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("score", round(
          (col("dot_q") / lit(1000000.0d)) /
            (col("q_norm") * sqrt(col("recon_sq_q") / lit(1000000.0d))), 6))
        .select(col("q_id"), col("vec_id"), col("score")),
      Seq("q_id"), k)
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF) of the lexical BM25
    * shortlist and the embedding cosine shortlist for one query —
    * `score = Σ_lists 1/(k0 + rank)`, the fusion every production search
    * stack converged on because it needs no score calibration between
    * heterogeneous retrievers. Emitted in integer micros
    * (`1e6 div (k0 + rank)`) so the fused score is exact in any engine.
    *
    * Scale shape: both inputs are already top-k shortlists — O(k) rows
    * regardless of corpus size — so the fusion itself is a join of two
    * driver-tiny frames; ALL the heavy lifting lives in the retrieval
    * tiers, each separately measured (BM25's term-filtered Generate, the
    * ANN ladder). The cosine arm here is the brute tier for oracle
    * exactness; any ANN tier (IVF-PQ stored index included) drops in —
    * the fusion only consumes (doc_id, rank).
    */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
                kTop: Int = 20, rrfK: Int = 60): DataFrame = {
    // pmod keeps an attribute in the partition spec (constant-fold-proof,
    // the skew_profile lesson); the frame is the post-limit k-row list
    val lexW = Window.partitionBy(pmod(col("doc_id"), lit(1)))
      .orderBy(col("bm25").desc, col("doc_id"))
    val lex = TextOps.bm25TopK(documents, kTop = kTop)
      .select(col("doc_id"), row_number().over(lexW).as("lex_rank"))
    val sem = cosineTopK(embeddings, 1, kTop)
      .select(col("vec_id").as("doc_id"), col("rank").as("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        (coalesce(expr(s"1000000L div (${rrfK}L + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000L div (${rrfK}L + sem_rank)"), lit(0L)))
          .as("rrf_micros"))
  }

  /** SEMANTIC contamination screen — the embedding-level sibling of the
    * n-gram `contaminationScreen`: paraphrased or lightly-rewritten eval
    * material shares no 8-gram with its source, but its embedding still
    * sits next to it. Every held-out vector (vec_id ≡ 0 mod 10, the
    * fixture's eval split) is scored against the ENTIRE training split
    * and reported with its nearest-training cosine and a flag at
    * `threshold` — the audit a benchmark-hygiene review reads before
    * trusting eval numbers. Brute per-eval max here (eval splits are
    * small — broadcast), the same scorer the ANN tiers share; at corpus
    * scale the max runs over an IVF shortlist exactly like `cosine_topk_
    * ivfpq` and the flag logic is unchanged.
    */
  def semanticContamination(embeddings: DataFrame, threshold: Double = 0.9): DataFrame = {
    val ev = embeddings.filter(pmod(col("vec_id"), lit(10L)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val train = embeddings.filter(pmod(col("vec_id"), lit(10L)) =!= 0)
      .select(col("vec_id"), col("embedding"))
    train.join(broadcast(ev))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4))
      .groupBy(col("q_id"))
      .agg(max(struct(col("score"), col("vec_id"))).as("m"))
      .select(col("q_id").as("eval_vec_id"),
        col("m.vec_id").as("nearest_train_id"),
        col("m.score").as("max_sim"),
        (col("m.score") >= threshold).as("contaminated"))
  }

  /** IVF list-balance audit — `lshBucketOccupancy`'s ANN sibling: per
    * inverted list, the member count and corpus share in ppm. nprobe
    * latency is bounded by the FATTEST probed list, so a skewed profile
    * here is the straggler before it happens (and the argument for
    * re-training centroids or splitting hot lists); a uniform profile is
    * what amortizes the claimed n/k scan. Uses the narrow id-only
    * assignment (`ivfAssignIds` — no embedding rides the shuffle).
    */
  def ivfClusterBalance(embeddings: DataFrame, nCentroids: Int = 16): DataFrame = {
    val asg = ivfAssignIds(embeddings, seedCentroids(embeddings, nCentroids))
    val sizes = asg.groupBy(col("centroid_id")).agg(count(lit(1)).as("n_vecs"))
    val tot = sizes.agg(sum(col("n_vecs")).as("n_all"))
    sizes.crossJoin(broadcast(tot))
      .select(col("centroid_id"), col("n_vecs"),
        expr("(cast(n_vecs as decimal(38,0)) * 1000000 + n_all div 2) div n_all").as("share_ppm"))
  }

  /** Simplified silhouette of the IVF partition (Hartigan's centroid
    * silhouette) — the cluster-quality gate next to [[ivfClusterBalance]]'s
    * size read: balance says the lists are evenly SIZED, this says the
    * vectors actually BELONG to their list. Per vector, with s1/s2 the
    * top-2 round-6 centroid cosine scores, the cosine-distance silhouette
    * collapses to (s1−s2)/(1−s2) — near 1 when the vector is decisively
    * closer to its own centroid, near 0 on the list boundary (exactly the
    * vectors nprobe > 1 exists to rescue, so a LOW mean here says raise
    * nprobe or retrain, the `ivf_nprobe_sweep` knob's quality side).
    *
    * Integer discipline: round-6 scores lifted to micros, the ratio in
    * half-up integer ppm, per-list mean DECIMAL(38,0)-widened (corpus-
    * scale sum of ppm values). Top-2 via sort_array over the collected
    * ≤nCentroids struct list (centroid-scale per vector, no window);
    * ties break to the smaller centroid_id, matching [[ivfAssignWith]].
    * One broadcast pass over the corpus — the assignment's cost shape.
    */
  def ivfSilhouette(embeddings: DataFrame, nCentroids: Int = 16): DataFrame = {
    require(nCentroids >= 2,
      s"silhouette needs a second-nearest centroid: nCentroids=$nCentroids")
    val cents = seedCentroids(embeddings, nCentroids)
    embeddings.join(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        expr("cast(-centroid_id as bigint)").as("ncid"),
        (round(graft.functions.GraftFunctions.cosineSim(
          col("embedding"), col("c_emb")), 6) * lit(1000000d)).as("s_d"))
      .select(col("vec_id"), col("ncid"),
        expr("cast(round(s_d) as bigint)").as("s_u"))
      .groupBy(col("vec_id"))
      .agg(expr("sort_array(collect_list(struct(s_u, ncid)), false)").as("cs"))
      // a degenerate seed table (<2 distinct seed vectors) yields one
      // centroid despite nCentroids>=2 — drop rather than emit NULL s2,
      // matching the oracle's rn=2 inner join
      .filter(expr("size(cs) >= 2"))
      .select(
        expr("-element_at(cs, 1).ncid").as("centroid_id"),
        expr("element_at(cs, 1).s_u").as("s1"),
        expr("element_at(cs, 2).s_u").as("s2"))
      .select(col("centroid_id"),
        expr("""if(1000000 - s2 = 0, 0L,
          |  ((s1 - s2) * 1000000 + (1000000 - s2) div 2) div (1000000 - s2))"""
          .stripMargin).as("sp"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("""cast((cast(sum(sp) as decimal(38,0)) + count(1) div 2)
          | div count(1) as bigint)""".stripMargin).as("mean_sil_ppm"))
  }

  /** Embedding-table health profile — the pre-flight read before ANY
    * similarity tier trusts the column: vector count, zero-vector count
    * (cosine is undefined on them — every ANN tier here silently drops
    * them, and this row is where that loss becomes visible), and the
    * norm distribution (min/avg/max). An unnormalized mixture (norms
    * spread over decades) breaks dot-product shortcuts and IVF balance;
    * this is the one-row audit that catches it. Same integer discipline
    * as `int8ReconError`: per-component x² quantized to an integer at
    * 1e-12 FIRST (exact sum in any order), ONE fixed-shape sqrt per
    * vector quantized to micros, then pure integer min/avg/max.
    */
  def embeddingNormProfile(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        expr("""aggregate(transform(embedding, x ->
          |  cast(round(cast(x as double) * cast(x as double) * 1e12) as bigint)),
          |  0L, (acc, y) -> acc + y)""".stripMargin).as("se"))
      .select(col("se"),
        expr("cast(round(sqrt(cast(se as double) / 1e12) * 1000000) as bigint)")
          .as("norm_micros"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("se") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("norm_micros")).as("min_norm_micros"),
        expr("cast((sum(norm_micros) + count(1) div 2) div count(1) as bigint)")
          .as("avg_norm_micros"),
        max(col("norm_micros")).as("max_norm_micros"))

  /** Quantization reconstruction-error audit for the int8 tier — the
    * numeric companion to `ann_recall_int8`'s rank-quality gate: recall
    * says WHETHER the quantized index returns the right neighbors,
    * this says HOW FAR the stored vectors sit from the originals
    * (per-vector MSE of emb − dequant(int8(emb))). The per-component
    * squared error is quantized to an integer at 1e-12 resolution FIRST
    * (fixed-shape double per component, the momentsProfile discipline),
    * so the per-vector sum, the corpus mean, and the max are all exact
    * integer arithmetic — engine-identical. One scan, no shuffle beyond
    * the final 1-row aggregate; the audit costs O(corpus) at any scale.
    * Theory check the spec pins: per-component |err| ≤ scale/2, so
    * mse ≤ scale²/4 — the bound a healthy symmetric quantizer must meet.
    */
  def int8ReconError(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("emb", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("scale", expr("array_max(transform(emb, x -> abs(x)))") / 127.0)
      .filter(col("scale") > 0)
      .select(col("vec_id"),
        expr("""aggregate(transform(emb, x ->
          |  cast(round((x - floor(x / scale + 0.5d) * scale)
          |             * (x - floor(x / scale + 0.5d) * scale) * 1e12) as bigint)),
          |  0L, (acc, y) -> acc + y)""".stripMargin).as("se"),
        expr("cast(size(emb) as bigint)").as("dim"))
      .select(col("vec_id"), expr("(se + dim div 2) div dim").as("mse_p12"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("cast((sum(mse_p12) + count(1) div 2) div count(1) as bigint)")
          .as("avg_mse_p12"),
        max(col("mse_p12")).as("max_mse_p12"))

  /** Top principal component of the embedding table by power iteration —
    * the PCA-whitening / energy-concentration read an embedding pipeline
    * wants before choosing PQ subspaces or RP dimensions. Entirely
    * integer-state, so both engines replay it bit-for-bit:
    *
    *  - components quantize to micros; the SCALED covariance
    *    M = n·Σqqᵀ − ssᵀ (s = component sums) is an exact integer matrix —
    *    multiplying the usual covariance by n² dodges every mean division,
    *    and power iteration is scale-invariant;
    *  - Σqqᵀ comes from ONE corpus pass: each vector explodes its d²
    *    outer-product terms inline (no self-join) into a (i, j) partial
    *    agg — the shuffle carries d² rows per partition, not per vector;
    *  - each of the `rounds` iterations is a d²-row matrix-vector product
    *    (broadcast-joined on the d-row state) re-normalized to max-norm
    *    micros via one fixed-shape double division per component (IEEE
    *    div + round on identical integers — deterministic; an integer
    *    `div` here would hit Spark's DECIMAL(38,0) IntegralDivide
    *    precision cliff instead);
    *  - the state frame checkpoints EVERY round (it feeds both the next
    *    product and the norm — the repo's multi-reference loop rule).
    *
    * Output: per-dim L2-normalized loading in micros plus the
    * explained-variance share λ/trace(M) in ppm (computed once from the
    * Rayleigh quotient; per-term products quantize before the d²-row sum).
    */
  /** The exact-integer scaled covariance M = n·Σqqᵀ − ssᵀ shared by the
    * PCA family: one corpus pass exploding d² outer-product terms into a
    * partial agg (shuffle carries d² rows per partition, not per vector),
    * checkpointed because every caller reads it more than once.
    */
  private def scaledCovariance(embeddings: DataFrame): DataFrame = {
    val D = DecimalType(38, 0)
    val q = embeddings.select(
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
        .as("q"))
    val terms = q.select(expr(
      """explode(flatten(transform(q, (xi, i) -> transform(q, (xj, j) ->
        |  struct(i as i, j as j, xi * xj as qq)))))""".stripMargin).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.qq").as("qq"))
    val gram = terms.groupBy(col("i"), col("j")).agg(sum(col("qq").cast(D)).as("sqq"))
    val sums = q.select(posexplode(col("q")).as(Seq("i", "qv")))
      .groupBy(col("i")).agg(sum(col("qv").cast(D)).as("s"))
    val nRow = embeddings.agg(count(lit(1)).as("n"))
    gram
      .join(sums.select(col("i"), col("s").as("si")), Seq("i"))
      .join(sums.select(col("i").as("j"), col("s").as("sj")), Seq("j"))
      .crossJoin(broadcast(nRow))
      .select(col("i"), col("j"),
        (col("sqq") * col("n") - col("si") * col("sj")).cast(D).as("mv"))
      .localCheckpoint()
  }

  def pcaTopComponent(embeddings: DataFrame, rounds: Int = 8): DataFrame = {
    // same driver-side deflation core as pcaComponents (k = 1): one
    // corpus pass for the dimension²-bounded covariance, zero per-round
    // jobs; the integer/double rounding chain is bit-identical to the
    // former distributed expressions (see pcaComponents doc)
    val spark = embeddings.sparkSession
    val rows = pcaDeflate(scaledCovariance(embeddings).collect(), 1, rounds)
    import spark.implicits._
    rows.map { case (_, dim, u, share) => (dim, u, share) }
      .toDF("dim", "loading_micros", "share_ppm")
  }

  /** Driver-side power-iteration + Hotelling-deflation core shared by
    * [[pcaTopComponent]] and [[pcaComponents]] — exact BigInt state, the
    * double/HALF_UP rounding chain replaying Spark's Cast/Round on the
    * same values. Input is the collected (i, j, mv) covariance grid;
    * output rows are (component, dim, loading_micros, share_ppm).
    */
  private def pcaDeflate(covRows: Array[org.apache.spark.sql.Row],
                         k: Int, rounds: Int): Seq[(Int, Int, Long, Long)] = {
    var m: Map[(Int, Int), BigInt] = covRows.map(r =>
      (r.getInt(0), r.getInt(1)) -> BigInt(r.getDecimal(2).toBigInteger)).toMap
    val dims = covRows.map(_.getInt(0)).distinct.sorted
    val tr = dims.map(i => m((i, i))).sum
    // cast(<decimal(38,0)> as double) = java BigDecimal.doubleValue;
    // round(<double>) = scala BigDecimal(d).setScale(0, HALF_UP) — the
    // exact semantics of Spark's Cast and Round on these types
    def dbl(x: BigInt): Double = new java.math.BigDecimal(x.bigInteger).doubleValue()
    def rnd(v: Double): Long =
      BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
    for (c <- 1 to k) {
      var x: Map[Int, BigInt] = dims.map(_ -> BigInt(1000000L)).toMap
      for (_ <- 1 to rounds) {
        val u = dims.map(i => i -> dims.map(j => m((i, j)) * x(j)).sum).toMap
        val mx = u.values.map(_.abs).max
        x = dims.map(i => i -> BigInt(rnd(dbl(u(i)) / dbl(mx) * 1000000d))).toMap
      }
      val vv = dims.map(i => x(i) * x(i)).sum
      val vmv = dims.flatMap(i => dims.map(j =>
        BigInt(rnd(dbl(m((i, j))) * dbl(x(i)) * dbl(x(j)) / 1.0e12)))).sum
      val u = dims.map(i =>
        i -> rnd(dbl(x(i)) / math.sqrt(dbl(vv)) * 1000000d)).toMap
      // vmv carries vᵀMv / 1e12 (the per-term quantization scale) and vv
      // carries vᵀv in micros² (= 1e12 × unit) — the two 1e12s compose to
      // the 1e18 factor restoring λ/trace before the ppm
      val share = rnd(dbl(vmv) / dbl(vv) / dbl(tr) * 1.0e18)
      dims.foreach(i => out += ((c, i, u(i), share)))
      if (c < k) {
        // Hotelling deflation: M − λuuᵀ, λ = vᵀMv/vᵀv in M-scale; per
        // entry one fixed-shape double round over the exact integers
        m = m.map { case ((i, j), mv) =>
          (i, j) -> (mv - BigInt(rnd(
            dbl(vmv) * u(i).toDouble * u(j).toDouble / dbl(vv))))
        }
      }
    }
    out.toSeq
  }

  /** Top-k principal components by power iteration WITH DEFLATION —
    * [[pcaTopComponent]] taken to the basis the op's own motivation needs
    * (PQ subspace choice / whitening wants more than one direction). The
    * integer-state discipline extends component-wise:
    *
    *  - the scaled covariance M₁ = n·Σqqᵀ − ssᵀ is the same exact-integer
    *    matrix ([[scaledCovariance]], ONE corpus pass);
    *  - component c power-iterates `rounds` times on M_c (max-norm micros
    *    state, checkpoint every round — the multi-reference loop rule),
    *    then L2-normalizes to the integer loading u in micros and takes
    *    the Rayleigh numerator vᵀM_cv with the same per-term quantization
    *    as the single-component op;
    *  - deflation is Hotelling's: M_{c+1} = M_c − λ·uuᵀ with λ in M-scale,
    *    i.e. per entry ONE fixed-shape double round(vmv·u_i·u_j/vv)
    *    subtracted from the exact integer — both engines replay the IEEE
    *    expression on identical integers, so the deflated matrix is again
    *    a shared exact-integer state and the next component is
    *    deterministic;
    *  - share_ppm divides every component's λ by the trace of the ORIGINAL
    *    M₁, so the k shares are comparable energy fractions.
    *
    * All post-corpus work runs DRIVER-SIDE on the collected D×D integer
    * matrix (r12 verdict task 4): the covariance is dimension²-bounded
    * (d = 64 → 4096 rows — the same vocabulary-scale-collect class as the
    * BPE merge tables), while the distributed deflation loop cost
    * k·rounds Spark jobs of driver latency each — 170 s at sf1 for k = 4
    * against a ~12 s covariance pass. Corpus cost is the single
    * [[scaledCovariance]] pass regardless of k; every rounding below
    * replays the former distributed expressions bit-for-bit (Decimal →
    * double casts, HALF_UP double rounds, the same association order), so
    * the basis is hash-identical to the r12 artifact.
    */
  def pcaComponents(embeddings: DataFrame, k: Int = 4, rounds: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    // one corpus-scale pass; d² = 4096 exact-integer cells to the driver
    val rows = pcaDeflate(scaledCovariance(embeddings).collect(), k, rounds)
    import spark.implicits._
    rows.toDF("component", "dim", "loading_micros", "share_ppm")
  }

  /** OPQ-lite rotation artifact: the Householder-QR of the top-m principal
    * basis ([[pcaComponents]]), with component c's reflection targeting
    * coordinate (c−1)·(dim/m) — the FIRST dimension of subspace c. After
    * rotation each PQ subspace holds exactly one dominant principal
    * direction, the eigenvalue-allocation balance OPQ's parametric variant
    * argues for (Ge et al., CVPR 2013) without needing the full d-dim
    * eigenbasis. All arithmetic stays in the engine's integer-micros
    * discipline on d-row frames:
    *
    *  - basis vectors push through the previously-built reflections
    *    (exact integer dot products; ONE fixed-shape double round per
    *    entry for the update);
    *  - already-fixed target coordinates are zeroed before building the
    *    next reflector (they carry only quantization residue — zeroing
    *    makes each H exactly fix the earlier pivots);
    *  - w = z + sign(z_p)·|z|·e_p, the cancellation-free Householder
    *    choice, with |z| one correctly-rounded sqrt in micros.
    *
    * Output: ONE broadcastable row with w1..wm (micros bigint arrays,
    * index order) and their exact squared norms ww1..wwm — the rotation
    * R = H_m…H_1 in closed form, O(m·dim) state regardless of corpus size.
    */
  def opqRotationVectors(embeddings: DataFrame, m: Int = 4, dim: Int = 64,
                         rounds: Int = 8): DataFrame =
    opqRotationVectorsFrom(pcaComponents(embeddings, m, rounds), m, dim)

  /** The QR half alone, over an already-computed (component, dim,
    * loading_micros) basis — lets callers amortize the PCA corpus pass
    * through a persisted basis artifact.
    */
  def opqRotationVectorsFrom(basisIn: DataFrame, m: Int = 4,
                             dim: Int = 64): DataFrame = {
    val sub = dim / m
    val basis = basisIn
    var ws = List.empty[(DataFrame, DataFrame)] // ascending c: (w(i,w), ww)
    for (c <- 1 to m) {
      var t = basis.filter(col("component") === c)
        .select(col("dim").as("i"), col("loading_micros").as("t"))
      for ((wf, wwf) <- ws) {
        val wt = t.join(wf, Seq("i")).agg(sum(col("w") * col("t")).as("wt"))
        t = t.join(wf, Seq("i"))
          .crossJoin(broadcast(wt)).crossJoin(broadcast(wwf))
          .select(col("i"),
            (col("t") - expr("""cast(round(2.0d * cast(wt as double)
              | * cast(w as double) / cast(ww as double)) as bigint)""".stripMargin))
              .as("t"))
      }
      val pc = (c - 1) * sub
      val prevTargets = (1 until c).map(cc => ((cc - 1) * sub).toLong)
      val z = (if (prevTargets.isEmpty) t.select(col("i"), col("t").as("z"))
               else t.select(col("i"),
                 when(col("i").isin(prevTargets: _*), 0L).otherwise(col("t")).as("z")))
      val nz = z.agg(
        expr("cast(round(sqrt(cast(sum(z * z) as double))) as bigint)").as("nz"),
        max(when(col("i") === pc, col("z"))).as("zp"))
      val w = z.crossJoin(broadcast(nz))
        .select(col("i"),
          (col("z") + when(col("i") === lit(pc),
            when(col("zp") >= 0L, col("nz")).otherwise(-col("nz")))
            .otherwise(lit(0L))).as("w"))
        .localCheckpoint()
      val ww = w.agg(sum(col("w") * col("w")).as("ww")).localCheckpoint()
      ws = ws :+ ((w, ww))
    }
    ws.zipWithIndex.map { case ((w, ww), idx) =>
      val c = idx + 1
      w.agg(expr("transform(sort_array(collect_list(struct(i, w))), p -> p.w)")
          .as(s"w$c"))
        .crossJoin(broadcast(ww.select(col("ww").as(s"ww$c"))))
    }.reduce(_.crossJoin(_))
  }

  /** Apply the [[opqRotationVectors]] rotation to a corpus: per vector m
    * chained reflections y ← y − round(2(w·y)/ww · w), with w·y an EXACT
    * integer dot (micros × micros fits long at these magnitudes) and one
    * fixed-shape double round per entry — both engines replay the rotated
    * corpus bit-for-bit. One narrow map over the corpus, no shuffle; the
    * rotation artifact is a broadcast 1-row cross join. Output swaps the
    * `embedding` column for its rotated double form (micros / 1e6), so
    * every downstream PQ/IVF/top-k operator runs unchanged.
    */
  def opqRotate(embeddings: DataFrame, rotation: DataFrame, m: Int = 4): DataFrame = {
    var df = embeddings.crossJoin(broadcast(rotation))
      .withColumn("y0",
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"))
    for (c <- 1 to m) {
      df = df
        .withColumn(s"wt$c",
          expr(s"aggregate(zip_with(y${c - 1}, w$c, (a, b) -> a * b), 0L, (acc, v) -> acc + v)"))
        .withColumn(s"y$c",
          expr(s"""zip_with(y${c - 1}, w$c, (t, wi) -> t - cast(round(2.0d
             | * cast(wt$c as double) * cast(wi as double)
             | / cast(ww$c as double)) as bigint))""".stripMargin))
    }
    val keep = embeddings.columns.filterNot(_ == "embedding").map(col).toSeq
    df.select(keep :+
      expr(s"transform(y$m, t -> cast(t as double) / 1000000.0d)").as("embedding"): _*)
  }

  /** 1-bit sign quantization: each dimension collapses to its sign bit
    * (x ≥ 0 → 1), packed 32 dims per BIGINT word — bits 0..31 only, so
    * every word stays non-negative and two's-complement top-bit behavior
    * never enters the engine/oracle comparison. 64× less data per vector
    * than float32: the cheapest at-rest tier in the quantization ladder
    * (float → int8 → PQ → binary), and the one modern vector stores
    * default to for the FIRST pass because Hamming distance over packed
    * words is a handful of XOR+popcount instructions per candidate.
    *
    * For unit-ish random vectors, popcount agreement estimates the
    * angle: P[sign(r·x) = sign(r·y)] = 1 − θ/π per hyperplane (the
    * SimHash identity) — here the "hyperplanes" are the coordinate axes,
    * which is exactly the matryoshka/rotation assumption that mass is
    * spread across dimensions. Quantize-once, like the int8 tier: the
    * packed frame is the persisted artifact, scored by many query
    * batches.
    */
  def packSignBits(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      expr("""transform(sequence(0, cast((size(embedding) + 31) div 32 as int) - 1),
             |  w -> aggregate(sequence(0, 31), 0L,
             |    (acc, b) -> IF(w * 32 + b < size(embedding)
             |                   AND element_at(embedding, w * 32 + b + 1) >= 0d,
             |                   acc + shiftleft(1L, b), acc)))""".stripMargin).as("sig"))

  /** Per-query `shortlist` nearest candidates by Hamming distance over the
    * packed sign bits — ascending distance, vec_id tie-break (Hamming ties
    * are the NORM at 64 bits, so the deterministic tie-break is
    * load-bearing for oracle comparison). Broadcast the query signatures;
    * the corpus side streams through bit_count(xor) inside whole-stage
    * codegen.
    *
    * Selection is a bounded typed aggregation ([[graft.functions.TopKAggregator]]
    * keyed by q_id, score = −ham so "best" = smallest distance), NOT a
    * per-q_id row_number window — the shape the r15 verdict flagged in
    * this tier (see [[topKSelect]] for what the window actually planned
    * and why the aggregation is the scale-correct form). The aggregator's
    * partial buffers carry at most `shortlist` (ham, vec_id) pairs per
    * query per map task, merge map-side, and the final merge touches
    * (#partitions × shortlist) rows per query — bounded at any corpus
    * size, with no sort of the scored stream. Ordering contract is
    * identical (ham asc, vec_id asc: the aggregator orders by (−score,
    * id) = (ham, vec_id)); `srank` = position in the merged buffer + 1 =
    * the old row_number. No NaN surface: ham is an INT sum.
    */
  private[graft] def hammingShortlist(sig: DataFrame, nQueries: Int,
                                      shortlist: Int): DataFrame = {
    val queries = sig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("sig").as("q_sig"))
    val topw = udaf(new graft.functions.TopKAggregator(shortlist),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    sig.join(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ham",
        expr("aggregate(zip_with(sig, q_sig, (a, b) -> bit_count(a ^ b)), 0, (acc, x) -> acc + x)"))
      .groupBy(col("q_id"))
      .agg(topw((-col("ham")).cast(DoubleType), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col._2").as("vec_id"),
        (-col("col._1")).cast(IntegerType).as("ham"),
        (col("pos") + 1).cast(IntegerType).as("srank"))
  }

  /** Binary-quantization two-stage retrieval: Hamming shortlist over the
    * packed sign bits → EXACT cosine rescore to top-k — the
    * [[pqTopKRescored]] composition on the cheapest tier. At 100 TB the
    * shortlist pass reads 1 bit per dimension (the whole index fits where
    * 1/64th of the corpus would), and full-precision vectors are touched
    * for shortlist × queries rows only. Output schema matches
    * [[cosineTopK]], same round-4 + vec_id contract, so brute-vs-binary
    * recall is directly measurable (`ann_recall_binary`).
    */
  def cosineTopKBinaryRescored(embeddings: DataFrame, nQueries: Int, k: Int,
                               shortlist: Int = 20): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k = $k")
    exactRescore(hammingShortlist(packSignBits(embeddings).persist(), nQueries, shortlist),
      embeddings, queriesOf(embeddings, nQueries), k)
  }

  /** Recall-vs-shortlist-width sweep for the binary tier — the knob table
    * a deployment reads before picking the Hamming cut. For each width w,
    * recall@k = |brute top-k ∩ Hamming top-w| / k, which IS the rescored
    * tier's recall at that width: the exact rescore ranks the shortlist
    * under the identical round-4 + vec_id contract as brute, and a
    * superset ranking cannot demote a global top-k member below rank k —
    * so one Hamming pass serves every width (each width is a different
    * srank cut of the same ranked frame, never a re-score).
    */
  def binaryShortlistSweep(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                           widths: Seq[Int] = Seq(10, 20, 50, 100)): DataFrame = {
    val sl = hammingShortlist(packSignBits(embeddings).persist(), nQueries, widths.max)
      .select(col("q_id"), col("vec_id"), col("srank")).persist()
    val brute = cosineTopK(embeddings, nQueries, k)
      .select(col("q_id"), col("vec_id")).persist()
    widths.map { wd =>
      perQueryRecall(brute, sl.filter(col("srank") <= wd), k)
        .select(lit(wd).as("shortlist"), col("q_id"), col("recall"))
    }.reduce(_.unionByName(_))
  }

  /** Pre-filter vs post-filter policy audit for metadata-constrained
    * vector search — the classic filtered-search pitfall every vector
    * store documents: post-filtering a TOP-`shortlist` unfiltered result
    * by the metadata predicate starves when the filter is selective
    * (selectivity s leaves ~s·shortlist survivors, a DEFICIT against k),
    * while pre-filtering ([[cosineTopKFiltered]]) always fills k but must
    * push the predicate into the scan. Per query: how many results the
    * post-filter policy actually returned, and its recall against the
    * pre-filter truth. Because the global ordering restricted to the
    * label IS the label-local ordering (same score, same tie-break), the
    * post-filter survivors are exactly a PREFIX of the pre-filter truth —
    * recall = n_post / n_true identically; the join computes it anyway so
    * the oracle checks the tie-break consistency, not just the count.
    */
  def filteredAnnPolicy(embeddings: DataFrame, nQueries: Int, k: Int,
                        shortlist: Int = 20): DataFrame = {
    val corpus = embeddings.select(col("vec_id"), col("embedding"), col("label"))
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))
    val post = corpus
      .join(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4))
      .withColumn("grank", row_number().over(w))
      .filter(col("grank") <= shortlist)
      .filter(col("label") === col("q_label"))
      .withColumn("prank", row_number().over(w))
      .filter(col("prank") <= k)
      .select(col("q_id"), col("vec_id"))
    val truth = cosineTopKFiltered(embeddings, nQueries, k)
      .select(col("q_id"), col("vec_id"))
    val hit = post.withColumn("hit", lit(1))
    // n_post counted from the post frame itself (NOT from the hits), so a
    // prefix-property violation would surface as n_post > hits·k/n_true
    // instead of being silently absorbed into the recall
    val postCnt = post.groupBy(col("q_id")).agg(count(lit(1)).as("n_post"))
    truth.join(hit, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0))).as("hits"))
      .join(postCnt, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_post"), lit(0L)).cast("bigint").as("n_post"),
        round(col("hits").cast(DoubleType) / col("n_true").cast(DoubleType), 2)
          .as("recall_post"))
  }

  /** Matryoshka truncation audit: recall@k of brute cosine over the FIRST
    * m dimensions vs the full-width brute top-k, one row per (dims, query).
    * This is the measured decision table for dimension-truncated serving
    * (MRL-style embeddings): each halving of m halves index bytes and
    * scan cost at every tier above, and this row says what it costs in
    * ranking agreement on THIS corpus. Plain truncation (no re-norm) —
    * cosine is scale-invariant, so re-normalizing the prefix changes
    * nothing. The full-width reference is computed once; each truncated
    * arm is a `slice(embedding, 1, m)` over the same frame, so the audit
    * costs |dims| brute passes over prefix-width vectors, not |dims|
    * corpus copies.
    */
  def matryoshkaRecall(embeddings: DataFrame, nQueries: Int, k: Int,
                       dims: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val brute = cosineTopK(embeddings, nQueries, k)
      .select(col("q_id"), col("vec_id")).persist()
    dims.map { m =>
      val trunc = embeddings.select(col("vec_id"),
        expr(s"slice(embedding, 1, $m)").as("embedding"))
      perQueryRecall(brute, cosineTopK(trunc, nQueries, k), k)
        .select(lit(m).as("dims"), col("q_id"), col("recall"))
    }.reduce(_.unionByName(_))
  }
}
