package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators ([EXT], SURVEY.md §2.11): exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard.
  *
  * Design for 100 TB:
  *  - Per-document computations (shingling, MinHash signatures, SimHash)
  *    are *shuffle-free*: higher-order SQL expressions evaluated row-by-row
  *    inside whole-stage codegen. A signature pass over the corpus is one
  *    narrow map stage — it scales with executors and never materializes an
  *    exploded intermediate.
  *  - Candidate generation is always an equi-join on a bucket key (LSH
  *    band, shingle) — shuffle distributes by bucket; there is no all-pairs
  *    comparison anywhere.
  *  - The hash functions are engine-portable by construction: a 32-bit
  *    integer from the md5 hex prefix (identical in any engine) passed
  *    through (a·h + b) mod p universal hashing. This makes the whole
  *    family DuckDB-oracle-checkable — rare for MinHash pipelines — and
  *    deterministic across partitionings/retries, which is what makes a
  *    100 TB dedup run resumable.
  */
object DedupOps {
  import TextOps.{letScalar, tokensSql}

  /** Mersenne prime 2^31-1; a·h stays far below 2^63 for our multipliers. */
  val P: Long = 2147483647L

  /** 16 fixed universal-hash parameter pairs (odd multipliers). */
  val Seeds: Seq[(Int, Long, Long)] = Seq(
    (0, 7L, 3L), (1, 11L, 17L), (2, 13L, 29L), (3, 17L, 41L),
    (4, 19L, 53L), (5, 23L, 67L), (6, 29L, 79L), (7, 31L, 97L),
    (8, 37L, 103L), (9, 41L, 113L), (10, 43L, 127L), (11, 47L, 137L),
    (12, 53L, 149L), (13, 59L, 157L), (14, 61L, 167L), (15, 67L, 179L))

  /** LSH banding: 16 minhashes → 4 bands × 4 rows. */
  val NumBands = 4
  val RowsPerBand = 4

  /** Exact dedup: one representative (min doc_id) per distinct text.
    * groupBy-min, not dropDuplicates — dropDuplicates keeps an *arbitrary*
    * row per key, which is nondeterministic across partitionings; min() is
    * reproducible at any scale. (For very long texts, group by
    * TextOps.fingerprints' md5 instead to shrink the shuffle key.)
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))

  /** Let-binding discipline: Spark's higher-order lambdas re-evaluate any
    * *referenced* expression at every element — `toks[i]` inside a
    * `transform` would re-run the tokenizer regex per shingle index, and a
    * downstream fold would multiply that again (observed: O(bits × shingles
    * × tokens) regex calls pinning a core for minutes). Wrapping a value in
    * `transform(array(x), t -> body)` binds it to a lambda variable exactly
    * once per row, so every stage below is a chain of such lets and the
    * whole signature pass is linear in document length. This one serves
    * array-typed bodies; [[TextOps.letScalar]] serves scalar ones.
    */
  private def let(value: String, varName: String, body: String): String =
    s"flatten(transform(array($value), $varName -> $body))"

  /** Each pipeline stage parameterized by its INPUT lambda variable, so
    * the same snippets compose either as standalone let-chains (one
    * tokenizer run per expression) or fused with the token count into a
    * single struct (one tokenizer run per ROW — see `sigStructSql`).
    */
  private def shFrom(tok: String): String =
    s"if(size($tok) >= 3, " +
      s"array_distinct(transform(sequence(0, size($tok) - 3), " +
      s"i -> concat_ws(' ', $tok[i], $tok[i+1], $tok[i+2]))), " +
      "cast(array() as array<string>))"

  private def hvsFrom(sh: String): String =
    s"transform($sh, s -> cast(conv(substr(md5(s), 1, 8), 16, 10) as bigint))"

  /** Shingle expression with the token array let-bound (regex runs once). */
  private val shSql = let(tokensSql, "t", shFrom("t"))

  /** 48-bit md5-prefix hashes of the distinct shingles — wide enough that
    * cross-doc collisions are negligible (and 12 hex digits stays safely
    * inside a signed BIGINT in every engine), narrow enough to cut the
    * verification rows ~3× vs carrying shingle strings.
    */
  private val sh48Sql = let(shSql, "s0",
    "transform(s0, s -> cast(conv(substr(md5(s), 1, 12), 16, 10) as bigint))")

  private val seedArr = Seeds
    .map { case (_, a, b) => s"named_struct('a', ${a}L, 'b', ${b}L)" }
    .mkString("array(", ", ", ")")

  private def mhsFrom(hs: String): String =
    s"transform($seedArr, p -> array_min(transform($hs, h -> (p.a * h + p.b) % ${P}L)))"

  /** Token-count gate FUSED into the signature expression: the signature
    * operators filter short docs (`size(toks) >= 3`) AND compute the
    * signature — as separate expressions each runs the tokenizer regex,
    * doubling the per-row cost of the corpus signature pass (the 100 TB
    * hot loop). A filter on a struct field doesn't fix it either:
    * predicate pushdown substitutes the struct expression into the
    * filter, so the whole signature evaluates once for the predicate and
    * again for the projection (measured: simhash 1.3 → 2.5 s). The form
    * that evaluates ONCE is the Generate gate: the expression yields the
    * signature array for qualifying docs and an EMPTY array otherwise,
    * and the explode emits zero rows for short docs — the filter is the
    * generator itself, with nothing for the optimizer to duplicate.
    */
  private val sigOrEmptySql = letScalar(tokensSql, "t",
    s"if(size(t) >= 3, " +
      letScalar(shFrom("t"), "s0", letScalar(hvsFrom("s0"), "hs", mhsFrom("hs"))) +
      ", cast(array() as array<bigint>))")

  /** Distinct word-level 3-shingles per doc as an array column — a single
    * narrow projection. Word shingles (not tokens) because candidate joins
    * on a small-vocabulary corpus would otherwise degenerate: a 31-word
    * vocab gives ~30k distinct 3-shingles vs 31 distinct tokens, keeping
    * inverted-index buckets small.
    */
  def shinglesArray(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), expr(shSql).as("sh"))

  /** Exploded (doc_id, shingle) rows — the inverted-index feed. */
  def shingles(documents: DataFrame): DataFrame =
    shinglesArray(documents).select(col("doc_id"), explode(col("sh")).as("shingle"))

  /** Per-document n-gram novelty: the ppm fraction of a doc's distinct
    * 3-shingles that appear NOWHERE else in the corpus (df = 1). The dual
    * of the dedup family — where those remove redundancy, this SCORES it:
    * low novelty flags boilerplate/templated docs even when no single
    * pair crosses a dup threshold, high novelty marks content only this
    * doc contributes. Same df aggregate the jaccard guard computes
    * (partial-agg, shuffle ∝ distinct shingles), joined back
    * co-partitioned; output is pure integer arithmetic (count FILTER +
    * half-up ppm), zero float surface. Docs with < 3 tokens have no
    * shingles and are absent, matching the oracle.
    */
  def shingleNovelty(documents: DataFrame): DataFrame = {
    val sh = shingles(documents)
    val df_ = sh.groupBy(col("shingle")).agg(count(lit(1)).as("c"))
    sh.join(df_, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("c") === 1, lit(1))).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        expr("(cast(n_unique as decimal(38,0)) * 1000000 + n_shingles div 2) div n_shingles")
          .as("novelty_ppm"))
  }

  /** MinHash signatures, long form (doc_id, hash_idx, minhash) — the
    * registered/oracled shape. posexplode of the per-row signature array;
    * zero shuffles.
    */
  def minhashSignatures(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), posexplode(expr(sigOrEmptySql)).as(Seq("hash_idx", "minhash")))

  /** Estimator-accuracy audit for the MinHash tier — the `ann_recall`
    * analog for LSH dedup: per candidate pair, the SIGNATURE-estimated
    * Jaccard (agreeing components / 16, half-up ppm) next to the EXACT
    * shingle-set Jaccard, plus the absolute error. This is the number
    * that justifies (or indicts) the 16-hash budget before anyone trusts
    * `minhash_lsh_pairs` downstream: E[est] = J by the MinHash theorem
    * (Broder), with σ = √(J(1−J)/16) ≈ 0.125 at J = 0.5 — the spec and
    * the gate both read against that band. Scale shape: everything is
    * per-PAIR work over the candidate set (16 signature rows and the two
    * shingle sets per pair) — never corpus² — so the audit costs
    * O(|pairs|) on top of the signature pass at any corpus size.
    */
  def minhashEstimateAudit(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val sig = minhashSignatures(documents)
    val est = pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("hash_idx"),
        col("minhash").as("ma")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("hash_idx"),
        col("minhash").as("mb")), Seq("doc_b", "hash_idx"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(expr(
        "cast((sum(case when ma = mb then 1 else 0 end) * 1000000 + 8) div 16 as bigint)")
        .as("est_ppm"))
    val sh = shinglesArray(documents)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    est
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_ppm"),
        expr("""cast((cast(coalesce(inter, 0L) as decimal(38,0)) * 1000000
          | + (na + nb - coalesce(inter, 0L)) div 2)
          | div (na + nb - coalesce(inter, 0L)) as bigint)""".stripMargin)
          .as("exact_ppm"))
      .withColumn("err_ppm", abs(col("est_ppm") - col("exact_ppm")))
  }

  /** LSH band keys per doc: the 16 minhashes sliced into NumBands keys of
    * RowsPerBand each, comma-joined in hash_idx order. Computed per-row
    * with the signature array let-bound — the first shuffle in the whole
    * MinHash pipeline is the candidate join below.
    */
  def lshBands(documents: DataFrame): DataFrame = {
    def bandsFrom(m: String): String =
      s"transform(sequence(0, ${NumBands - 1}), b -> named_struct(" +
        s"'band', cast(b as int), " +
        s"'band_key', array_join(transform(slice($m, b * $RowsPerBand + 1, $RowsPerBand), " +
        "x -> cast(x as string)), ',')))"
    // Generate-gated fusion — one tokenizer run per row, the short-doc
    // filter IS the empty-array explode (see sigOrEmptySql)
    val bandsOrEmptySql = letScalar(tokensSql, "t",
      s"if(size(t) >= 3, " +
        letScalar(shFrom("t"), "s0",
          letScalar(hvsFrom("s0"), "hs",
            letScalar(mhsFrom("hs"), "m", bandsFrom("m")))) +
        ", cast(array() as array<struct<band: int, band_key: string>>))")
    documents
      .select(col("doc_id"), explode(expr(bandsOrEmptySql)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Within-bucket ordered pairs from a sorted doc_id array: for each
    * element, pair it with every later element. (x, i) 2-arg lambda gives
    * the index; slice is 1-based.
    */
  private val bucketPairsSql =
    "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), " +
      "y -> named_struct('doc_a', x, 'doc_b', y))))"

  /** Candidate near-dup pairs: group by (band, band_key), emit pairs
    * within each bucket. This is the point of LSH at scale — the shuffle
    * distributes by bucket and no executor ever sees the full corpus.
    * One signature pass + one shuffle; a band self-join formulation would
    * recompute the signature expression on both join sides. Pair count per
    * bucket is O(|bucket|²) — bounded because agreeing on a full band is
    * the high-precision LSH event (near-identical docs); a corpus of mass
    * duplicates should run exactDedup first. DISTINCT collapses pairs
    * colliding in multiple bands.
    */
  def minhashCandidatePairs(documents: DataFrame): DataFrame =
    lshBands(documents)
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(bucketPairsSql)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** Corpus index artifacts for INCREMENTAL ingestion ([EXT]): at 100 TB
    * you do not re-dedup the world per batch — you keep two narrow
    * persisted artifacts from the historical corpus and screen each daily
    * delta against them. Both are one shuffle-free pass over the corpus
    * plus a distinct:
    *  - exact tier: md5 text fingerprints (the shuffle key is 32 bytes
    *    regardless of document length);
    *  - near tier: the LSH band keys `lshBands` already emits — the same
    *    high-precision collision event the batch candidate join uses.
    * On a cluster these land in bucketed tables keyed by fp / (band,
    * band_key), so the daily screen joins are co-located.
    */
  def corpusFingerprintIndex(corpus: DataFrame): DataFrame =
    corpus.select(md5(col("text")).as("fp")).distinct()

  def corpusBandIndex(corpus: DataFrame): DataFrame =
    lshBands(corpus).select(col("band"), col("band_key")).distinct()

  /** Dup-cluster size histogram over a (doc_id, component) labeling —
    * the shape read that decides dedup POLICY: a corpus of pairs and
    * triples dedups safely with keep-best; a 10⁴-member cluster is a
    * template flood that wants span/segment treatment instead, and this
    * is the audit that finds it before collapse-and-keep-one deletes a
    * boilerplate-wrapped archive. Two keyed partial-agg shuffles, output
    * rows bounded by the largest cluster size.
    */
  def componentSizeProfile(comps: DataFrame): DataFrame =
    comps.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  /** Jaccard threshold sweep: candidate-pair counts per similarity
    * decile in ONE pass over the guarded inverted index — the curve you
    * pick a dedup threshold FROM (a cliff at 0.8–0.9 separates true
    * near-dups from topical overlap; a flat curve means the threshold is
    * policy, not structure). Running `jaccardPairs` per candidate
    * threshold would re-shuffle the corpus per point; the sweep pays the
    * index join once and buckets the exact scores (ppm-quantized, decile
    * = integer arithmetic).
    */
  def jaccardThresholdSweep(documents: DataFrame,
                            maxShingleDocFreq: Long = 50): DataFrame =
    jaccardPairs(documents, threshold = 0.1, maxShingleDocFreq)
      .select(expr("cast(round(jaccard * 1000000) as bigint)").as("ppm"))
      .select(expr("least(ppm * 10 div 1000000, 9)").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_pairs"))

  /** LSH banding recall audit: what fraction of the TRUE jaccard-≥-t
    * pairs do the MinHash bands actually surface? Banding is
    * probabilistic (P(candidate) = 1 − (1 − s^r)^b), so every dedup
    * pipeline built on it carries an unmeasured recall assumption —
    * this is the measurement, priced at one exact-tier run + one
    * candidate join. Read it when tuning band width/count or after a
    * corpus shift (near-dup similarity drifting toward the threshold
    * collapses banding recall silently). Truth is the guarded exact
    * tier (the scale default); found = left-join against the band
    * candidates; recall in half-up ppm.
    */
  def lshRecallAudit(documents: DataFrame, threshold: Double = 0.5,
                     maxShingleDocFreq: Long = 50): DataFrame = {
    val truth = jaccardPairs(documents, threshold, maxShingleDocFreq)
      .select(col("doc_a"), col("doc_b"))
    val cand = minhashCandidatePairs(documents)
      .select(col("doc_a"), col("doc_b")).withColumn("_found", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("true_pairs"),
        sum(coalesce(col("_found"), lit(0L))).as("found_pairs"))
      .select(col("true_pairs"), col("found_pairs"),
        when(col("true_pairs") > 0,
          expr("(cast(found_pairs as decimal(38,0)) * 1000000 + true_pairs div 2) div true_pairs"))
          .as("recall_ppm"))
  }

  /** Freshness audit of a persisted fingerprint index against the live
    * corpus — the monitoring row that keeps the whole persisted-artifact
    * family honest: every `*_stored` consumer assumes its index matches
    * the corpus snapshot, and this is the cheap check that it still
    * does. `n_unindexed` = content in the corpus the index has never
    * seen (the re-index backlog); `n_stale` = indexed content no longer
    * in the corpus (retention/deletes the index should compact away —
    * at 100 TB a stale majority means probes pay for dead weight). One
    * content-hash distinct on each side + one co-partitioned full-outer
    * join of narrow fp rows; output is a single audit row.
    */
  def indexStaleness(documents: DataFrame, fpIndex: DataFrame): DataFrame = {
    val c = documents.select(md5(col("text")).as("fp")).distinct()
      .withColumn("_c", lit(1L))
    val i = fpIndex.select(col("fp")).distinct().withColumn("_i", lit(1L))
    c.join(i, Seq("fp"), "full_outer")
      .agg(sum(coalesce(col("_c"), lit(0L))).as("n_corpus_fps"),
        sum(coalesce(col("_i"), lit(0L))).as("n_indexed_fps"),
        sum(when(col("_i").isNull, 1L).otherwise(0L)).as("n_unindexed"),
        sum(when(col("_c").isNull, 1L).otherwise(0L)).as("n_stale"))
  }

  /** Persisted near-dup COMPONENT index: (doc_id, component) for every
    * doc that sits in at least one MinHash-LSH candidate pair. The third
    * corpus index artifact, completing the amortization story the
    * fp/band index (incremental screen) and the IVF-PQ index (ANN) tell:
    * every component-keyed consumer — leakage-safe split, preference
    * mining, quality-aware retention — re-derived signature → band →
    * collapse inline, ~identical multi-second work per consumer at sf0.1
    * and a full corpus re-clustering per consumer at 100 TB. Build the
    * labeling ONCE per corpus snapshot, land it as a narrow two-BIGINT
    * table (KBs per million docs), and each consumer's start-up cost
    * drops to one co-partitioned join. On a cluster this lands bucketed
    * by doc_id so consumer joins are co-located.
    */
  def writeComponentIndex(documents: DataFrame, dir: String): Unit =
    dupComponents(minhashCandidatePairs(documents))
      .write.mode("overwrite").parquet(dir)

  def componentIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Persisted candidate-PAIR (edge) index — the near-dup GRAPH of a
    * corpus snapshot landed as narrow (doc_a, doc_b) parquet: the
    * artifact every graph consumer (collapse, PageRank, audit joins)
    * reads instead of re-running signature → band → bucket-join per
    * query. Upstream of the component index in the artifact chain
    * (components = this graph collapsed); kept separately because graph
    * consumers need the EDGES, not just the labels.
    */
  def writePairIndex(documents: DataFrame, dir: String): Unit =
    minhashCandidatePairs(documents).write.mode("overwrite").parquet(dir)

  def pairIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** The incremental screen: exact-dedup WITHIN the delta, then drop every
    * doc whose fingerprint (exact tier) or ANY band key (near tier)
    * collides with the corpus index. Anti-joins on bounded keys — the
    * delta never joins the corpus itself, only its KB-per-million-docs
    * index. Near-dups WITHIN the delta compose downstream (run
    * `minhashCandidatePairs` + `dupComponents` on the survivors) exactly
    * as in the batch pipeline; this operator owns the delta-vs-history
    * boundary, which is the part the batch pipeline cannot express.
    * Docs under 3 tokens emit no bands (same floor as the batch LSH path)
    * and so pass the near screen — by design, both here and in the
    * oracle.
    */
  def screenDeltaAgainstCorpus(delta: DataFrame, corpusFp: DataFrame,
                               corpusBands: DataFrame): DataFrame = {
    val fresh = exactDedup(delta)
    // two consumers below (the band probe and the final anti-join) —
    // persist so the delta dedup + fp screen runs once, not twice
    // (plan-audited: without this the subtree appears twice). Cache
    // lifecycle is caller-owned, as everywhere in this engine.
    val fpClean = fresh
      .withColumn("fp", md5(col("text")))
      .join(corpusFp, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("text"))
      .persist()
    val colliding = lshBands(fpClean)
      .join(corpusBands, Seq("band", "band_key"), "left_semi")
      .select(col("doc_id")).distinct()
    fpClean.join(colliding, Seq("doc_id"), "left_anti")
  }

  /** Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle —
    * inverted-index join (shuffle on shingle), never all-pairs. Emits pairs
    * with similarity ≥ threshold. At 100 TB the shingle buckets stay small
    * as long as shingle entropy is high (vocab³); a stop-shingle filter
    * (drop the top-frequency shingles) is the standard skew guard and drops
    * in here as one extra filter.
    */
  def jaccardPairs(documents: DataFrame, threshold: Double,
                   maxShingleDocFreq: Long = Long.MaxValue,
                   prefilterHotShingles: Boolean = false): DataFrame = {
    val allSh = shingles(documents)
    // Stop-shingle skew guard: a shingle present in a large fraction of the
    // corpus contributes O(df²) candidate pairs while carrying ~zero
    // similarity signal. Dropping hyper-frequent shingles bounds the
    // largest join bucket — the knob that keeps this linear at 100 TB.
    // Denominators (sizes) still count every shingle, so scores of
    // surviving pairs only ever shrink, never inflate.
    //
    // Two enforcement points with identical semantics (df of a shingle IS
    // its posting-list length):
    //  - default: filter posting lists by size after the groupBy — zero
    //    extra passes, the guard is free. The hot list still materializes
    //    once in the aggregation buffer (df × 8 bytes) before being
    //    dropped, which is fine up to df ~ 10⁷.
    //  - prefilterHotShingles: compute df in a separate pass and anti-join
    //    before the posting-list build, so a pathological shingle (df ~
    //    corpus size) never materializes at all — costs one extra
    //    aggregate over the exploded shingles.
    val sh =
      if (!prefilterHotShingles || maxShingleDocFreq == Long.MaxValue) allSh
      else {
        val hot = allSh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDocFreq)
          .select("shingle")
        allSh.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    // per-doc shingle counts straight off the array — no explode, no shuffle
    val sizes = shinglesArray(documents).select(col("doc_id"), size(col("sh")).as("n"))
    // inverted index as bucket arrays: one explode pass + one shuffle on the
    // shingle; pairs emitted inside each posting list (a self-join would
    // recompute the shingle Generate on both sides). Bucket pair count is
    // O(df²) — the stop-shingle guard is what bounds it at corpus scale.
    val common = sh
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .filter(
        if (maxShingleDocFreq == Long.MaxValue) lit(true)
        else size(col("ds")) <= maxShingleDocFreq)
      .select(explode(expr(bucketPairsSql)).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        round(col("common").cast(DoubleType) /
          (col("na") + col("nb") - col("common")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric n-gram CONTAINMENT (Broder's other resemblance measure):
    * C(A⊆B) = |A∩B| / |A| — detects a document EMBEDDED in a larger one
    * (quote-expansion, boilerplate-wrapped reposts, concatenated dumps),
    * exactly the family symmetric Jaccard structurally misses: a 10-gram
    * doc wholly contained in a 40-gram doc scores J ≈ 0.25 but C = 1.0.
    * Emits DIRECTED rows (contained_id, container_id, containment_ppm ≥
    * threshold); both directions of every candidate are tested in ONE
    * pass (explode of a 2-struct array — the undirected candidate frame
    * is not recomputed per direction). Same inverted-index + stop-shingle
    * guard shape as `jaccardPairs`; denominators count EVERY shingle, so
    * the guard only ever shrinks scores. Output is pure-integer ppm —
    * zero float surface for the comparator.
    */
  def containmentPairs(documents: DataFrame, thresholdPpm: Long = 800000L,
                       maxShingleDocFreq: Long = 50): DataFrame = {
    val sizes = shinglesArray(documents).select(col("doc_id"), size(col("sh")).as("n"))
    val common = shingles(documents)
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxShingleDocFreq)
      .select(explode(expr(bucketPairsSql)).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(explode(array(
        struct(col("doc_a").as("contained_id"), col("doc_b").as("container_id"),
          expr("(cast(common as decimal(38,0)) * 1000000 + na div 2) div na").as("containment_ppm")),
        struct(col("doc_b").as("contained_id"), col("doc_a").as("container_id"),
          expr("(cast(common as decimal(38,0)) * 1000000 + nb div 2) div nb").as("containment_ppm")))).as("r"))
      .select(col("r.contained_id").as("contained_id"),
        col("r.container_id").as("container_id"),
        col("r.containment_ppm").as("containment_ppm"))
      .filter(col("containment_ppm") >= thresholdPpm)
  }

  /** Exact containment pairs via ppjoin-style prefix filtering — the
    * asymmetric analog of `jaccardPairsPrefix`, built because the guarded
    * tier's ×100 exponent is candidate-volume-bound (e = 1.19, SCALE.md
    * r9): C(A⊆B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so A must share one of its
    * rarest (|A| − ⌈t·|A|⌉ + 1) shingles with B. Only the CONTAINED side
    * prunes — containment has no symmetric length constraint, so the
    * container side is the full inverted index — but rarest-df-first
    * ordering makes the prefix tokens precisely the low-collision ones,
    * so candidate volume is Σ_{prefix tok} df(tok), not Σ df². The
    * container side keeps one lossless bound: |A∩B| ≤ |B|, so
    * |B| ≥ m_min(A) length-filters inside the posting join.
    *
    * All bounds are computed against the HALF-UP ROUNDED ppm the output
    * filter applies (m_min = smallest common count whose rounded ppm
    * clears the threshold) in pure integer arithmetic — a float ⌈t·n⌉
    * can round the wrong way at exact multiples and silently drop a
    * qualifying pair. Lossless by construction vs the unguarded
    * enumeration; no df cap anywhere (the guard's 0.1%-recall concession
    * is exactly what this tier exists to avoid).
    */
  def containmentPairsPrefix(documents: DataFrame,
                             thresholdPpm: Long = 800000L): DataFrame = {
    val tq = thresholdPpm
    // smallest integer m with (m*1e6 + n div 2) div n >= tq; ${tq}L keeps
    // the multiply in BIGINT (an INT literal overflows past n ≈ 2.7k)
    def minCommon(n: String): String =
      s"(${tq}L * $n - $n div 2 + 999999L) div 1000000L"
    val withN = documents.select(col("doc_id"), expr(sh48Sql).as("h"))
      .select(col("doc_id"), size(col("h")).as("n"), explode(col("h")).as("tok"))
    val dfs = withN.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val prefix = withN.join(dfs, Seq("tok"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ranked"))
      .select(col("doc_id").as("contained_id"), col("n").as("na"),
        explode(expr("transform(slice(ranked, 1, size(ranked) - " +
          s"cast(${minCommon("size(ranked)")} as int) + 1), x -> x.tok)")).as("tok"))
    val cands = prefix
      .join(withN.select(col("tok"), col("doc_id").as("container_id"),
        col("n").as("nb")), Seq("tok"))
      .filter(col("contained_id") =!= col("container_id") &&
        col("nb") >= expr(minCommon("na")))
      .select(col("contained_id"), col("container_id"))
      .distinct()
    val arrs = documents.select(col("doc_id"), expr(sh48Sql).as("h"))
    cands
      .join(arrs.select(col("doc_id").as("contained_id"), col("h").as("ha")),
        Seq("contained_id"))
      .join(arrs.select(col("doc_id").as("container_id"), col("h").as("hb")),
        Seq("container_id"))
      .select(col("contained_id"), col("container_id"),
        expr("(cast(size(array_intersect(ha, hb)) as bigint) * 1000000L " +
          "+ size(ha) div 2) div size(ha)").as("containment_ppm"))
      .filter(col("containment_ppm") >= tq)
  }

  /** Exact n-gram Jaccard via prefix filtering (the all-pairs similarity-
    * join pruning of Chaudhuri/Bayardo et al.): under any global shingle
    * order, J(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉, so two qualifying docs
    * MUST share a shingle within each one's first |x| − ⌈t·|x|⌉ + 1
    * shingles. Ordering rarest-df-first makes those prefix shingles the
    * lowest-collision ones, so posting lists are built over a small,
    * low-df subset of the inverted index — candidate volume drops from
    * "any shared shingle" to "shared rare prefix shingle" with ZERO
    * recall loss (this is exact, unlike LSH). Verification length-filters
    * candidates, then intersects 48-bit-hashed shingle arrays — one
    * bounded-width row per candidate (see the in-line measurement note).
    *
    * Same output as jaccardPairs(threshold) by construction; the extra
    * cost is one df aggregate + one per-doc ranking pass, both linear.
    *
    * NOT the default exact tier. Measured head-to-head on df-scaled
    * corpora (SCALE.md r6 crossover table): the guarded
    * inverted-index join (`jaccardPairs` with a stop-shingle cap) wins at
    * every scale up to 4× the fixture, because the cap bounds exactly the
    * df² term prefix filtering prunes — at a fraction of the fixed cost.
    * Prefix's candidate pruning does flatten its growth curve (2.7× time
    * over 4× data vs 4.8× unguarded), so it remains the exact-threshold
    * fallback for when the cap's tiny recall concession (pairs whose only
    * shared shingles are hyper-frequent) is semantically unacceptable.
    */
  def jaccardPairsPrefix(documents: DataFrame, threshold: Double): DataFrame = {
    // v4 (r9). Three shape changes over v3, each motivated by the ×100
    // ladder (SCALE.md):
    //  1. The candidate stage runs entirely in the 48-BIT HASHED token
    //     universe (the same sh48Sql hashes v3 already verified with):
    //     every exploded row is (BIGINT, BIGINT) instead of carrying
    //     ~25-byte shingle strings — ~3× narrower shuffles for the two
    //     full-corpus stages. Self-consistent: prefix ordering, df, and
    //     verification all see the same token ids, so the output is the
    //     hashed-set Jaccard v3 already computed.
    //  2. df comes from a partial-aggregated count + co-partitioned join
    //     back, not collect_list posting arrays — the map-side combine
    //     means the df shuffle moves #distinct-shingles rows, not
    //     #corpus-rows, and no full posting array is ever materialized
    //     just to be re-exploded.
    //  3. Pairs are length- AND position-filtered INSIDE the bucket
    //     explode (the ppjoin filters, Xiao et al. 2008): J ≥ t forces
    //     |A∩B| ≥ ⌈t/(1+t)·(|A|+|B|)⌉, and for the pair's FIRST shared
    //     prefix token the overlap can't exceed min(|A|-posA, |B|-posB)
    //     — both pure arithmetic on values already in the posting row.
    //     Pruned pairs never reach the shuffle; the pair-dedup keeps any
    //     pair whose first-shared-token occurrence passes, so the filter
    //     is lossless (the first shared token of a qualifying pair is
    //     provably inside both prefixes). This also deletes v3's two
    //     size-lookup joins: |A| = size(ha) at verification.
    val t = threshold
    val sh48 = documents.select(col("doc_id"), explode(expr(sh48Sql)).as("tok"))
    val dfs = sh48.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // rarest-first prefix via one groupBy(doc) + per-row array sort/slice —
    // cheaper than a row_number window (no partition-wide sort machinery,
    // and the per-doc count falls out as size(ranked))
    val prefix = sh48.join(dfs, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ranked"))
      .withColumn("n", size(col("ranked")))
      .select(col("doc_id"), col("n"), posexplode(expr(
        s"slice(ranked, 1, size(ranked) - cast(ceil(${t}d * size(ranked)) as int) + 1)")))
      .select(col("doc_id"), col("n"), col("pos"), col("col.tok").as("tok"))
    // posting lists sorted by (n, pos, id); x = the smaller-set member.
    // keep ⟺ length filter ∧ positional filter, with 1e-9 slack so float
    // error can only ADMIT a candidate, never prune a true pair
    val pairsSql =
      "flatten(transform(ds, (x, i) -> " +
        "filter(transform(slice(ds, i + 2, size(ds)), y -> named_struct(" +
        "'doc_a', if(x.doc_id < y.doc_id, x.doc_id, y.doc_id), " +
        "'doc_b', if(x.doc_id < y.doc_id, y.doc_id, x.doc_id), " +
        s"'keep', cast(x.n as double) >= ${t}d * y.n - 1e-9d and " +
        s"least(x.n - x.pos, y.n - y.pos) >= " +
        s"ceil(${t}d / (1.0d + ${t}d) * (x.n + y.n) - 1e-9d))), " +
        "p -> p.keep)))"
    val cands = prefix
      .groupBy(col("tok"))
      .agg(sort_array(collect_list(struct(col("n"), col("pos"), col("doc_id")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(pairsSql)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    // Verification: one bounded-width row per candidate — 48-bit hashed
    // arrays (exact up to ~n²/2⁴⁸ collision odds — negligible at any
    // corpus that fits a datacenter, and the DuckDB gate fails loudly on
    // one); set sizes read off the arrays, no separate size join.
    val arrs48 = documents.select(col("doc_id"), expr(sh48Sql).as("h"))
    cands
      .join(arrs48.select(col("doc_id").as("doc_a"), col("h").as("ha")), Seq("doc_a"))
      .join(arrs48.select(col("doc_id").as("doc_b"), col("h").as("hb")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("ha"), col("hb"))))
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast(DoubleType) /
          (size(col("ha")) + size(col("hb")) - col("common")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 32-bit SimHash per document, computed entirely per-row: for each bit,
    * a fold over the let-bound shingle hashes votes +1/−1; positive votes
    * set the bit. Zero shuffles — the whole corpus signature pass is one
    * map. Near-dup detection = hamming distance ≤ d on the signatures
    * (bucketable by bit-slices exactly like LSH bands).
    */
  def simhash(documents: DataFrame): DataFrame = {
    val simhashBody =
      "aggregate(transform(sequence(0, 31), b -> " +
        "case when aggregate(hs, 0, (acc, h) -> acc + " +
        "(case when (shiftright(h, b) & 1) = 1 then 1 else -1 end)) > 0 " +
        "then shiftleft(1L, b) else 0L end), 0L, (acc, x) -> acc + x)"
    // Generate-gated fusion — one tokenizer run per row; the single-element
    // array carries the signature for qualifying docs, nothing otherwise
    val simhashOrEmptySql = letScalar(tokensSql, "t",
      s"if(size(t) >= 3, array(cast(" +
        letScalar(shFrom("t"), "s0", letScalar(hvsFrom("s0"), "hs", simhashBody)) +
        " as bigint)), cast(array() as array<bigint>))")
    documents
      .select(col("doc_id"), explode(expr(simhashOrEmptySql)).as("simhash"))
  }

  /** LSH bucket-occupancy histogram — the LSH HEALTH audit: how many
    * (band, band_key) buckets hold 1, 2, 3… documents. Candidate-pair
    * volume is Σ |bucket|·(|bucket|−1)/2, so a fat tail here IS the
    * candidate blowup before it happens (a template flood shows up as a
    * giant bucket long before the pair join melts); all-singleton
    * buckets mean the banding is too fine to recall anything. One
    * (band, key) aggregate then a bucket-size rollup — the same
    * shape `component_size_profile` gives the collapse step, here for
    * the candidate generation step.
    */
  def lshBucketOccupancy(documents: DataFrame): DataFrame =
    lshBands(documents)
      .groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"),
        expr("cast(sum(sz * (sz - 1) div 2) as bigint)").as("candidate_pairs"))

  /** Cross-source duplication matrix — WHERE the near-dup mass lives:
    * candidate pairs bucketed by their endpoints' (source_a, source_b)
    * with the pair ordered so the matrix is upper-triangular
    * (source_a ≤ source_b). Off-diagonal mass means sources re-crawl
    * each other's material (dedup BETWEEN feeds matters more than
    * within); a hot diagonal cell means one source self-duplicates
    * (template flood). Two broadcast-scale joins of the pair frame to
    * the (doc_id, source) projection — O(|pairs|).
    */
  def crossSourceDupMatrix(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Dedup selection-bias audit: does collapsing clusters SHIFT the
    * corpus quality distribution? Three integer-ppm quality means on one
    * row — the full corpus, the min-id survivors (what naive dedup
    * keeps), and the keep-best survivors — plus the doc counts. A
    * min-id mean sitting below the corpus mean says naive dedup is
    * systematically discarding the good variant (the argument for
    * quality-aware retention, now as a measured number instead of a
    * belief). Quality is the same integer-ppm score the retention tier
    * ranks by; survivors derive from the shared component frame.
    */
  def dedupQualityShift(documents: DataFrame, components: DataFrame): DataFrame = {
    val q = documents.select(col("doc_id"), TextOps.qualityPpm.as("q"))
      .join(components.select(col("doc_id"), col("component")), Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    // min-id survivor per component; keep-best survivor = max (q, -doc_id)
    val surv = q.groupBy(col("component"))
      .agg(min(col("doc_id")).as("min_id"),
        max(struct(col("q"), (-col("doc_id")).as("nid"))).as("best"))
    def ppmMean(df: DataFrame) =
      df.agg(count(lit(1)).as("n"),
        expr("cast((sum(q) + count(1) div 2) div count(1) as bigint)").as("m"))
    val all = ppmMean(q)
    val minKeep = ppmMean(q.join(surv.select(col("min_id").as("doc_id")), Seq("doc_id")))
    val bestKeep = ppmMean(q.join(
      surv.select((-col("best.nid")).as("doc_id")), Seq("doc_id")))
    all.select(col("n").as("n_docs"), col("m").as("corpus_mean_ppm"))
      .crossJoin(minKeep.select(col("n").as("n_survivors"),
        col("m").as("min_id_mean_ppm")))
      .crossJoin(bestKeep.select(col("m").as("keep_best_mean_ppm")))
  }

  /** B-cubed evaluation of the near-dup clustering (Bagga & Baldwin) —
    * the clustering-quality read the pairwise `lsh_recall_audit` can't
    * give: per DOC, what fraction of its predicted cluster shares its
    * gold cluster (precision) and what fraction of its gold cluster its
    * predicted cluster recovers (recall), averaged over docs. Gold =
    * exact-text groups (min-doc_id labels over the md5 key — never the
    * full text shuffled); predicted = the persisted near-dup component
    * index, unpaired docs their own singleton. B³ punishes both
    * over-merging (precision) and under-merging (recall) PER DOC, so a
    * giant wrong cluster costs proportionally to its size — the property
    * pair-counting metrics lack. All half-up integer ppm: per-(pred,
    * gold) cell ratios weighted by cell size, one division per side,
    * F1 from the already-rounded means. Three partial-agg shuffles on
    * (hash/pred/gold) keys; the cell grid is duplicate-structure-scale.
    */
  def bcubedDedupEval(documents: DataFrame, components: DataFrame): DataFrame = {
    val g = documents.select(col("doc_id"), md5(col("text")).as("th"))
    val gid = g.groupBy(col("th")).agg(min(col("doc_id")).as("gold"))
    val assign = g.join(gid, Seq("th"))
      .join(components.select(col("doc_id"), col("component")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("pred"), col("gold"))
    val np = assign.groupBy(col("pred")).agg(count(lit(1)).as("n_p"))
    val ng = assign.groupBy(col("gold")).agg(count(lit(1)).as("n_g"))
    val cell = assign.groupBy(col("pred"), col("gold")).agg(count(lit(1)).as("c"))
    val tot = assign.agg(count(lit(1)).as("n"))
    cell.join(np, "pred").join(ng, "gold")
      .agg(sum(expr("cast(c as decimal(38,0)) * ((cast(c as decimal(38,0)) * 1000000 + n_p div 2) div n_p)")).as("sp"),
        sum(expr("cast(c as decimal(38,0)) * ((cast(c as decimal(38,0)) * 1000000 + n_g div 2) div n_g)")).as("sr"))
      .crossJoin(broadcast(tot))
      .select(col("n").as("n_docs"),
        expr("(sp + n div 2) div n").as("precision_ppm"),
        expr("(sr + n div 2) div n").as("recall_ppm"))
      .withColumn("f1_ppm",
        expr("""(2 * precision_ppm * recall_ppm
          | + (precision_ppm + recall_ppm) div 2)
          | div (precision_ppm + recall_ppm)""".stripMargin))
  }

  /** Multi-screen near-dup EVIDENCE audit — the per-pair explanation row
    * behind the union graph `graph_triangles` consumes: for every
    * candidate pair (MinHash ∪ winnowing), how many LSH bands agreed,
    * how many winnowing fingerprints are shared, and the SimHash Hamming
    * distance — three independent detectors on one audit line, with
    * `evidence_tiers` counting how many fired at their shipping
    * thresholds. A pair flagged by one screen but contradicted by the
    * other two is the false-positive shape a collapse review looks for;
    * three-of-three is safe to hard-merge. Scale: the band self-join is
    * the same bucket join the candidate derivation already pays, the
    * rest is per-pair probes — O(|pairs|), never corpus². NOTE |pairs|
    * itself is quadratic in duplicate-CLUSTER size (a 10-copy cluster is
    * 45 pairs — measured e=1.87 on the sf1 ladder's dup-heavy
    * expansion), so the collapse-first deploy rule is ENFORCED here
    * (r12 verdict task 2), not just documented: the default path runs
    * the component collapse over the union pair graph and keeps at most
    * `maxPairsPerComponent` pairs per cluster — deterministic keep, top
    * pairs by (signature-estimated Jaccard DESC, doc_a, doc_b) — before
    * any of the three per-pair screens run. A template-flood cluster of
    * c docs then costs c·log c (components) + the cheap 16-row signature
    * probe per candidate pair for the ranking, but the three-detector
    * evidence work and the output are bounded at `maxPairsPerComponent`
    * rows per cluster instead of c(c−1)/2. Pass Int.MaxValue for the
    * unbudgeted control shape.
    */
  def dupEvidence(documents: DataFrame, mpairs: DataFrame, wpairs: DataFrame,
                  maxHamming: Int = 3,
                  maxPairsPerComponent: Int = 24): DataFrame = {
    val uAll = mpairs.select(col("doc_a"), col("doc_b"))
      .union(wpairs.select(col("doc_a"), col("doc_b"))).distinct()
    val u =
      if (maxPairsPerComponent == Int.MaxValue) uAll
      else {
        val comps = dupComponents(uAll)
        val sig = minhashSignatures(documents)
        // the SAME signature-agreement estimate minhashEstimateAudit
        // gates — 16 signature rows per pair, O(|pairs|) — as the rank
        // key; left + coalesce(0) so a pair whose doc has an empty
        // signature (sub-shingle-length text) still ranks, at the bottom
        val est = uAll
          .join(sig.select(col("doc_id").as("doc_a"), col("hash_idx"),
            col("minhash").as("ma")), Seq("doc_a"))
          .join(sig.select(col("doc_id").as("doc_b"), col("hash_idx"),
            col("minhash").as("mb")), Seq("doc_b", "hash_idx"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(expr(
            "cast((sum(case when ma = mb then 1 else 0 end) * 1000000 + 8) div 16 as bigint)")
            .as("est_ppm"))
        val wspec = Window.partitionBy(col("component"))
          .orderBy(col("est_ppm").desc, col("doc_a"), col("doc_b"))
        uAll
          .join(est, Seq("doc_a", "doc_b"), "left")
          .na.fill(0L, Seq("est_ppm"))
          .join(comps.select(col("doc_id").as("doc_a"), col("component")),
            Seq("doc_a"))
          .withColumn("rn", row_number().over(wspec))
          .filter(col("rn") <= maxPairsPerComponent)
          .select(col("doc_a"), col("doc_b"))
      }
    val bands = lshBands(documents)
    val bshare = bands.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band"), col("band_key"), col("doc_id").as("doc_b")),
        Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_bands"))
    val sim = simhash(documents)
    u.join(bshare, Seq("doc_a", "doc_b"), "left")
      .join(wpairs.select(col("doc_a"), col("doc_b"), col("n_shared").as("n_winnow")),
        Seq("doc_a", "doc_b"), "left")
      .join(sim.select(col("doc_id").as("doc_a"), col("simhash").as("sa")), Seq("doc_a"))
      .join(sim.select(col("doc_id").as("doc_b"), col("simhash").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("n_bands"), lit(0L)).as("n_bands"),
        coalesce(col("n_winnow"), lit(0L)).as("n_winnow"),
        expr("cast(bit_count(sa ^ sb) as int)").as("sim_hamming"))
      .withColumn("evidence_tiers",
        expr(s"""cast(n_bands > 0 as int) + cast(n_winnow >= 2 as int)
                | + cast(sim_hamming <= $maxHamming as int)""".stripMargin))
  }

  /** The persisted EVIDENCE-BASE build for [[dupEvidence]] (r13 verdict
    * task 3): every union-graph pair with its component label, its
    * signature-agreement rank key, and all three detector readings, as
    * one narrow table landed once per corpus snapshot. [[dupEvidence]]
    * and its budget variants re-derived union pairs + components +
    * signature ranks + the band self-join PER QUERY (~25 s combined at
    * sf0.1; a full re-clustering per consumer at 100 TB); against this
    * base each budget read is one window + one filter — the
    * `graph_triangles_stored` amortization, applied to the evidence
    * family. Columns: (doc_a, doc_b, component, est_ppm, n_bands,
    * n_winnow, sim_hamming) — everything [[dupEvidenceFromBase]] needs
    * to replay ANY budget, so one artifact serves every budget knob.
    */
  def dupEvidenceBase(documents: DataFrame, mpairs: DataFrame,
                      wpairs: DataFrame): DataFrame = {
    val uAll = mpairs.select(col("doc_a"), col("doc_b"))
      .union(wpairs.select(col("doc_a"), col("doc_b"))).distinct()
    val comps = dupComponents(uAll)
    val sig = minhashSignatures(documents)
    val est = uAll
      .join(sig.select(col("doc_id").as("doc_a"), col("hash_idx"),
        col("minhash").as("ma")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("hash_idx"),
        col("minhash").as("mb")), Seq("doc_b", "hash_idx"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(expr(
        "cast((sum(case when ma = mb then 1 else 0 end) * 1000000 + 8) div 16 as bigint)")
        .as("est_ppm"))
    val bands = lshBands(documents)
    val bshare = bands.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band"), col("band_key"), col("doc_id").as("doc_b")),
        Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_bands"))
    val sim = simhash(documents)
    uAll
      .join(est, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("est_ppm"))
      .join(comps.select(col("doc_id").as("doc_a"), col("component")), Seq("doc_a"))
      .join(bshare, Seq("doc_a", "doc_b"), "left")
      .join(wpairs.select(col("doc_a"), col("doc_b"), col("n_shared").as("n_winnow")),
        Seq("doc_a", "doc_b"), "left")
      .join(sim.select(col("doc_id").as("doc_a"), col("simhash").as("sa")), Seq("doc_a"))
      .join(sim.select(col("doc_id").as("doc_b"), col("simhash").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("component"), col("est_ppm"),
        coalesce(col("n_bands"), lit(0L)).as("n_bands"),
        coalesce(col("n_winnow"), lit(0L)).as("n_winnow"),
        expr("cast(bit_count(sa ^ sb) as int)").as("sim_hamming"))
  }

  /** Budget replay over the persisted evidence base — semantically
    * identical to [[dupEvidence]] at the same budget (the oracle is
    * shared VERBATIM in the registry): per component, keep the top
    * `maxPairsPerComponent` pairs by (est_ppm DESC, doc_a, doc_b), then
    * read the three detector columns already landed in the base. Cost
    * shape: one component-keyed window over the pair table — no corpus
    * scan, no band self-join, no component iteration.
    */
  def dupEvidenceFromBase(base: DataFrame, maxHamming: Int = 3,
                          maxPairsPerComponent: Int = 24): DataFrame = {
    val wspec = Window.partitionBy(col("component"))
      .orderBy(col("est_ppm").desc, col("doc_a"), col("doc_b"))
    base
      .withColumn("rn", row_number().over(wspec))
      .filter(col("rn") <= maxPairsPerComponent)
      .select(col("doc_a"), col("doc_b"), col("n_bands"), col("n_winnow"),
        col("sim_hamming"))
      .withColumn("evidence_tiers",
        expr(s"""cast(n_bands > 0 as int) + cast(n_winnow >= 2 as int)
                | + cast(sim_hamming <= $maxHamming as int)""".stripMargin))
  }

  /** The winnow PRINT index — (doc_id, fp) distinct — the third narrow
    * artifact a production deployment lands alongside [[dupEvidenceBase]]
    * and the band index ([[lshBands]]) at snapshot time. Prints are
    * per-document (corpus-independent), so the index is one shuffle-free
    * pass; [[dupEvidenceBaseDelta]] probes it by fingerprint to find the
    * docs a delta's winnow overlaps can possibly touch.
    */
  def winnowPrintIndex(documents: DataFrame): DataFrame =
    TextOps.winnowFingerprints(documents)
      .select(col("doc_id"), col("fp")).distinct()

  /** Everything the delta maintenance shares between the base update and
    * the staleness row: the grown union pair set with its change sets.
    */
  private case class EvidencePairDelta(
      uOld: DataFrame, uGrown: DataFrame, added: DataFrame,
      removed: DataFrame, wANew: DataFrame, aDocs: DataFrame,
      newBands: DataFrame)

  /** The pair-set half of [[dupEvidenceBaseDelta]] — all frames are
    * delta-bounded given the persisted indexes (see that method's
    * scaladoc for the touched-fingerprint argument).
    */
  private def evidencePairDelta(oldBase: DataFrame, oldPrints: DataFrame,
                                oldBands: DataFrame, grownDocs: DataFrame,
                                cutoff: Long): EvidencePairDelta = {
    val newDocs = grownDocs.filter(col("doc_id") >= cutoff)
    val newPrints = TextOps.winnowFingerprints(newDocs)
      .select(col("doc_id"), col("fp")).distinct().localCheckpoint()
    val newBands = lshBands(newDocs).localCheckpoint()

    // ---- winnow tier: only pairs of docs holding a TOUCHED fingerprint
    // (one the delta also holds) can change — a pair's n_shared counts
    // fingerprints BOTH endpoints hold whose global doc-frequency sits in
    // the (1, 50] guard window, and a delta can only move the membership
    // or df of fingerprints it holds. So the affected doc set A is the
    // holders of touched fps (old, via the print index probe) plus the
    // delta itself, and the winnow pair set is recomputed EXACTLY on A×A
    // (with GLOBAL dfs) while every pair outside A×A is provably
    // unchanged.
    val touchedFps = newPrints.select(col("fp")).distinct()
    val aOldDocs = oldPrints.join(touchedFps, Seq("fp"), "left_semi")
      .select(col("doc_id")).distinct()
    val aDocs = aOldDocs.union(newDocs.select(col("doc_id")))
      .distinct().localCheckpoint()
    val printsAOld = oldPrints.join(aDocs, Seq("doc_id"), "left_semi")
    val printsA = printsAOld.unionByName(newPrints).localCheckpoint()
    // global dfs (the [2, 50] emission guard reads the FULL posting-list
    // size, never the A-restricted one). The old df aggregate is one
    // narrow pass over the print index; a production deployment persists
    // it next to the index and probes both by touched fp. r17 MEASURED
    // NEGATIVE: pre-restricting the aggregate to printsA's fps (a
    // left_semi before the groupBy — result-identical, delta-scale
    // shuffle at 100 TB) read +0.8 s on dup_evidence_incremental here
    // (5.8 → 6.6 s, adjacent same-context subset runs) — oldDf is
    // consumed twice and the added broadcast-semi chains cost more
    // locally than the smaller aggregate saves; kept as the documented
    // scale formulation for a deployment, not worth the local tax.
    val oldDf = oldPrints.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val newDf = newPrints.groupBy(col("fp")).agg(count(lit(1)).as("dfn"))
    val dfGrown = oldDf.join(newDf, Seq("fp"), "full_outer")
      .select(col("fp"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("dfn"), lit(0L))).as("df"))
    def wsharedOf(prints: DataFrame, dfs: DataFrame): DataFrame = {
      val guarded = prints.join(
        dfs.filter(col("df") > 1 && col("df") <= 50).select(col("fp")),
        Seq("fp"), "left_semi")
      guarded.select(col("fp"), col("doc_id").as("doc_a"))
        .join(guarded.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
    }
    val wANew = wsharedOf(printsA, dfGrown).localCheckpoint()
    val wAOld = wsharedOf(printsAOld, oldDf)
    // membership is n_shared >= 2 (winnowOverlapPairs' minShared); the
    // old A×A slice is recomputed identically, so set algebra is exact
    val wOldPairs = oldBase.filter(col("n_winnow") >= 2)
      .select(col("doc_a"), col("doc_b"))
    val wGrownPairs = wOldPairs
      .join(wAOld.filter(col("n_shared") >= 2).select(col("doc_a"), col("doc_b")),
        Seq("doc_a", "doc_b"), "left_anti")
      .union(wANew.filter(col("n_shared") >= 2).select(col("doc_a"), col("doc_b")))
      .distinct()

    // ---- minhash tier: band keys are per-doc, so the old-old pair set
    // is INVARIANT under growth (no df guard in the band join); new pairs
    // come only from buckets the delta touches, and a pair has a delta
    // endpoint iff its larger id clears the cutoff (delta ids are the
    // largest by construction).
    val touchedKeys = newBands.select(col("band"), col("band_key")).distinct()
    val bandsTouched = oldBands.unionByName(newBands)
      .join(touchedKeys, Seq("band", "band_key"), "left_semi")
    val mDelta = bandsTouched
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(bucketPairsSql)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .filter(col("doc_b") >= cutoff)
      .distinct()
    val mGrownPairs = oldBase.filter(col("n_bands") >= 1)
      .select(col("doc_a"), col("doc_b"))
      .union(mDelta).distinct()

    val uOld = oldBase.select(col("doc_a"), col("doc_b"))
    val uGrown = mGrownPairs.union(wGrownPairs).distinct().localCheckpoint()
    val added = uGrown.join(uOld, Seq("doc_a", "doc_b"), "left_anti")
      .localCheckpoint()
    val removed = uOld.join(uGrown, Seq("doc_a", "doc_b"), "left_anti")
      .localCheckpoint()
    EvidencePairDelta(uOld, uGrown, added, removed, wANew, aDocs, newBands)
  }

  /** O(delta) maintenance for the persisted dup-evidence base (r14
    * verdict task 6): [[dupEvidenceBase]] lands once per corpus snapshot
    * but had no append path — a corpus delta forced a full re-land,
    * unlike the fp/band indexes ([[screenDeltaAgainstCorpus]]) and the
    * ANN indexes (knnGraphAttach). This takes the landed base, the
    * winnow print index, the band posting index, and the grown corpus,
    * and produces the grown base EXACTLY equal to a full rebuild
    * (`dup_evidence_incremental`'s oracle IS the full-rebuild SQL), with
    * every recomputation delta-bounded:
    *  - minhash pairs: per-doc band keys are corpus-independent, so only
    *    buckets the delta touches can add pairs, and old-old pairs never
    *    change.
    *  - winnow pairs: the [2, 50] df guard makes old-old pairs
    *    non-invariant (a delta doc pushing a fingerprint past the guard
    *    REMOVES old contributions), so the affected doc set A (holders
    *    of delta-touched fingerprints) is recomputed exactly, old A×A
    *    slice and grown A×A slice, with global dfs — every pair outside
    *    A×A is provably untouched.
    *  - detector readings (est_ppm, n_bands, sim_hamming) are per-pair
    *    and corpus-independent: recomputed only for added pairs (from
    *    the endpoint docs alone); n_winnow is refreshed for kept A×A
    *    pairs from the recomputed slice.
    *  - components: labels can MERGE (added edges) and SPLIT (removed
    *    winnow edges), so the touched components — those containing any
    *    endpoint of a changed pair — are re-collapsed from their kept
    *    edges plus the additions, and every untouched component keeps
    *    its label (its edge set is unchanged, so its min-id label is
    *    too). At 100 TB this is the difference between re-clustering
    *    the corpus per append and collapsing a delta-bounded subgraph.
    */
  def dupEvidenceBaseDelta(oldBase: DataFrame, oldPrints: DataFrame,
                           oldBands: DataFrame, grownDocs: DataFrame,
                           cutoff: Long): DataFrame = {
    val d = evidencePairDelta(oldBase, oldPrints, oldBands, grownDocs, cutoff)

    // ---- component rebuild region: components holding any changed-pair
    // endpoint (old endpoints map through the base's labels; delta docs
    // enter as fresh nodes via the added pairs themselves)
    val oldLabels = oldBase.select(col("doc_a").as("doc_id"), col("component"))
      .union(oldBase.select(col("doc_b").as("doc_id"), col("component")))
      .distinct()
    val changed = d.added.union(d.removed)
    val changedOldEnds = changed.select(col("doc_a").as("doc_id"))
      .union(changed.select(col("doc_b").as("doc_id")))
      .distinct().filter(col("doc_id") < cutoff)
    // single consumer (regionKept's semi-join, itself checkpointed) — no
    // eager barrier needed here (r17, guide §5)
    val touchedComps = oldLabels.join(changedOldEnds, Seq("doc_id"), "left_semi")
      .select(col("component")).distinct()
    val keptBase = oldBase.join(d.removed, Seq("doc_a", "doc_b"), "left_anti")
      .localCheckpoint()
    // Union children are scrubbed through the RDD boundary: a
    // localCheckpoint leaf PRESERVES the origin plan's constraints, and
    // here those reference attributes pruned before the checkpoint (the
    // semi-join's `component`, the anti-join lineage) — when an
    // optimizer rule asks the Union above them for constraints,
    // Catalyst's rewrite crashes with key-not-found. createDataFrame
    // over the checkpointed RDD mints constraint-free leaves; both
    // frames are delta-bounded, so the row round-trip is noise.
    val regionKept = keptBase.join(touchedComps, Seq("component"), "left_semi")
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    def scrubbed(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd, df.schema)
    val regionEdges = scrubbed(regionKept)
      .union(scrubbed(d.added.select(col("doc_a"), col("doc_b"))))
    // a delta's touched region is normally delta-bounded, so the
    // collapse finishes on the driver with no star rounds; a template
    // flood contracts on the cluster first
    val regionLabels = dupComponents(regionEdges)

    // ---- fresh readings for added pairs: all three detectors read only
    // the endpoint docs (per-pair, corpus-independent), so the probe set
    // is the added pairs' endpoints
    val epIds = d.added.select(col("doc_a").as("doc_id"))
      .union(d.added.select(col("doc_b").as("doc_id"))).distinct()
    val epDocs = grownDocs.join(epIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val sig = minhashSignatures(epDocs)
    val estAdded = d.added
      .join(sig.select(col("doc_id").as("doc_a"), col("hash_idx"),
        col("minhash").as("ma")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("hash_idx"),
        col("minhash").as("mb")), Seq("doc_b", "hash_idx"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(expr(
        "cast((sum(case when ma = mb then 1 else 0 end) * 1000000 + 8) div 16 as bigint)")
        .as("est_ppm"))
    val allBands = oldBands.unionByName(d.newBands)
    val nBandsAdded = d.added
      .join(allBands.select(col("doc_id").as("doc_a"), col("band"),
        col("band_key")), Seq("doc_a"))
      .join(allBands.select(col("doc_id").as("doc_b"), col("band"),
        col("band_key")), Seq("doc_b", "band", "band_key"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_bands"))
    val simEp = simhash(epDocs)
    val addedRows = d.added
      .join(estAdded, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("est_ppm"))
      .join(nBandsAdded, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_bands"))
      .join(d.wANew.select(col("doc_a"), col("doc_b"), col("n_shared")),
        Seq("doc_a", "doc_b"), "left")
      .withColumn("n_winnow",
        when(col("n_shared") >= 2, col("n_shared")).otherwise(lit(0L)))
      .join(simEp.select(col("doc_id").as("doc_a"), col("simhash").as("sa")),
        Seq("doc_a"))
      .join(simEp.select(col("doc_id").as("doc_b"), col("simhash").as("sb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_ppm"), col("n_bands"),
        col("n_winnow"), expr("cast(bit_count(sa ^ sb) as int)").as("sim_hamming"))

    // ---- kept pairs: readings carry over, except n_winnow on A×A pairs
    // (the recomputed slice is the truth — values can shrink when a
    // fingerprint crosses the df guard)
    val keptRows = keptBase
      .join(d.aDocs.select(col("doc_id").as("doc_a"), lit(1).as("fa")),
        Seq("doc_a"), "left")
      .join(d.aDocs.select(col("doc_id").as("doc_b"), lit(1).as("fb")),
        Seq("doc_b"), "left")
      .join(d.wANew.select(col("doc_a"), col("doc_b"),
        col("n_shared").as("ns_new")), Seq("doc_a", "doc_b"), "left")
      .withColumn("n_winnow",
        when(col("fa").isNotNull && col("fb").isNotNull,
          when(col("ns_new") >= 2, col("ns_new")).otherwise(lit(0L)))
          .otherwise(col("n_winnow")))
      .select(col("doc_a"), col("doc_b"), col("component"), col("est_ppm"),
        col("n_bands"), col("n_winnow"), col("sim_hamming"))

    // ---- final labels: a doc appears in the region relabeling iff its
    // whole component was touched (or it is new), so one left join +
    // coalesce assigns every pair its grown-graph label
    keptRows
      .unionByName(addedRows.withColumn("component",
        lit(null).cast(keptRows.schema("component").dataType))
        .select(col("doc_a"), col("doc_b"), col("component"), col("est_ppm"),
          col("n_bands"), col("n_winnow"), col("sim_hamming")))
      .join(regionLabels.select(col("doc_id").as("doc_a"),
        col("component").as("rcomp")), Seq("doc_a"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("rcomp"), col("component")).as("component"),
        col("est_ppm"), col("n_bands"), col("n_winnow"), col("sim_hamming"))
  }

  /** O(delta) DELETE maintenance for the persisted dup-evidence base —
    * the direction [[dupEvidenceBaseDelta]] doesn't cover, and the one
    * where the winnow df guard works AGAINST intuition: removing docs
    * LOWERS fingerprint doc-frequencies, so a fingerprint can cross INTO
    * the (1, 50] guard window from above and ADD pairs between surviving
    * holders — deletions from this base are not a subset operation. The
    * touched-fingerprint argument bounds the work symmetrically to the
    * append side: a pair's n_winnow can change only through fingerprints
    * whose df changed, and dfs change only for fingerprints the REMOVED
    * docs hold. So:
    *
    *  - winnow tier: A = surviving holders of touched fps; the A×A slice
    *    recomputes exactly (survivor prints, globally SHRUNK dfs), every
    *    pair outside A×A is provably unchanged, and pairs with a removed
    *    endpoint drop;
    *  - minhash tier: band keys are per-doc, so removals only REMOVE
    *    pairs (drop rows touching a removed doc) — exactly the mirror of
    *    the append side's old-old invariance;
    *  - readings: per-pair and corpus-independent, so kept pairs carry
    *    their readings except n_winnow on A×A (the recomputed slice is
    *    the truth); added (guard-entry) pairs read their detectors fresh
    *    from the endpoint docs;
    *  - components: both splits (removed edges/docs) and merges
    *    (guard-entry edges) are possible — the changed-pair endpoints'
    *    components re-collapse, everything else keeps its label.
    *
    * Gate: `dup_evidence_shrunk` = [[dupEvidenceFromBase]] over this
    * frame vs the FULL-REBUILD evidence SQL on the survivor corpus.
    */
  def dupEvidenceBaseShrink(oldBase: DataFrame, oldPrints: DataFrame,
                            oldBands: DataFrame, documents: DataFrame,
                            removed: DataFrame): DataFrame = {
    val rem = removed.select(col("doc_id")).localCheckpoint()
    // USING-column joins move the key columns to the FRONT of the output
    // (the second anti-join below yields (doc_b, doc_a) order), so every
    // consumer must re-select — a positional union downstream would
    // silently swap pair endpoints otherwise
    def survPairs(pairs: DataFrame): DataFrame = pairs
      .join(rem.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(rem.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b"))

    // ---- winnow tier: exact A×A recompute under the shrunk global dfs
    val touchedFps = oldPrints.join(rem, Seq("doc_id"), "left_semi")
      .select(col("fp")).distinct()
    val aDocs = oldPrints.join(touchedFps, Seq("fp"), "left_semi")
      .select(col("doc_id")).distinct()
      .join(rem, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val printsA = oldPrints.join(aDocs, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val oldDf = oldPrints.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val remDf = oldPrints.join(rem, Seq("doc_id"), "left_semi")
      .groupBy(col("fp")).agg(count(lit(1)).as("dfr"))
    val dfShrunk = oldDf.join(remDf, Seq("fp"), "left")
      .select(col("fp"),
        (col("df") - coalesce(col("dfr"), lit(0L))).as("df"))
    def wsharedOf(prints: DataFrame, dfs: DataFrame): DataFrame = {
      val guarded = prints.join(
        dfs.filter(col("df") > 1 && col("df") <= 50).select(col("fp")),
        Seq("fp"), "left_semi")
      guarded.select(col("fp"), col("doc_id").as("doc_a"))
        .join(guarded.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
    }
    val wANew = wsharedOf(printsA, dfShrunk).localCheckpoint()
    val wAOld = wsharedOf(printsA, oldDf)
    val wShrunkPairs = survPairs(
        oldBase.filter(col("n_winnow") >= 2).select(col("doc_a"), col("doc_b")))
      .join(wAOld.filter(col("n_shared") >= 2).select(col("doc_a"), col("doc_b")),
        Seq("doc_a", "doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b"))
      .unionByName(wANew.filter(col("n_shared") >= 2).select(col("doc_a"), col("doc_b")))
      .distinct()

    // ---- minhash tier: per-doc band keys — removals only remove
    val mShrunkPairs = survPairs(
      oldBase.filter(col("n_bands") >= 1).select(col("doc_a"), col("doc_b")))

    val uOld = oldBase.select(col("doc_a"), col("doc_b"))
    val uShrunk = mShrunkPairs.unionByName(wShrunkPairs).distinct().localCheckpoint()
    val added = uShrunk.join(uOld, Seq("doc_a", "doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val removedPairs = uOld.join(uShrunk, Seq("doc_a", "doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b")).localCheckpoint()

    // ---- component rebuild region (same shape as the append side)
    val oldLabels = oldBase.select(col("doc_a").as("doc_id"), col("component"))
      .union(oldBase.select(col("doc_b").as("doc_id"), col("component")))
      .distinct()
    val changedEnds = added.union(removedPairs)
      .select(col("doc_a").as("doc_id"))
      .union(added.union(removedPairs).select(col("doc_b").as("doc_id")))
      .distinct()
    // single consumer (regionKept's semi-join, itself checkpointed) — no
    // eager barrier needed here (r17, guide §5)
    val touchedComps = oldLabels.join(changedEnds, Seq("doc_id"), "left_semi")
      .select(col("component")).distinct()
    val keptBase = oldBase.join(removedPairs, Seq("doc_a", "doc_b"), "left_anti")
      .localCheckpoint()
    val regionKept = keptBase.join(touchedComps, Seq("component"), "left_semi")
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    def scrubbed(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd, df.schema)
    val regionLabels = dupComponents(
      scrubbed(regionKept).union(scrubbed(added.select(col("doc_a"), col("doc_b")))))

    // ---- fresh readings for guard-entry pairs
    val epIds = added.select(col("doc_a").as("doc_id"))
      .union(added.select(col("doc_b").as("doc_id"))).distinct()
    val epDocs = documents.join(epIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val sig = minhashSignatures(epDocs)
    val estAdded = added
      .join(sig.select(col("doc_id").as("doc_a"), col("hash_idx"),
        col("minhash").as("ma")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("hash_idx"),
        col("minhash").as("mb")), Seq("doc_b", "hash_idx"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(expr(
        "cast((sum(case when ma = mb then 1 else 0 end) * 1000000 + 8) div 16 as bigint)")
        .as("est_ppm"))
    val survBands = oldBands.join(rem, Seq("doc_id"), "left_anti")
    val nBandsAdded = added
      .join(survBands.select(col("doc_id").as("doc_a"), col("band"),
        col("band_key")), Seq("doc_a"))
      .join(survBands.select(col("doc_id").as("doc_b"), col("band"),
        col("band_key")), Seq("doc_b", "band", "band_key"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_bands"))
    val simEp = simhash(epDocs)
    val addedRows = added
      .join(estAdded, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("est_ppm"))
      .join(nBandsAdded, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_bands"))
      .join(wANew.select(col("doc_a"), col("doc_b"), col("n_shared")),
        Seq("doc_a", "doc_b"), "left")
      .withColumn("n_winnow",
        when(col("n_shared") >= 2, col("n_shared")).otherwise(lit(0L)))
      .join(simEp.select(col("doc_id").as("doc_a"), col("simhash").as("sa")),
        Seq("doc_a"))
      .join(simEp.select(col("doc_id").as("doc_b"), col("simhash").as("sb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_ppm"), col("n_bands"),
        col("n_winnow"), expr("cast(bit_count(sa ^ sb) as int)").as("sim_hamming"))

    // ---- kept pairs: readings carry over except n_winnow on A×A
    val keptRows = keptBase
      .join(aDocs.select(col("doc_id").as("doc_a"), lit(1).as("fa")),
        Seq("doc_a"), "left")
      .join(aDocs.select(col("doc_id").as("doc_b"), lit(1).as("fb")),
        Seq("doc_b"), "left")
      .join(wANew.select(col("doc_a"), col("doc_b"),
        col("n_shared").as("ns_new")), Seq("doc_a", "doc_b"), "left")
      .withColumn("n_winnow",
        when(col("fa").isNotNull && col("fb").isNotNull,
          when(col("ns_new") >= 2, col("ns_new")).otherwise(lit(0L)))
          .otherwise(col("n_winnow")))
      .select(col("doc_a"), col("doc_b"), col("component"), col("est_ppm"),
        col("n_bands"), col("n_winnow"), col("sim_hamming"))

    keptRows
      .unionByName(addedRows.withColumn("component",
        lit(null).cast(keptRows.schema("component").dataType))
        .select(col("doc_a"), col("doc_b"), col("component"), col("est_ppm"),
          col("n_bands"), col("n_winnow"), col("sim_hamming")))
      .join(regionLabels.select(col("doc_id").as("doc_a"),
        col("component").as("rcomp")), Seq("doc_a"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("rcomp"), col("component")).as("component"),
        col("est_ppm"), col("n_bands"), col("n_winnow"), col("sim_hamming"))
  }

  /** The freshness row for the evidence base — `index_staleness`'s shape
    * applied to the dedup artifact family: how much of the GROWN union
    * pair graph the landed base already covers, and how much a delta
    * append would change (pairs added by the delta, pairs removed by
    * df-guard crossings). stale_ppm = changed pairs per million grown
    * pairs — the rebuild-policy number a snapshot owner reads before
    * deciding between [[dupEvidenceBaseDelta]] and a full re-land.
    */
  def dupEvidenceStaleness(oldBase: DataFrame, oldPrints: DataFrame,
                           oldBands: DataFrame, grownDocs: DataFrame,
                           cutoff: Long): DataFrame = {
    val d = evidencePairDelta(oldBase, oldPrints, oldBands, grownDocs, cutoff)
    val docs = grownDocs.agg(
      sum(when(col("doc_id") < cutoff, 1L).otherwise(0L)).as("n_docs_base"),
      sum(when(col("doc_id") >= cutoff, 1L).otherwise(0L)).as("n_docs_delta"))
    docs
      .crossJoin(broadcast(d.uOld.agg(count(lit(1)).as("n_pairs_base"))))
      .crossJoin(broadcast(d.uGrown.agg(count(lit(1)).as("n_pairs_grown"))))
      .crossJoin(broadcast(d.added.agg(count(lit(1)).as("n_added"))))
      .crossJoin(broadcast(d.removed.agg(count(lit(1)).as("n_removed"))))
      .select(col("n_docs_base"), col("n_docs_delta"), col("n_pairs_base"),
        col("n_pairs_grown"), col("n_added"), col("n_removed"),
        expr("""case when n_pairs_grown > 0 then
          |  (cast(n_added + n_removed as decimal(38,0)) * 1000000
          |   + n_pairs_grown div 2)
          |  div n_pairs_grown else 0 end""".stripMargin).as("stale_ppm"))
  }

  /** Connected components over a near-dup pair graph — the collapse step
    * after candidate generation: every doc in a duplicate cluster gets the
    * cluster's minimum doc_id as its component, so "keep one survivor per
    * cluster" becomes a groupBy(component). Only docs appearing in ≥ 1
    * pair are labeled (singletons need no collapse); a doc that appears
    * only in self-pairs labels itself.
    *
    * One operator with two halves, after the "finish in memory once
    * small" step of "Connected Components in MapReduce and Beyond"
    * (Kiveris et al., SoCC'14 — public algorithm, re-expressed as
    * DataFrame ops):
    *
    *  - while the residual edge set holds more than `localCap` rows, one
    *    large-star + small-star contraction round runs on the cluster
    *    ([[starRound]]): O(log²) rounds whatever the dup-chain diameter
    *    (10 rounds on a 500-link chain, SCALE.md r8);
    *  - once it fits, the residual is collected and finished by a
    *    driver-side union-find — no per-round scheduling cost. At
    *    sf ≤ 0.1 every graph in the suite fits before any round runs.
    *
    * Exact: star rounds preserve connectivity and the node set, and never
    * drop a component's minimum (it is the target of its neighbours'
    * large-star edges), so the union-find minimum over the contracted
    * edges is the component minimum. A self-pair rides along in the
    * residual as a loop (u, u) and counts against the cap, so the driver
    * finish labels its node too. A contraction that reaches its fixed
    * point (edge set unchanged — an exact `except`, no checksum shortcut)
    * while still above the cap is labeled on the cluster: there every
    * edge is (doc → component min). `localCap = 0` forces that path.
    * Past `maxIters` rounds without either end it releases everything it
    * cached and throws rather than return wrong labels.
    *
    * Every round's edge set is `localCheckpoint`ed, so each round's plan
    * is a leaf scan, not the lineage of all previous rounds.
    */
  def dupComponents(pairs: DataFrame, maxIters: Int = 25,
                    localCap: Int = 1 << 20): DataFrame = {
    // explicit aliases mint fresh attribute ids: a bare re-projection
    // directly atop a Union whose children share upstream attributes
    // trips Catalyst's union constraint rewrite (key-not-found during
    // analysis) on Spark 4.1 — the delta callers pass unions
    val canon = pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .distinct().localCheckpoint()
    val loops = canon.filter(col("u") === col("v"))
    var edges = canon
    var n = edges.count()
    var iter = 0
    var fixpoint = false
    def release(): Unit = { dropCheckpoint(edges); dropCheckpoint(canon) }
    while (n > localCap && !fixpoint) {
      if (iter == maxIters) {
        release()
        throw new IllegalStateException(
          s"dupComponents did not converge in $maxIters rounds; " +
            "component labels would be wrong — raise maxIters")
      }
      val next = starRound(edges.filter(col("u") =!= col("v")))
        .union(loops).localCheckpoint()
      val m = next.count()
      fixpoint = m == n && next.except(edges).isEmpty
      if (edges ne canon) dropCheckpoint(edges)
      edges = next; n = m; iter += 1
    }
    val out =
      if (n <= localCap)
        unionFindLabels(pairs.sparkSession, canon.schema("u").dataType, edges.collect())
      else {
        val nodes = canon.select(col("u").as("doc_id"))
          .union(canon.select(col("v").as("doc_id"))).distinct()
        nodes.join(edges.filter(col("u") =!= col("v"))
            .select(col("u").as("doc_id"), col("v").as("c")), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("c"), col("doc_id")).as("component"))
          .localCheckpoint()
      }
    release()
    out
  }

  /** Frees a `localCheckpoint`ed frame's blocks. `Dataset.unpersist` only
    * uncaches plans registered with the cache manager, so on a checkpoint
    * it is a no-op; the blocks belong to the RDD under its LogicalRDD leaf.
    */
  private def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** One large-star + small-star contraction round over a non-self edge
    * set (u, v); returns the contracted non-self edge set, distinct.
    *
    *  - large-star: every node connects its LARGER neighbors to the min
    *    of its neighborhood (incl. itself) — long chains fold toward
    *    minima from every node at once, not one hop per round.
    *  - small-star: over the (larger → smaller) canonical direction,
    *    every node re-points its smaller-or-equal neighbors (and itself)
    *    at that min — flattening partial trees into stars.
    */
  private def starRound(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    val large = sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val canon = large.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
    val mins2 = canon.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    canon.join(mins2, Seq("u"))
      .select(explode(array(
        struct(col("v").as("a"), col("m").as("b")),
        struct(col("u").as("a"), col("m").as("b")))).as("e"))
      .select(col("e.a").as("u"), col("e.b").as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** Connected components for BROADCAST-SCALE graphs: a driver-side
    * union-find over a collected edge list, with exactly
    * [[dupComponents]]' labeling (every node in ≥1 pair labeled with its
    * component's minimum id).
    *
    * When to use it: a VALUE-level graph — a string column's distinct
    * values, an entity vocabulary — is bounded by vocabulary, not corpus
    * (EntityOps' scale note: names/brands/cities grow sublinearly in
    * rows). The collect is HARD-CAPPED at `maxEdges` (limit + require,
    * so a graph past the cap fails loudly instead of OOMing the driver
    * or quietly turning distributed), and the result re-enters the
    * cluster as a broadcast-scale frame. Corpus graphs go through
    * [[dupComponents]], which ends in the same union-find once its
    * residual fits.
    */
  def dupComponentsLocal(pairs: DataFrame, maxEdges: Int = 1 << 20): DataFrame = {
    val edges = pairs.select(col("doc_a"), col("doc_b"))
      .limit(maxEdges + 1).collect()
    require(edges.length <= maxEdges,
      s"dupComponentsLocal: graph exceeds $maxEdges edges — this tier is " +
        "for broadcast-scale value graphs; use dupComponents for " +
        "corpus-scale graphs")
    unionFindLabels(pairs.sparkSession, pairs.schema("doc_a").dataType, edges)
  }

  /** (doc_id, component) for every endpoint of `edges` (two-column rows
    * of `idType`), component = min id of its connected component.
    */
  private def unionFindLabels(sp: SparkSession, idType: DataType,
                              edges: Array[Row]): DataFrame = {
    val ord: Ordering[Any] = idType match {
      case StringType => Ordering.by(_.asInstanceOf[String])
      case LongType => Ordering.by(_.asInstanceOf[Long])
      case IntegerType => Ordering.by(_.asInstanceOf[Int])
      case other => throw new IllegalArgumentException(
        s"unsupported component id type $other")
    }
    // classic union-find with path halving + size union; label = min id
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    val sz = scala.collection.mutable.HashMap.empty[Any, Int]
    def find(x0: Any): Any = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)); x = parent(x)
      }
      x
    }
    edges.foreach { r =>
      Seq(r.get(0), r.get(1)).foreach { v =>
        if (!parent.contains(v)) { parent(v) = v; sz(v) = 1 }
      }
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) {
        val (big, small) = if (sz(ra) >= sz(rb)) (ra, rb) else (rb, ra)
        parent(small) = big
        sz(big) = sz(big) + sz(small)
      }
    }
    val label = parent.keys.toSeq.groupBy(find)
      .flatMap { case (_, members) =>
        val m = members.min(ord)
        members.map(_ -> m)
      }
    val schema = StructType(Seq(
      StructField("doc_id", idType), StructField("component", idType)))
    import scala.jdk.CollectionConverters._
    sp.createDataFrame(
      label.map { case (n, c) => Row(n, c) }.toSeq.asJava,
      schema)
  }

  /** O(delta) maintenance for the persisted COMPONENT index
    * ([[writeComponentIndex]]) — the simple sibling of
    * [[dupEvidenceBaseDelta]]: the MinHash pair graph has no df guard,
    * so appends can only ADD edges (old-old pairs are invariant and
    * every delta pair has a delta endpoint) — components MERGE, never
    * split. That admits an exact contraction shortcut with no edge
    * persistence at all: map each delta pair's old endpoint to its old
    * component label (labels are component minima, so supernode ids ARE
    * the candidate minima), collapse the contracted delta graph with
    * [[dupComponents]], and relabel — merged groups take the min
    * over contracted node ids, which is exactly the grown component's
    * global min. Untouched components keep their labels by a left-join
    * miss; delta docs and previously-unpaired old docs enter through
    * their own node ids. Cost: one delta band pass + one delta-scale
    * collapse against the persisted band index — vs a full corpus
    * re-clustering per snapshot. Gate: `dup_components_incremental`
    * shares `dup_components`' full-rebuild oracle VERBATIM.
    */
  def componentIndexDelta(oldLabels: DataFrame, oldBands: DataFrame,
                          grownDocs: DataFrame, cutoff: Long): DataFrame = {
    val newBands = lshBands(grownDocs.filter(col("doc_id") >= cutoff))
      .localCheckpoint()
    val touchedKeys = newBands.select(col("band"), col("band_key")).distinct()
    val mDelta = oldBands.unionByName(newBands)
      .join(touchedKeys, Seq("band", "band_key"), "left_semi")
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(bucketPairsSql)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .filter(col("doc_b") >= cutoff)
      .distinct().localCheckpoint()
    val mapped = mDelta
      .join(oldLabels.select(col("doc_id").as("doc_a"), col("component").as("ca")),
        Seq("doc_a"), "left")
      .join(oldLabels.select(col("doc_id").as("doc_b"), col("component").as("cb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
        coalesce(col("cb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val superMap = dupComponents(mapped)
      .select(col("doc_id").as("snode"), col("component").as("newc"))
      .localCheckpoint()
    val oldFinal = oldLabels
      .join(superMap.withColumnRenamed("snode", "component"), Seq("component"), "left")
      .select(col("doc_id"), coalesce(col("newc"), col("component")).as("component"))
    val fresh = mDelta.select(col("doc_a").as("doc_id"))
      .union(mDelta.select(col("doc_b").as("doc_id"))).distinct()
      .join(oldLabels, Seq("doc_id"), "left_anti")
      .join(superMap.withColumnRenamed("snode", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("newc").as("component"))
    oldFinal.unionByName(fresh)
  }

  /** O(delta) DELETE maintenance for the persisted component index — the
    * other direction from [[componentIndexDelta]]: document removals
    * (takedowns, retention, upstream re-crawls) can only REMOVE band
    * pairs (a pair is a shared band key, and band keys are per-doc — no
    * df guard in this path), so components only SPLIT or shrink, never
    * merge. That bounds the work to the components that actually lost a
    * member:
    *
    *  - components holding no removed doc keep their labels untouched
    *    (their min member is still present, so the label is still the
    *    component min — full-rebuild-exact by construction);
    *  - each TOUCHED component's surviving members re-derive their pairs
    *    from the persisted band index (restricted to those members —
    *    closed by construction: a band collision with any outside doc
    *    would have put it in the same old component) and re-collapse;
    *    a survivor left pair-less drops from the index, exactly as a
    *    full rebuild drops singletons.
    *
    * One semi-join band pass over the touched membership + one
    * touched-scale collapse; the removed docs' band rows themselves are
    * dropped by the survivor semi-join (the band-index maintenance is a
    * filter). Gate: `dup_components_shrunk` shares `dup_components`'
    * full-rebuild oracle over the survivor corpus.
    */
  def componentIndexShrink(oldLabels: DataFrame, oldBands: DataFrame,
                           removed: DataFrame): DataFrame = {
    val rem = removed.select(col("doc_id")).localCheckpoint()
    val touched = oldLabels.join(rem, Seq("doc_id"), "left_semi")
      .select(col("component")).distinct()
    val untouched = oldLabels.join(touched, Seq("component"), "left_anti")
      .select(col("doc_id"), col("component"))
    val touchedSurvivors = oldLabels
      .join(touched, Seq("component"), "left_semi")
      .join(rem, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val pairs = oldBands.join(touchedSurvivors, Seq("doc_id"), "left_semi")
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(bucketPairsSql)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    untouched.unionByName(
      dupComponents(pairs).select(col("doc_id"), col("component")))
  }

  /** Within-bucket ordered struct pairs (carries payload fields through,
    * unlike bucketPairsSql's bare ids); ds sorts by the struct's first
    * field (doc_id), so pairs come out doc_a < doc_b.
    */
  private val bucketStructPairsSql =
    "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), " +
      "y -> named_struct('a', x, 'b', y))))"

  /** SimHash near-duplicate pairs via bit-band blocking: the 32-bit
    * signature splits into 4 disjoint 8-bit bands; candidates share at
    * least one band, then exact Hamming distance filters. Pigeonhole makes
    * this EXACT for maxHamming <= 3: at most 3 differing bits can touch at
    * most 3 of the 4 bands, so one band must match — no recall loss, unlike
    * MinHash-LSH. Same 100 TB shape as minhashCandidatePairs: a zero-
    * shuffle signature map, then one shuffle on (band, band_key) with
    * posting-list pair emission; signatures ride along in the list so
    * verification is a per-pair bit_count, no re-join.
    */
  def simhashCandidatePairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band blocking is only exact for maxHamming <= 3")
    val bands = simhash(documents).select(
      col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b => struct(
        lit(b).as("band"),
        shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)).as("band_key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    bands
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(bucketStructPairsSql)).as("p"))
      .select(
        col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        bit_count(col("p.a.simhash").bitwiseXOR(col("p.b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Benchmark-decontamination screen: per document, the fraction of its
    * distinct 3-shingles that appear anywhere in `benchmark` (eval sets,
    * held-out test data). The benchmark shingle set is tiny relative to a
    * training corpus, so it rides as a BROADCAST to every executor — the
    * corpus-side scan stays one pass with a map-side semi-probe, no
    * shuffle of corpus shingles against benchmark shingles. Documents too
    * short to shingle (< 3 tokens) have nothing to leak and are omitted.
    *
    * `flagged` compares the round-6 ratio so the verdict is engine-
    * portable (same rounding the oracle replays).
    */
  def contaminationScreen(documents: DataFrame, benchmark: DataFrame,
                          flagAt: Double = 0.5): DataFrame = {
    val benchSh = shingles(benchmark).select(col("shingle")).distinct()
    shingles(documents)
      .join(broadcast(benchSh.withColumn("__hit", lit(1))), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast(DoubleType) / col("n_shingles"), 6)
          .as("contamination"))
      .withColumn("flagged", col("contamination") >= flagAt)
  }

  /** Segment-level dedup (the CCNet/RefinedWeb paragraph-dedup step,
    * reference corpus hygiene analog): split every document into segments,
    * keep only the globally FIRST occurrence of each distinct segment, and
    * reassemble the surviving segments per document in original order. At
    * web scale most removed bytes are boilerplate (headers, cookie
    * banners, navigation) that exact whole-doc dedup never touches —
    * this is the operator that catches them.
    *
    * `segmentsSql` must evaluate to `array<string>` over a `documents`
    * row; production text splits on newlines
    * (`segmentDedupByLines`), while corpora without line structure (or
    * tests on the synthetic fixture) use fixed token windows
    * (`segmentDedup`).
    *
    * Scale shape: one Generate (no shuffle), then ONE hash shuffle on the
    * segment md5 for the keep-first window — the same key distribution as
    * exact dedup, skew-free for non-degenerate corpora since hyper-
    * frequent segments still hash to distinct (hash, doc, idx) rows within
    * a partition — then one groupBy(doc_id) to reassemble. Keep-first is
    * decided by (doc_id, seg_idx) order, so the output is deterministic
    * under any partitioning (the same property exactDedup gets from
    * min(doc_id)).
    */
  def segmentDedupBy(documents: DataFrame, segmentsSql: String): DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
    val segs = documents.select(
      col("doc_id"), posexplode(expr(segmentsSql)).as(Seq("seg_idx", "segment")))
    val w = Window.partitionBy(md5(col("segment"))).orderBy(col("doc_id"), col("seg_idx"))
    val kept = segs
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(if(rn = 1, struct(seg_idx, segment), null))), x -> x.segment)"))
          .as("clean_text"))
    // docs that segment to nothing (empty text) still belong in the output
    documents.select(col("doc_id")).join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Token-window instantiation of segment dedup for corpora without line
    * structure: non-overlapping `segTokens`-token windows (the same window
    * construction as TextOps.chunks with stride = size).
    */
  private def tokenWindowsSql(segTokens: Int): String =
    letScalar(tokensSql, "t",
      s"if(size(t) < 1, cast(array() as array<string>), " +
        s"transform(sequence(0, size(t) - 1, $segTokens), " +
        s"st -> concat_ws(' ', slice(t, st + 1, $segTokens))))")

  def segmentDedup(documents: DataFrame, segTokens: Int = 8): DataFrame =
    segmentDedupBy(documents, tokenWindowsSql(segTokens))

  /** Production segmenter: newline-delimited paragraphs/lines. */
  def segmentDedupByLines(documents: DataFrame): DataFrame =
    segmentDedupBy(documents, "split(text, '\\n')")

  /** C4-style boilerplate purge — the frequency-threshold sibling of
    * [[segmentDedup]] (which keeps the FIRST occurrence of a repeated
    * segment; nav bars, cookie banners, and license headers repeat
    * thousands of times and the first copy is exactly as worthless as
    * the rest): any segment whose document frequency reaches `minDf`
    * distinct docs is boilerplate and is removed from EVERY doc,
    * including the first. Raffel et al. 2020 (C4) drop any three-
    * sentence span occurring ≥2× in the corpus; Penedo et al. 2023
    * (RefinedWeb) drop high-frequency lines — this is that step over
    * the repo's token-window segmenter. Scale shape: explode →
    * partial-agg DF count grouped on the md5 fingerprint (32-char
    * shuffle keys, never the segment text) → equi-join segments to
    * their DF → per-doc rollup. No window over the corpus; the df
    * frame is vocabulary-scale.
    */
  def boilerplatePurge(documents: DataFrame, segTokens: Int = 8,
                       minDf: Int = 3): DataFrame = {
    require(segTokens >= 1, s"segTokens out of range: $segTokens")
    require(minDf >= 2, s"minDf out of range: $minDf")
    val segs = documents.select(
      col("doc_id"),
      posexplode(expr(tokenWindowsSql(segTokens))).as(Seq("seg_idx", "segment")))
      .withColumn("h", md5(col("segment")))
    val dfc = segs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"), lit(true).as("boiler"))
    val kept = segs.join(dfc, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(expr("cast(coalesce(boiler, false) as bigint)")).as("n_boiler"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(if(boiler is null, struct(seg_idx, segment), null))), x -> x.segment)"))
          .as("clean_text"))
    documents.select(col("doc_id")).join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** LSH band-planning table — the (bands, rows) design sheet for a
    * 128-minhash signature: for each divisor split b·r = 128, the
    * S-curve threshold s* ≈ (1/b)^(1/r) and the detection probability
    * P(s) = 1 − (1 − s^r)^b at s ∈ {0.5, 0.7, 0.9} — the numbers that
    * decide a banding scheme BEFORE paying a corpus pass (pick the row
    * whose threshold brackets the dedup similarity floor and whose
    * P(0.9) ≈ 1, P(0.5) ≈ 0). Every cell is a fixed chain of exp/ln
    * over LITERALS (pow avoided — the repo's portable-libm spelling),
    * quantized to micros; the frame is 6 rows of constants, generated
    * distributed-sense-free on purpose. Pure planning metadata — the
    * measured counterpart is `lsh_recall_audit`.
    */
  def lshBandPlanner(spark: org.apache.spark.sql.SparkSession,
                     signature: Int = 128): DataFrame = {
    import spark.implicits._
    val splits = (1 to signature).filter(signature % _ == 0)
      .map(b => (b, signature / b)).filter { case (b, r) => b > 1 && r > 1 }
    def p(s: String) =
      s"cast(round((1.0d - exp(cast(b as double) * ln(1.0d - exp(cast(r as double) * ln($s))))) * 1000000) as bigint)"
    splits.toDF("b", "r")
      .select(col("b"), col("r"),
        expr("cast(round(exp(ln(1.0d / cast(b as double)) / cast(r as double)) * 1000000) as bigint)")
          .as("threshold_micro"),
        expr(p("0.5d")).as("p_detect_50_micro"),
        expr(p("0.7d")).as("p_detect_70_micro"),
        expr(p("0.9d")).as("p_detect_90_micro"))
  }

  /** Span-level exact substring dedup — the suffix-array dedup of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models Better")
    * re-expressed relationally: every OVERLAPPING k-token window is
    * fingerprinted; any window whose content already occurred earlier in
    * the corpus (global keep-first order: doc_id, then start position —
    * within-doc self-repetition counts too) marks its k token positions
    * for removal, and the surviving tokens reassemble in original order.
    * Unlike `segmentDedup`'s NON-overlapping windows, overlapping windows
    * catch copied spans at ANY alignment — the property that makes the
    * suffix-array formulation the gold standard — at the cost of one
    * window row per token instead of per k tokens.
    *
    * Scale shape (why this replaces a suffix array at 100 TB): a suffix
    * array is a global sort of every corpus position — O(corpus) sort keys
    * of O(span) width, and single-machine constructions don't shard. Here
    * the same duplicated-span detection is: one Generate emitting narrow
    * (doc_id, pos, md5) rows (~one per token), ONE hash shuffle keyed on
    * the window fingerprint (uniform by construction — content hash), a
    * row_number to decide keep-first, then a positions explode bounded by
    * k × (dup occurrences only) and a doc_id-keyed reassembly — the same
    * key distribution as `segmentDedup`, every stage partition-parallel.
    * Removal is decided by (doc_id, pos) order, so output is deterministic
    * under any partitioning.
    */
  def substringDedup(documents: DataFrame, k: Int = 8): DataFrame = {
    val winsSql = letScalar(tokensSql, "t",
      s"if(size(t) < $k, cast(array() as array<struct<pos:int,wh:string>>), " +
        s"transform(sequence(0, size(t) - $k), " +
        s"st -> struct(st as pos, md5(concat_ws(' ', slice(t, st + 1, $k))) as wh)))")
    val wins = documents
      .select(col("doc_id"), explode(expr(winsSql)).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.wh").as("wh"))
    val keepFirst = Window.partitionBy(col("wh")).orderBy(col("doc_id"), col("pos"))
    // occurrences after the first → each covers token positions pos+1..pos+k
    val covered = wins
      .withColumn("rn", row_number().over(keepFirst))
      .filter(col("rn") > 1)
      .select(col("doc_id"), explode(expr(s"sequence(pos + 1, pos + $k)")).as("tok_idx"))
      .distinct()
    val tokpos = documents
      .select(col("doc_id"), posexplode(expr(tokensSql)).as(Seq("idx0", "tok")))
      .select(col("doc_id"), (col("idx0") + 1).as("tok_idx"), col("tok"))
    val reassembled = tokpos
      .join(covered, Seq("doc_id", "tok_idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(tok_idx, tok))), x -> x.tok)"))
          .as("clean_text"))
    // zero-token docs and fully-removed docs both belong in the output
    documents
      .select(col("doc_id"), expr(s"size($tokensSql)").cast(LongType).as("n_tokens"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** INTRA-document span dedup — self-repetition removal, the within-doc
    * counterpart of [[substringDedup]] (Lee et al. 2022 apply the same
    * suffix-array pass inside documents; boilerplate loops, scraper
    * stutter, and templated repeats inside ONE page are what it removes).
    * A k-token window occurrence is dropped iff the SAME document already
    * contains that window at an earlier position — cross-document
    * duplication is deliberately invisible here, so the operator composes
    * with (and is independent of) the corpus-level span dedup. Keep-first
    * inside the doc, covered-position removal, order-preserving
    * reassembly — identical shape to [[substringDedup]] with the window
    * partitioned by (doc_id, wh) instead of wh: the shuffle key gains the
    * doc id, so hot boilerplate windows shared by millions of docs can't
    * form a hot partition — strictly BETTER skew behavior than the
    * corpus-level pass at 100 TB.
    */
  def intraDocDedup(documents: DataFrame, k: Int = 8): DataFrame = {
    val winsSql = letScalar(tokensSql, "t",
      s"if(size(t) < $k, cast(array() as array<struct<pos:int,wh:string>>), " +
        s"transform(sequence(0, size(t) - $k), " +
        s"st -> struct(st as pos, md5(concat_ws(' ', slice(t, st + 1, $k))) as wh)))")
    val wins = documents
      .select(col("doc_id"), explode(expr(winsSql)).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.wh").as("wh"))
    val keepFirst = Window.partitionBy(col("doc_id"), col("wh")).orderBy(col("pos"))
    val covered = wins
      .withColumn("rn", row_number().over(keepFirst))
      .filter(col("rn") > 1)
      .select(col("doc_id"), explode(expr(s"sequence(pos + 1, pos + $k)")).as("tok_idx"))
      .distinct()
    val tokpos = documents
      .select(col("doc_id"), posexplode(expr(tokensSql)).as(Seq("idx0", "tok")))
      .select(col("doc_id"), (col("idx0") + 1).as("tok_idx"), col("tok"))
    val reassembled = tokpos
      .join(covered, Seq("doc_id", "tok_idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(tok_idx, tok))), x -> x.tok)"))
          .as("clean_text"))
    documents
      .select(col("doc_id"), expr(s"size($tokensSql)").cast(LongType).as("n_tokens"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Recall/containment audit of [[substringDedup]] against the EXACT
    * duplicated-substring ground truth — the measurement `lsh_recall_audit`
    * provides for banding, applied to the suffix-array stand-in (Lee et
    * al. 2022). The identity that makes the ground truth computable
    * relationally: a token position lies inside a duplicated substring of
    * length ≥ k IFF some k-window containing it is duplicated, so the
    * exact covered-position set is the union of all occurrences of all
    * duplicated k-windows — brute-forced here (and independently by the
    * DuckDB oracle) with no reference to the dedup's own keep-first
    * logic. Reported against it:
    *
    *  - `violations` = |removed \ covered|: the containment certificate —
    *    the stand-in must NEVER remove a position outside a true
    *    duplicated span (position-level precision 1.0). Must be 0.
    *  - `removed_share_of_covered_ppm`: position-level recall against
    *    the full duplicated mass; the complement (`kept_dup_positions`)
    *    is exactly the keep-first allowance — duplicated-span positions
    *    retained because their occurrence is the global first. This is
    *    the number a user tuning k reads: how much duplicated mass the
    *    keep-one policy leaves in the corpus.
    *
    * One Generate + ONE wh-keyed window shuffle (row_number and the
    * occurrence count share the partition), two bounded position
    * explodes, 1-row rollup — the same scale shape as the dedup itself.
    */
  def spanDedupRecallAudit(documents: DataFrame, k: Int = 8): DataFrame = {
    val winsSql = letScalar(tokensSql, "t",
      s"if(size(t) < $k, cast(array() as array<struct<pos:int,wh:string>>), " +
        s"transform(sequence(0, size(t) - $k), " +
        s"st -> struct(st as pos, md5(concat_ws(' ', slice(t, st + 1, $k))) as wh)))")
    val wSpec = Window.partitionBy(col("wh"))
    val marked = documents
      .select(col("doc_id"), explode(expr(winsSql)).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.wh").as("wh"))
      .withColumn("rn", row_number().over(wSpec.orderBy(col("doc_id"), col("pos"))))
      .withColumn("c", count(lit(1)).over(wSpec))
      .persist()
    def positions(flt: org.apache.spark.sql.Column): DataFrame =
      marked.filter(flt)
        .select(col("doc_id"), explode(expr(s"sequence(pos + 1, pos + $k)")).as("tok_idx"))
        .distinct()
    val covered = positions(col("c") >= 2)
    val removed = positions(col("rn") > 1)
    val tot = documents.agg(
      sum(expr(s"size($tokensSql)").cast(LongType)).as("n_token_positions"))
    val cn = covered.agg(count(lit(1)).as("covered_positions"))
    val rm = removed.agg(count(lit(1)).as("removed_positions"))
    val viol = removed.join(covered, Seq("doc_id", "tok_idx"), "left_anti")
      .agg(count(lit(1)).as("violations"))
    // the result is one row: eagerly materialize it (localCheckpoint) so
    // the op-internal `marked` cache can be dropped before returning —
    // otherwise the window-marked explode frame stays cached for the
    // session's lifetime, unreachable by callers (r12 advice)
    val out = tot.crossJoin(broadcast(cn)).crossJoin(broadcast(rm)).crossJoin(broadcast(viol))
      .select(lit(k.toLong).as("k"), col("n_token_positions"),
        col("covered_positions"), col("removed_positions"),
        (col("covered_positions") - col("removed_positions")).as("kept_dup_positions"),
        col("violations"),
        expr("(cast(covered_positions as decimal(38,0)) * 1000000 " +
          "+ n_token_positions div 2) div n_token_positions")
          .as("covered_ppm"),
        when(col("covered_positions") === 0L, lit(null).cast(LongType))
          .otherwise(expr(
            "(cast(removed_positions as decimal(38,0)) * 1000000 " +
              "+ covered_positions div 2) div covered_positions"))
          .as("removed_share_of_covered_ppm"))
      .localCheckpoint()
    marked.unpersist()
    out
  }

  /** Span-dedup observability: per-source token-removal rates from
    * `substringDedup` — the audit a pipeline reads before turning span
    * removal on for a source (a mirror-heavy crawl loses half its tokens;
    * a curated source should lose ~none, and a high rate there means the
    * window size is wrong, not the data). Same role `dedup_stats` plays
    * for exact dedup. The doc_id-keyed join back to `documents` for the
    * source column is co-partitioned with the dedup output's own
    * reassembly key; rate quantized at integer grid (the
    * quality_classifier rounding lesson).
    */
  def substringDedupStats(documents: DataFrame, k: Int = 8): DataFrame =
    substringDedup(documents, k)
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_tokens") - col("n_kept")).as("removed_tokens"))
      .withColumn("removal_rate_ppm",
        // Pure-integer half-up rounding: no double division, no engine
        // round() semantics, no float-repr surface for the comparator.
        expr("(cast(removed_tokens as decimal(38,0)) * 1000000 " +
          "+ total_tokens div 2) div total_tokens"))

  /** Cross-source contamination matrix: for every source pair, how much
    * segment-level content they share — the audit a multi-crawl pipeline
    * runs before mixing sources (mirror sites, syndication, and scraped
    * copies of the same upstream all show up here long before whole-doc
    * fingerprints collide; on this corpus doc-level overlap is exactly
    * zero while segment overlap is not). Segments are the same
    * token-window construction as `segmentDedup`; each source's DISTINCT
    * segment-md5 set self-joins on the fingerprint (source_a < source_b
    * canonical), yielding shared counts and a fingerprint-set Jaccard
    * (double of exact ints — deterministic).
    *
    * Scale shape: one Generate + a distinct on (source, fp) — shuffle
    * keyed by content hash, uniform by construction; the self-join is
    * fp-keyed with tiny per-key multiplicity (≤ #sources rows per fp);
    * output is #sources² rows. No cross join anywhere.
    */
  def sourceOverlap(documents: DataFrame, segTokens: Int = 8): DataFrame = {
    val segs = documents
      .select(col("source"), explode(expr(tokenWindowsSql(segTokens))).as("segment"))
      .select(col("source"), md5(col("segment")).as("fp"))
      .distinct()
    val totals = segs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    segs.select(col("source").as("source_a"), col("fp"))
      .join(segs.select(col("source").as("source_b"), col("fp")), Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(totals.select(col("source").as("source_a"), col("n").as("na"))), Seq("source_a"))
      .join(broadcast(totals.select(col("source").as("source_b"), col("n").as("nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast(DoubleType) / (col("na") + col("nb") - col("n_shared")), 6)
          .as("seg_jaccard"))
  }

  /** Quality-aware cluster retention: after near-dup collapse, keep the
    * HIGHEST-QUALITY member of each duplicate cluster instead of the
    * arbitrary min-id — the retention policy a training-data pipeline
    * actually wants (near-dup clusters mix a clean original with mangled
    * copies; min-id keeps whichever crawled first, this keeps the best).
    * Components come from the MinHash-LSH graph (`minhashCandidatePairs`
    * → `dupComponents`), quality from `TextOps.qualityScore`; one row per
    * cluster: the kept doc, its quality, the cluster size. Deterministic
    * ranking (quality desc, doc_id asc tiebreak on round-6 values).
    * Scale shape: labeling is the diameter-bounded iterative collapse;
    * retention itself is one window PARTITIONED BY component (no global
    * sort) plus a component-count hash aggregate — both shuffles keyed on
    * component, which AQE coalesces after the collapse has shrunk the
    * graph to labeled-dup rows only.
    */
  def dedupKeepBest(documents: DataFrame): DataFrame =
    dedupKeepBestWith(documents, dupComponents(minhashCandidatePairs(documents)))

  def dedupKeepBestWith(documents: DataFrame, comps: DataFrame): DataFrame = {
    val joined = comps.join(TextOps.qualityScore(documents), Seq("doc_id"))
    val sizes = joined.groupBy(col("component")).agg(count(lit(1)).as("n_members"))
    val w = Window.partitionBy("component").orderBy(col("quality").desc, col("doc_id"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(sizes, Seq("component"))
      .select(col("component"), col("doc_id").as("keep_doc_id"),
        col("quality"), col("n_members"))
  }

  /** DPO-style preference pairs mined from duplicate clusters: within
    * every near-dup component, pair the BEST-quality member (chosen)
    * against the WORST (rejected). Near-dup clusters are exactly where
    * preference data is cheap — the members say the same thing, so
    * quality deltas are attributable to WRITING, not content, which is
    * the contrast a preference model should learn. Components whose best
    * and worst quality are EQUAL are dropped: an arbitrary pair there
    * would encode layout, not preference (and would be nondeterministic
    * in spirit even with a tiebreak).
    *
    * Scale shape: components from the diameter-bounded collapse, quality
    * from one narrow codegen'd pass, then ONE component-keyed window pass
    * computing both extreme ranks + a component aggregate — all shuffles
    * keyed on component, which AQE coalesces post-collapse.
    */
  def preferencePairs(documents: DataFrame): DataFrame =
    preferencePairsWith(documents, dupComponents(minhashCandidatePairs(documents)))

  def preferencePairsWith(documents: DataFrame, comps: DataFrame): DataFrame = {
    val j = comps.join(TextOps.qualityScore(documents), Seq("doc_id"))
    val wBest = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id"))
    val wWorst = Window.partitionBy(col("component"))
      .orderBy(col("quality").asc, col("doc_id").desc)
    j.withColumn("rb", row_number().over(wBest))
      .withColumn("rw", row_number().over(wWorst))
      .groupBy(col("component"))
      .agg(
        max(when(col("rb") === 1, struct(col("doc_id"), col("quality")))).as("chosen"),
        max(when(col("rw") === 1, struct(col("doc_id"), col("quality")))).as("rejected"),
        count(lit(1)).as("n_members"))
      .filter(col("chosen.quality") > col("rejected.quality"))
      .select(col("component"),
        col("chosen.doc_id").as("chosen_id"), col("rejected.doc_id").as("rejected_id"),
        col("chosen.quality").as("q_chosen"), col("rejected.quality").as("q_rejected"),
        col("n_members"))
  }

  /** Leakage-safe train/val split: the split key is the NEAR-DUP
    * COMPONENT, not the document. Hashing doc_ids into splits leaks —
    * a near-duplicate pair straddling train and val means the model is
    * evaluated on (a mutation of) its own training data, inflating every
    * metric. Assigning whole MinHash-LSH dup components to one side makes
    * straddling pairs impossible BY CONSTRUCTION: any candidate pair is an
    * edge inside one component, and a component maps to exactly one split.
    * Singletons (docs in no candidate pair) key on their own doc_id.
    * The bucket is the portable md5 hash used by `deterministicSample`,
    * so the assignment is reproducible across engines, retries, and
    * repartitionings — and auditable by replaying the hash.
    * Scale shape: the collapse is the diameter-bounded iterative labeling
    * (delta-scale once `screenDeltaAgainstCorpus` handles steady state);
    * the split itself is a LEFT join of the corpus to the (small) labeled
    * dup set plus one per-row hash — no extra shuffle beyond the join.
    */
  def leakageSafeSplit(documents: DataFrame, trainPct: Int = 80): DataFrame =
    leakageSafeSplitWith(documents,
      dupComponents(minhashCandidatePairs(documents)), trainPct)

  def leakageSafeSplitWith(documents: DataFrame, comps: DataFrame,
                           trainPct: Int = 80): DataFrame = {
    documents.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("split",
        when(expr("cast(conv(substr(md5(cast(component as string)), 1, 8), 16, 10) as bigint)")
          % 100 < trainPct, lit("train")).otherwise(lit("val")))
  }

  /** K-fold cross-validation assignment under the same leakage guarantee
    * as `leakageSafeSplitWith`: the fold key is the near-dup COMPONENT,
    * so no fold's held-out set can contain a near-duplicate of another
    * fold's training data — the property per-doc hashing cannot give.
    * Fold = portable md5 bucket of the component mod k (singletons key
    * on their own id), so every fold assignment is replayable by hash.
    * Same scale shape as the split: one left join against the (persisted)
    * component index + a per-row hash.
    */
  def leakageSafeFoldsWith(documents: DataFrame, comps: DataFrame,
                           k: Int = 5): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    documents.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("fold",
        (expr("cast(conv(substr(md5(cast(component as string)), 1, 8), 16, 10) as bigint)")
          % k).cast(org.apache.spark.sql.types.IntegerType))
  }
}
