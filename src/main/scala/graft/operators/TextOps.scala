package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for the LLM-data-pipeline surface ([EXT],
  * SURVEY.md §2.11): tokenization, language-ID heuristics, quality scoring,
  * and content fingerprinting over the `documents` table.
  *
  * Everything here is built from codegen'd SQL expressions (no UDFs): at
  * 100 TB the per-row cost of a boxed Scala UDF dominates, while these stay
  * inside whole-stage codegen. Where a lambda/higher-order function is
  * needed (`filter`, `transform`) we use `expr(...)` so the plan is the
  * same one Spark SQL would produce.
  *
  * Each op tokenizes `text` itself, with the token array let-bound so the
  * regex runs once per row. The per-document quality signals are
  * `Column`s over `text` ([[quality]], [[gopherSignals]],
  * [[repetition]]); their per-query faces are selects over those Columns,
  * and a pipeline filters on them in one predicate ([[corpusKeep]]).
  */
object TextOps {

  /** Tokenizer used across text/dedup ops: lowercase alnum runs. The BPE-ish
    * regex keeps punctuation out of tokens; identical semantics are
    * expressible in DuckDB's `regexp_extract_all` for the oracle.
    */
  val TokenPattern = "[a-z0-9]+"

  def tokensOf(colName: String): Column =
    expr(s"regexp_extract_all(lower($colName), '$TokenPattern', 0)")

  private[operators] val tokensSql = s"regexp_extract_all(lower(text), '$TokenPattern', 0)"

  /** The token array as a `toks` column: the input of the bigram tables
    * ([[knTable]], [[bigramEntropyRate]], [[knCrossEntropy]]), which read
    * it by name. Every other op tokenizes `text` inline, let-bound, so
    * its regex runs once per row.
    */
  def tokenize(documents: DataFrame): DataFrame =
    documents.withColumn("toks", tokensOf("text"))

  /** Let-binds the SQL `value` as `varName` in `body`. Catalyst has no
    * let and does not share subexpressions with lambdas, so a value
    * wrapped in a one-element `transform` is evaluated once per row
    * however often `body` reads it.
    */
  private[operators] def letScalar(value: String, varName: String, body: String): String =
    s"element_at(transform(array($value), $varName -> $body), 1)"

  /** Let-binds `text`'s token array as `t` and its line split as `ls`. */
  private def withTokensAndLines(body: String): String =
    letScalar(tokensSql, "t", letScalar("split(text, '\\n')", "ls", body))

  /** Stopword-membership filter over a token-array SQL expression. The
    * lambda variable is `sw` (not `t`) so the snippet can nest inside the
    * ops' own `t`-bound lambdas without shadowing.
    */
  private def stopHitsSql(toksExpr: String): String =
    s"size(filter($toksExpr, sw -> sw IN ('the', 'a', 'of', 'and', 'to', 'in')))"

  /** Per-document token + char counts (whitespace-free token def). */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).as("n_chars_measured"),
      expr(s"size($tokensSql)").as("n_tokens"))

  /** Heuristic language ID: stopword-ratio n-gram heuristic. With the
    * synthetic corpus (English-ish vocab regardless of the `lang` label)
    * this deterministically classifies by article density — the *shape* of
    * a real langid pass (score per language, argmax) in one expression.
    */
  def langId(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("lang").as("lang_label"),
      when(expr(stopHitsSql(tokensSql)) >= 2, lit("en"))
        .otherwise(lit("und")).as("lang_pred"))

  /** [[quality]]'s body over the let-bound tokens `t`. */
  private val qualitySql =
    s"""round(least(cast(length(text) as double) / 200.0d, 1.0d) * 0.5d +
       |  coalesce(cast(${stopHitsSql("t")} as double)
       |           / nullif(cast(size(t) as double), 0.0d), 0.0d) * 0.5d, 6)""".stripMargin

  /** Quality score in [0,1] over `text`: half length-based (saturating at
    * 200 chars), half stopword density. Pure double arithmetic →
    * bit-identical across engines; rounded for the oracle hash. One
    * let-bound expression, so the tokenizer runs once per row.
    */
  def quality: Column = expr(letScalar(tokensSql, "t", qualitySql))

  /** [[quality]] as integer ppm (half-up at scale 0): the one form every
    * integer consumer sums, ranks and thresholds.
    */
  def qualityPpm: Column = round(quality * 1000000).cast(LongType)

  /** (doc_id, quality): [[quality]] per document. */
  def qualityScore(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), quality.as("quality"))

  /** Quality-proportional importance sampling: each doc is kept with
    * probability equal to its quality score — the standard
    * quality-weighted corpus thinning (DoReMi/DSIR-adjacent reweighting
    * via retention instead of loss weights), done DETERMINISTICALLY: the
    * admission lottery is the portable md5 bucket of doc_id against a
    * per-row integer keep-rate (quality quantized to ppm), so any
    * engine, any retry, any partitioning keeps the SAME docs. Pure
    * per-row predicate: pushes to the scan, no shuffle, no RNG state.
    */
  def importanceSample(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("source"), qualityPpm.as("keep_ppm"))
      .filter(
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 1000000")
          < col("keep_ppm"))

  /** Exact-k weighted sampling without replacement per source
    * (Efraimidis–Spirakis A-ES): rank docs by key u^(1/w) — equivalently
    * ln(u)/w, monotone — and keep the top k per stratum. The classic
    * one-pass distributed weighted reservoir, made DETERMINISTIC: u is
    * the portable md5 bucket of doc_id mapped to (0,1], so any engine /
    * retry / partitioning draws the same sample (the same property
    * `deterministicSample` has, but with exact-k-per-stratum and
    * quality-proportional inclusion instead of Bernoulli thinning — the
    * two are complementary: rate-control vs budget-control). The key is
    * micros-quantized BEFORE ranking (the one float chain is
    * ln(exact)/quality, both exactly-agreed doubles), doc_id breaks
    * ties. Zero-weight docs are excluded by definition (u^(1/0) is the
    * degenerate always-last key). Scale shape: per-row arithmetic + one
    * source-keyed bounded window — no corpus sort, no RNG state.
    */
  def weightedSampleTopK(documents: DataFrame, k: Int = 10): DataFrame = {
    val d = documents.select(col("doc_id"), col("source"), quality.as("quality"))
      .filter(col("quality") > 0)
      .withColumn("key_micros", expr(
        "cast(round(ln((cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) + 1) " +
          "/ 4294967296.0d) / quality * 1000000) as bigint)"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("key_micros").desc, col("doc_id"))
    d.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("source"), col("key_micros"),
        col("rk").cast(IntegerType).as("rk"))
  }

  /** Content fingerprint: md5 of the normalized text (reference
    * normalize_string, /root/reference/utils/helpers.py:1-2, feeding a
    * digest). Identical hex in Spark and DuckDB → oracle-checkable, and the
    * natural exact-dedup / shard-routing key at scale.
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(FinanceOps.normalizeString(col("text"))).as("fp"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS): over the
    * POSITIONAL 3-gram hash sequence, slide a window of `w` consecutive
    * hashes and select each window's minimum — RIGHTMOST occurrence on
    * ties, the paper's robust variant — then dedupe selections. The
    * guarantee: any shared run of ≥ w+2 tokens between two documents
    * shares a selected (hash) fingerprint, while storage is ~2/(w+1) of
    * the hash stream — the local fingerprinting scheme doc-level md5
    * can't provide (one flipped byte changes `fingerprints` entirely;
    * winnowing prints survive edits outside the window).
    *
    * Entirely per-row — one expression, zero shuffles; the hash is the
    * same portable 32-bit md5-prefix the MinHash tier replays in DuckDB,
    * so the whole selection is oracle-checkable. Overlap detection at
    * corpus scale = equi-join on fp (bounded buckets, rarest-first
    * semantics same as the shingle index).
    */
  def winnowFingerprints(documents: DataFrame, w: Int = 4): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val posHs =
      "if(size(t) >= 3, transform(sequence(0, size(t) - 3), " +
        "i -> cast(conv(substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 8), 16, 10) as bigint)), " +
        "cast(array() as array<bigint>))"
    // rightmost argmin per window via a left-to-right fold with <=; the
    // Generate gate (empty array for short docs) keeps the tokenizer at
    // one run per row with nothing for the optimizer to duplicate
    val winnowSql =
      s"""element_at(transform(array($tokensSql), t ->
         |  element_at(transform(array($posHs), hs ->
         |    if(size(hs) >= $w,
         |       array_distinct(transform(sequence(0, size(hs) - $w), j ->
         |         aggregate(sequence(j, j + ${w - 1}),
         |           named_struct('pos', -1, 'h', 9223372036854775807L),
         |           (acc, i) -> if(hs[i] <= acc.h,
         |                          named_struct('pos', cast(i as int), 'h', hs[i]),
         |                          acc)))),
         |       cast(array() as array<struct<pos:int,h:bigint>>))), 1)), 1)""".stripMargin
    documents
      .select(col("doc_id"), explode(expr(winnowSql)).as("r"))
      .select(col("doc_id"), col("r.pos").as("pos"), col("r.h").as("fp"))
  }

  /** Winnowing OVERLAP pairs — the fingerprints' consumer: documents
    * sharing ≥ `minShared` distinct selected hashes, with the shared
    * count and an overlap_ppm against the SMALLER print set (containment
    * semantics: a doc whose prints are mostly inside another's is a
    * local-copy suspect even if the other is much larger). Same
    * inverted-index + df-guard shape as the shingle joins: shuffle keyed
    * by fingerprint, bucket pairs bounded by the guard, never all-pairs.
    * This is the MOSS pipeline end-to-end: winnow → index → paired
    * overlap report.
    */
  def winnowOverlapPairs(documents: DataFrame, w: Int = 4,
                         minShared: Long = 2,
                         maxFpDocFreq: Long = 50): DataFrame = {
    val prints = winnowFingerprints(documents, w)
      .select(col("doc_id"), col("fp")).distinct()
    val sizes = prints.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = prints
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxFpDocFreq)
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), " +
          "y -> named_struct('doc_a', x, 'doc_b', y))))")).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("(cast(n_shared as decimal(38,0)) * 1000000 + least(na, nb) div 2) div least(na, nb)")
          .as("overlap_ppm"))
  }

  /** Token-vs-char length correlation — a one-number corpus-health probe
    * (a low r flags encoding damage / markup floods where chars grow but
    * tokens don't). The portability trick: Pearson r is computed from the
    * FIVE INTEGER moments (Σx, Σy, Σxy, Σx², Σy²) — integer sums are
    * order-independent, so the only float arithmetic is the final closed
    * form over six exact integers, where +,*,/,sqrt are all IEEE
    * correctly-rounded → bit-identical in any engine. (The usual
    * `corr()` aggregate is a running float accumulation whose result
    * depends on partitioning — unusable under a hash gate.) One
    * map-side-combined aggregate, no shuffle beyond the 1-row merge;
    * moment magnitudes stay within double-exact range (< 2^53) for
    * corpora to ~10^7 docs of ~10^3 tokens — shard the moment aggregate
    * by hash bucket and merge if beyond.
    */
  def lengthCorr(documents: DataFrame): DataFrame =
    documents
      .select(expr(s"cast(size($tokensSql) as bigint)").as("x"),
        col("n_chars").cast(LongType).as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
        sum(expr("y * y")).as("syy"))
      .select(col("n"), col("sx"), col("sy"),
        expr("""cast(round(
               |  (cast(n as double) * sxy - cast(sx as double) * sy) /
               |  sqrt(nullif((cast(n as double) * sxx - cast(sx as double) * sx) *
               |              (cast(n as double) * syy - cast(sy as double) * sy), 0.0d))
               |  * 1000000) as bigint)""".stripMargin).as("corr_ppm"))

  /** Zipf-slope of the term-frequency distribution: least-squares slope
    * of ln(freq) vs ln(rank) over the top-R terms — the corpus-health
    * probe whose expected value is ≈ −1 for natural language (template
    * floods and boilerplate read much shallower; token-salad reads
    * steeper). Distributed shape: the only corpus-scale work is the
    * term-frequency aggregate + a TakeOrdered top-R; the regression runs
    * over R bounded rows. Portability: ln outputs are quantized to
    * MILLIS first (keeping every moment < 2⁶³ at R = 1000), the slope's
    * closed form is integer moments + one IEEE-exact double division —
    * same discipline as [[lengthCorr]].
    */
  def zipfSlope(documents: DataFrame, topR: Int = 1000): DataFrame =
    termFrequencies(documents)
      .orderBy(col("n").desc, col("token"))
      .limit(topR)
      // non-foldable constant partition key: bounded post-limit frame,
      // but WindowExec wants a partition spec (the skewProfile trick)
      .withColumn("rank", row_number().over(
        Window.partitionBy(pmod(col("n"), lit(1)))
          .orderBy(col("n").desc, col("token"))))
      .select(
        expr("cast(round(ln(cast(rank as double)) * 1000) as bigint)").as("x"),
        expr("cast(round(ln(cast(n as double)) * 1000) as bigint)").as("y"))
      .agg(count(lit(1)).as("r"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col("r"),
        expr("""cast(round(cast(r * sxy - sx * sy as double) /
               |  nullif(r * sxx - sx * sx, 0L) * 1000000) as bigint)""".stripMargin)
          .as("slope_micros"))

  /** Corpus stats per (lang, source): the A1-style rollup over documents. */
  def corpusStats(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        RelationalOps.moneySum(col("n_chars")).as("total_chars"),
        round(sum(expr(s"size($tokensSql)")).cast(DoubleType) / count(lit(1)), 6)
          .as("avg_tokens"))

  /** Token chunking — the one-to-many "table function" of an LLM data
    * pipeline (SURVEY.md §2.9: explode, not a custom Generator): fixed-size
    * token windows with 50% overlap. Let-bound so the tokenizer runs once
    * per document; one Generate node, no shuffle.
    */
  def chunks(documents: DataFrame, chunkSize: Int = 32, stride: Int = 16): DataFrame = {
    val sql =
      s"""flatten(transform(array($tokensSql), t ->
         |  if(size(t) < 1, cast(array() as array<struct<chunk_idx: int, chunk: string, n_chunk_tokens: int>>),
         |     transform(sequence(0, size(t) - 1, $stride), st -> named_struct(
         |       'chunk_idx', cast(st / $stride as int),
         |       'chunk', concat_ws(' ', slice(t, st + 1, $chunkSize)),
         |       'n_chunk_tokens', size(slice(t, st + 1, $chunkSize)))))))""".stripMargin
    documents
      .select(col("doc_id"), explode(expr(sql)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk").as("chunk"), col("c.n_chunk_tokens").as("n_chunk_tokens"))
  }

  /** Sentence-boundary chunking — the RAG-prep sibling of the
    * fixed-window [[chunks]]: split on sentence punctuation, then pack
    * WHOLE sentences greedily into chunks of ≤ `maxTokens` (a retrieval
    * chunk that never cuts mid-sentence embeds and reads better than a
    * fixed window; an oversized single sentence gets its own chunk — the
    * standard greedy rule). The chunk assignment is one per-doc
    * higher-order fold over the sentence token counts (bounded by
    * sentences/doc, never corpus-scale), replayed in the oracle as a
    * per-doc recursive walk. Emits per-chunk sentence and token counts —
    * zero shuffles before the final per-doc aggregate.
    */
  def sentenceChunks(documents: DataFrame, maxTokens: Int = 32): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be positive, got $maxTokens")
    val cntsSql =
      s"""filter(transform(split(text, '[.!?]+'),
         |         x -> size(regexp_extract_all(lower(x), '$TokenPattern', 0))),
         |       c -> c > 0)""".stripMargin
    val idsSql =
      s"""aggregate(cnts,
         |  named_struct('cur', 0, 'idx', 0, 'ids', cast(array() as array<int>)),
         |  (st, tk) -> if(st.cur > 0 and st.cur + tk > $maxTokens,
         |    named_struct('cur', tk, 'idx', st.idx + 1,
         |                 'ids', concat(st.ids, array(st.idx + 1))),
         |    named_struct('cur', st.cur + tk, 'idx', st.idx,
         |                 'ids', concat(st.ids, array(st.idx)))),
         |  st -> st.ids)""".stripMargin
    documents
      .select(col("doc_id"), expr(cntsSql).as("cnts"))
      .select(col("doc_id"), col("cnts"), expr(idsSql).as("ids"))
      .select(col("doc_id"), explode(expr("arrays_zip(cnts, ids)")).as("z"))
      .groupBy(col("doc_id"), col("z.ids").as("chunk_idx"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("z.cnts")).cast(LongType).as("n_chunk_tokens"))
  }

  /** Global token histogram: explode + one hash aggregate. The groupBy key
    * is the token — on a skewed corpus AQE's skew handling splits hot
    * tokens; partial aggregation keeps the shuffle small regardless.
    */
  def termFrequencies(documents: DataFrame): DataFrame =
    documents
      .select(explode(expr(tokensSql)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))

  /** Good–Turing frequency-of-frequencies table (Good 1953) — the
    * smoothing read behind every count-based LM estimate: N_c = how many
    * token types occur exactly c times, and the adjusted count
    * c* = (c+1)·N_{c+1}/N_c that reallocates mass toward unseen events.
    * Scale shape: the corpus collapses to the type-frequency table
    * ([[termFrequencies]], one partial-agg shuffle), then to the ≤
    * max-count-row N_c profile; the c↔c+1 self-join runs on that tiny
    * frame. c* is ONE double ratio over exact integers, in micros; NULL
    * where N_{c+1} is empty (the estimator is undefined there, which
    * both engines agree on via the left join).
    */
  def goodTuringCounts(documents: DataFrame, maxC: Int = 10): DataFrame = {
    val foff = termFrequencies(documents)
      .groupBy(col("n").as("c")).agg(count(lit(1)).as("n_c"))
    val next = foff.select((col("c") - 1).as("c"), col("n_c").as("n_c1"))
    foff.filter(col("c") <= maxC)
      .join(next, Seq("c"), "left")
      .select(col("c"), col("n_c"),
        when(col("n_c1").isNull, lit(null).cast(LongType))
          .otherwise(expr("""cast(round(cast(c + 1 as double) * cast(n_c1 as double)
            | / cast(n_c as double) * 1000000) as bigint)""".stripMargin))
          .as("c_star_micros"))
  }

  /** Word2vec-style negative-sampling table — the unigram^0.75
    * distribution (Mikolov et al. 2013) materialized as cumulative
    * ranges: weight(w) ∝ count(w)^0.75 (the exponent that damps stop
    * words without flattening to uniform), each token carrying its
    * share and the inclusive cumulative weight bound, so a sampler
    * draws u ∈ [1, total] and binary-searches cum_hi. Determinism:
    * c^0.75 is computed as exp(0.75·ln c) — ONE fixed-shape libm pair
    * over the exact count (the repo's entropy-op discipline; pow() is
    * the less-portable spelling) quantized to integer micros; the
    * cumulative is the exact sharded running sum ([[ShardedOrder]]) in
    * (weight desc, token) order — vocabulary CAN be fact-scale on a
    * real corpus, so no single-reducer window. One corpus token
    * aggregate + the vocab-scale rank/cumsum.
    */
  def negativeSamplingTable(documents: DataFrame): DataFrame = {
    val w = termFrequencies(documents)
      .select(col("token"), col("n"),
        expr("cast(round(exp(0.75d * ln(cast(n as double))) * 1000000) as bigint)")
          .as("weight_micro"))
    val tot = w.agg(sum(col("weight_micro")).as("w_tot"))
    ShardedOrder.withRunningSum(w, col("weight_micro"), "cum_hi", 32,
      col("weight_micro").desc, col("token"))
      .crossJoin(broadcast(tot))
      .select(col("token"), col("n"), col("weight_micro"),
        expr("(cast(weight_micro as decimal(38,0)) * 1000000 + w_tot div 2) div w_tot").as("share_ppm"),
        col("cum_hi"))
  }

  /** PMI collocation mining over adjacent-token bigrams: the classic
    * phrase-discovery pass (Mikolov-style word2phrase uses the same
    * statistic). All three marginals derive from the ONE corpus-scale
    * bigram aggregate — c(a,·) and c(·,b) are vocab-scale re-aggregations
    * of the bigram-count frame and N is its grand total — so the corpus
    * is tokenized and shuffled exactly once; the frame is persisted so
    * the three consumers don't replay that shuffle through lineage
    * (cache lifecycle handed to the caller, per the Verify contract).
    * PMI is quantized to integer micros per pair BEFORE any ordering
    * (the source_drift float-chain pattern), `minCount` plays the df
    * guard that keeps the heavy tail of hapax bigrams out of the join,
    * and the top-k is a TakeOrdered with a (w1, w2) tiebreak.
    */
  def pmiCollocations(documents: DataFrame, minCount: Long = 5,
                      k: Int = 50): DataFrame = {
    val bgc = documents
      .withColumn("tk", expr(tokensSql)).filter(expr("size(tk) >= 2"))
      .select(explode(expr(
        "transform(sequence(0, size(tk) - 2), i -> " +
          "named_struct('w1', tk[i], 'w2', tk[i + 1]))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .persist()
    val ca = bgc.groupBy(col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val cb = bgc.groupBy(col("w2")).agg(sum(col("c_ab")).as("c_b"))
    val n = bgc.agg(sum(col("c_ab")).as("n"))
    bgc.filter(col("c_ab") >= minCount)
      .join(ca, Seq("w1"))
      .join(cb, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_ab"),
        expr("cast(round(ln(cast(c_ab as double) * n / " +
          "(cast(c_a as double) * c_b)) * 1000000) as bigint)").as("pmi_micros"))
      .orderBy(col("pmi_micros").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** T5-style span corruption (Raffel et al.): deterministic denoising
    * sample generation. The token stream splits into fixed `span`-token
    * windows; a window is masked iff its portable md5 bucket on
    * (doc_id, window) lands under `ratePct` — retry-stable and
    * replayable by any engine, unlike rand(). Masked windows collapse to
    * `<extra_id_k>` sentinels (k numbered in appearance order) in the
    * input; the target is sentinel + original tokens per masked span.
    * The whole transform is per-row higher-order-function arithmetic
    * inside whole-stage codegen — zero shuffles, zero joins, so it
    * composes with a corpus scan at any scale. Cost is O(windows²) per
    * doc for the sentinel renumbering (a running filter-count over the
    * flag prefix), bounded by (len/span)² on a single row — negligible
    * against the scan for real document lengths.
    */
  def spanCorruption(documents: DataFrame, span: Int = 5,
                     ratePct: Int = 15): DataFrame = {
    val d = documents
      .withColumn("tk", tokensOf("text"))
      .withColumn("nw", expr(s"cast(((size(tk) + ${span - 1}) div $span) as int)"))
      // `sequence` descends when stop < start, so an empty doc can't use
      // sequence(0, -1); build over max(nw, 1) windows and slice to empty
      // after (slice keeps the struct element type, unlike a bare array())
      .withColumn("ws0", expr(
        s"""transform(sequence(0, greatest(nw, 1) - 1), w -> named_struct(
           |  'w', w,
           |  'wtoks', slice(tk, w * $span + 1, $span),
           |  'masked', pmod(cast(conv(substr(md5(concat(cast(doc_id as string),
           |      ':', cast(w as string))), 1, 8), 16, 10) as bigint), 100) < $ratePct))""".stripMargin))
      .withColumn("ws", expr("case when nw = 0 then slice(ws0, 1, 0) else ws0 end"))
      .withColumn("flags", expr("transform(ws, x -> x.masked)"))
    d.select(
      col("doc_id"),
      expr(
        """array_join(transform(ws, x -> case when x.masked
          |  then concat('<extra_id_',
          |       cast(size(filter(slice(flags, 1, x.w), f -> f)) as string), '>')
          |  else array_join(x.wtoks, ' ') end), ' ')""".stripMargin).as("input_text"),
      expr(
        """array_join(transform(filter(ws, x -> x.masked), x ->
          |  concat('<extra_id_',
          |    cast(size(filter(slice(flags, 1, x.w), f -> f)) as string), '> ',
          |    array_join(x.wtoks, ' '))), ' ')""".stripMargin).as("target_text"),
      expr("size(filter(flags, f -> f))").as("n_spans"),
      expr("aggregate(filter(ws, x -> x.masked), 0, (acc, x) -> acc + size(x.wtoks))")
        .as("n_masked_tokens"))
  }

  /** Reproducible corpus sampling: an md5-derived bucket per key, keeping
    * buckets < pctBuckets of `of`. Unlike rand()/TABLESAMPLE this survives
    * retries, speculative tasks, and repartitioning — and any engine
    * selects the SAME rows (portable hash), so samples are auditable and
    * joinable across systems. The filter is a pure per-row predicate:
    * pushes to the scan, no shuffle, no state.
    */
  def deterministicSample(df: DataFrame, keyCol: String,
                          pctBuckets: Int, of: Int = 100): DataFrame =
    df.filter(
      expr(s"cast(conv(substr(md5(cast($keyCol as string)), 1, 8), 16, 10) as bigint) % $of")
        < pctBuckets)

  /** Exact balanced downsample: every stratum cut to the size of the
    * SMALLEST stratum, rows chosen in portable-hash order (md5 bucket,
    * doc_id tiebreak) — the deterministic analog of per-class
    * downsampling for training mixes. Unlike the ppm hash filter
    * (`deterministicSample`) this is EXACT: each surviving stratum has
    * precisely `min_n` rows, and any engine selects the same rows.
    *
    * The rank runs over a NARROW (id, stratum, hash) projection — the
    * per-stratum window shuffles ~24 bytes/row, not documents; callers
    * needing payloads join survivors back by id. At 100 TB the remaining
    * hazard is one reducer per stratum; for few huge strata pre-thin
    * with the ppm filter at a rate safely above target/n first, then
    * rank the survivors — hash order makes the two-phase result
    * identical as long as the prefilter keeps >= min_n rows per stratum.
    */
  def balancedSample(df: DataFrame, strataCol: String = "source",
                     idCol: String = "doc_id"): DataFrame = {
    val target = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("target"))
    df.select(col(idCol), col(strataCol),
        expr(s"cast(conv(substr(md5(cast($idCol as string)), 1, 8), 16, 10) as bigint)")
          .as("hk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(strataCol)).orderBy(col("hk"), col(idCol))))
      .crossJoin(broadcast(target))
      .filter(col("rn") <= col("target"))
      .select(col(idCol), col(strataCol))
  }

  /** Stopword sets for the multi-language ID heuristic — deliberately
    * (near-)disjoint so a tie means genuine ambiguity, broken
    * alphabetically (documented, deterministic).
    */
  private[graft] val langStops: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "for"),
    "es" -> Seq("el", "los", "una", "por", "como", "pero", "mas", "y"),
    "fr" -> Seq("le", "les", "dans", "pour", "sur", "avec", "est", "une"))

  /** Multi-language ID: per-language stopword occurrence counts over the
    * shared tokenizer, argmax with the alphabetical tiebreak, `und` when
    * no set fires — the n-gram-heuristic generalization of the binary
    * `langIdPredict`. One narrow per-row pass; the token array is
    * let-bound so the tokenizer runs once per row.
    */
  def langIdMulti(documents: DataFrame): DataFrame = {
    val hits = langStops.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("array(", ", ", ")")
      expr(s"size(filter(tk, t -> array_contains($arr, t)))").as(s"h_$l")
    }
    val m = greatest(langStops.map { case (l, _) => col(s"h_$l") }: _*)
    val pred = langStops.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"h_$l") === col("m") && col("m") > 0, lit(l)).otherwise(acc)
    }
    documents
      .select(col("doc_id"), col("lang"), expr(tokensSql).as("tk"))
      .select(Seq(col("doc_id"), col("lang")) ++ hits: _*)
      .withColumn("m", m)
      .withColumn("pred_lang",
        when(col("m") === 0, lit("und")).otherwise(pred))
      .select(col("doc_id"), col("lang"), col("pred_lang"))
  }

  /** Language-ID confusion matrix: predicted vs labeled language with
    * per-label shares — the eval read that tells you WHERE the heuristic
    * is blind (e.g. zh has no Latin stopwords → everything lands in
    * `und`), not just how often. One per-row prediction pass + one
    * (label, pred) aggregate over ≤ |langs|² rows.
    */
  def langIdConfusion(documents: DataFrame): DataFrame = {
    val c = langIdMulti(documents)
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("lang")).agg(sum(col("n")).as("tot"))
    c.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n"),
        expr("(cast(n as decimal(38,0)) * 1000000 + tot div 2) div tot").as("share_ppm"))
  }

  /** Heaps-law vocabulary growth curve: split the corpus into `buckets`
    * portable-hash document slices, count each slice's tokens and the
    * token TYPES first seen there, and emit cumulative token/type totals
    * — the points a Heaps fit (V ≈ K·nᵝ) reads from. The read a corpus
    * build actually uses: a type curve that keeps climbing linearly
    * means the crawl is still finding new material; one that flattens
    * early means the marginal shard is rehash of known vocabulary (stop
    * paying for it). "First seen" is bucket-MIN (deterministic, not
    * scan-order), so the curve is a pure function of the corpus. One
    * token explode + two hash aggregates; the cumulative window runs
    * over `buckets` rows.
    */
  def vocabGrowth(documents: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val tok = documents.select(
      (expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
        % buckets).cast(IntegerType).as("bucket"),
      explode(expr(tokensSql)).as("token"))
    val newTypes = tok.groupBy(col("token")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val perBucket = tok.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    val wCum = Window.partitionBy(pmod(col("n_tokens"), lit(1))).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newTypes, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wCum))
      .withColumn("cum_types", sum(col("new_types")).over(wCum))
      .select(col("bucket"), col("n_tokens"), col("new_types"),
        col("cum_tokens"), col("cum_types"))
  }

  /** Flesch reading-ease profile — the classic readability screen next to
    * the Gopher/quality gates (training mixes tune on it: very low
    * scores flag legalese/boilerplate, implausibly high ones flag
    * template floods). Counts are pure integers from the shared
    * tokenizer regex: words = [a-z0-9]+ runs, sentences = [.!?]+ runs
    * (floor 1), syllables = per-word vowel-group count (floor 1 — the
    * standard heuristic). The score
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) is ONE
    * fixed-shape double expression over those exact longs, micros-
    * quantized — engine-identical by the momentsProfile rule. Zero
    * shuffles; scan-bound per-row HOFs like `span_corruption`.
    */
  def readability(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
        expr("cast(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) as bigint)")
          .as("words"),
        greatest(expr("cast(size(regexp_extract_all(text, '[.!?]+', 0)) as bigint)"),
          lit(1L)).as("sentences"),
        expr("""aggregate(
          |  transform(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
          |    w -> greatest(size(regexp_extract_all(w, '[aeiouy]+', 0)), 1)),
          |  0L, (a, x) -> a + cast(x as bigint))""".stripMargin).as("syllables"))
      .filter(col("words") > 0)
      .select(col("doc_id"), col("words"), col("sentences"), col("syllables"),
        expr("""cast(round(
          |  (206.835d
          |   - 1.015d * (cast(words as double) / cast(sentences as double))
          |   - 84.6d * (cast(syllables as double) / cast(words as double)))
          |  * 1000000) as bigint)""".stripMargin).as("flesch_micros"))

  /** Quantile (rank) normalization of a numeric document feature — the
    * distribution-free feature transform a downstream classifier/mixer
    * wants instead of raw values ("this doc is at the 83rd length
    * percentile" is comparable across sources; "4 017 chars" is not).
    * pct_ppm = (#docs with value ≤ v) / n in half-up integer ppm — the
    * exact empirical CDF, NO global rank window: the corpus-scale work
    * is one value-count aggregate; the cumulative runs over the DISTINCT
    * value frame (dimension-scale, the `ksSourceDrift` machinery) and
    * maps back with one join. Ties share a percentile by construction —
    * the property per-row rank numbers get wrong.
    */
  def quantileNormalize(documents: DataFrame, valCol: String = "n_chars"): DataFrame = {
    val cnt = documents.groupBy(col(valCol).as("v")).agg(count(lit(1)).as("c"))
    // sharded exact running sum (ShardedOrder): the cumulative runs over
    // the distinct-value frame in range-sharded slices + a one-row-per-
    // shard carry — exact ECDF with no single-reducer window, so the op
    // survives a fact-scale distinct-value cardinality too
    val cum = ShardedOrder.withRunningSum(cnt, col("c"), "cum_le", 32, col("v"))
      .select(col("v"), col("cum_le"))
    val n = documents.agg(count(lit(1)).as("n"))
    documents.select(col("doc_id"), col(valCol).as("v"))
      .join(cum, Seq("v"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("v"),
        expr("(cum_le * 1000000 + n div 2) div n").as("pct_ppm"))
  }

  /** Top-k keywords per document by tf·idf — the extractive tagging pass
    * a corpus catalog needs. Ranking is integer-exact across engines:
    * idf = ln(N/df) is quantized to micros ONCE per distinct (N, df)
    * value (the [[graft-engine-portability-traps]] transcendental rule:
    * integer-derived input, quantize the output, then exact arithmetic),
    * and the score tf·idf_micros is a BIGINT, so rank order — including
    * the token-asc tiebreak — is bit-identical in Spark and the oracle.
    * Same three hash aggregates as [[tfIdf]]; the per-doc top-k window
    * runs over narrow (doc, token, score) rows.
    */
  private def docTokenTf(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(expr(tokensSql)).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** The corpus IDF table: (token, df, idf_micros) with idf quantized to
    * micros at build time — the frame `writeIdfIndex` persists and every
    * keyword consumer joins. One narrow row per distinct token.
    */
  def idfTable(documents: DataFrame): DataFrame =
    docTokenTf(documents).groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(documents.agg(count(lit(1)).as("n_docs"))))
      .select(col("token"), col("df"),
        expr("cast(round(ln(cast(n_docs as double) / df) * 1000000) as bigint)")
          .as("idf_micros"))

  /** Persisted IDF index — the FOURTH corpus artifact (after fp/band,
    * component, IVF-PQ indexes): the vocabulary statistics of a corpus
    * snapshot landed as narrow parquet, so keyword/scoring consumers
    * join a prebuilt table instead of re-aggregating the corpus per
    * query. Same build-once/consume-many lifecycle via the artifact
    * registry; `keywords_topk_stored` shares the inline oracle verbatim,
    * hash-proving the at-rest round trip.
    */
  def writeIdfIndex(documents: DataFrame, path: String): Unit =
    idfTable(documents).write.mode("overwrite").parquet(path)

  def idfIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def keywordsTopKWith(documents: DataFrame, idf: DataFrame, k: Int = 3): DataFrame =
    docTokenTf(documents)
      .join(idf.select(col("token"), col("idf_micros")), "token")
      .withColumn("score", col("tf") * col("idf_micros"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("token").asc)))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token").as("keyword"), col("score"))

  def keywordsTopK(documents: DataFrame, k: Int = 3): DataFrame =
    keywordsTopKWith(documents, idfTable(documents), k)

  /** Class-based TF-IDF (the BERTopic c-TF-IDF shape): tokens aggregated
    * per SOURCE, idf over the source universe instead of the doc
    * universe — "what vocabulary distinguishes this crawl from the
    * others", the corpus-characterization rollup a mixing decision
    * reads. Same integer-exact ranking discipline as [[keywordsTopK]];
    * the per-source aggregate is tiny (sources ≪ docs), so the window
    * is over broadcast-scale rows.
    */
  def sourceKeywords(documents: DataFrame, k: Int = 5): DataFrame =
    classKeywords(documents, "source", k)

  /** Cluster LABELING — the missing half of topic modeling over the
    * embedding space (the full BERTopic loop: embed → cluster →
    * c-TF-IDF label): documents joined to their nearest-centroid
    * assignment (ids-only argmin, narrow rows), then the same
    * class-based keyword extraction keyed by cluster. The doc↔vector
    * join is co-keyed on the id, the assignment is one broadcast pass —
    * nothing here exceeds the component ops' scale shapes.
    */
  def clusterKeywords(documents: DataFrame, embeddings: DataFrame,
                      nCentroids: Int = 8, k: Int = 5): DataFrame = {
    val asg = SimilarityOps
      .ivfAssignIds(embeddings, SimilarityOps.seedCentroids(embeddings, nCentroids))
      .select(col("vec_id").as("doc_id"), col("centroid_id").as("cluster_id"))
    classKeywords(documents.join(asg, "doc_id"), "cluster_id", k)
  }

  /** c-TF-IDF core shared by [[sourceKeywords]] and [[clusterKeywords]]:
    * per-class term aggregation, idf over the class universe, integer-
    * exact ranking; the per-class window runs over broadcast-scale rows
    * (classes ≪ docs).
    */
  private def classKeywords(tagged: DataFrame, keyCol: String, k: Int): DataFrame = {
    val tf = tagged
      .select(col(keyCol), explode(expr(tokensSql)).as("token"))
      .groupBy(col(keyCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("token")).agg(count(lit(1)).as("df_classes"))
    tf.join(dfs, "token")
      .crossJoin(broadcast(tagged.agg(countDistinct(col(keyCol)).as("n_classes"))))
      .withColumn("idf_micros",
        expr("cast(round(ln(cast(n_classes as double) / df_classes) * 1000000) as bigint)"))
      .withColumn("score", col("tf") * col("idf_micros"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(keyCol))
          .orderBy(col("score").desc, col("token").asc)))
      .filter(col("rank") <= k)
      .select(col(keyCol), col("rank"), col("token").as("keyword"),
        col("tf"), col("score"))
  }

  /** TF-IDF per (doc, token): tf = in-document count, idf = ln(N/df) with
    * df = number of documents containing the token. Three hash aggregates
    * (doc×token, token, corpus count) + one join on token; the corpus size
    * rides in as a broadcast 1-row frame so the whole plan stays
    * distributed (no driver-side count threaded into the expression).
    * At 100 TB the (doc, token) aggregate dominates and partial
    * aggregation keeps its shuffle proportional to distinct pairs.
    */
  def tfIdf(documents: DataFrame): DataFrame = {
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val tf = documents
      .select(col("doc_id"), explode(tokensOf("text")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(df_, "token")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tf"),
        round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 6).as("tf_idf"))
  }

  /** [[gopherSignals]]' struct over the let-bound tokens `t` and lines
    * `ls`; stop_hits rides inside it (r8: a second stopword projection
    * ran the tokenizer regex a second time per row).
    */
  private val gopherSql =
    s"""named_struct(
       |  'stop_hits', ${stopHitsSql("t")},
       |  'n_tokens', size(t),
       |  'mean_word_len', if(size(t) = 0, cast(0.0 as double),
       |     round(aggregate(t, 0, (acc, x) -> acc + length(x)) / cast(size(t) as double), 6)),
       |  'alpha_ratio', if(size(t) = 0, cast(0.0 as double),
       |     round(size(filter(t, x -> x rlike '[a-z]')) / cast(size(t) as double), 6)),
       |  'symbol_ratio', if(size(t) = 0, cast(0.0 as double),
       |     round(((length(text) - length(replace(text, '#', '')))
       |          + (length(text) - length(replace(text, '...', ''))) div 3)
       |         / cast(size(t) as double), 6)),
       |  'bullet_line_ratio',
       |     round(size(filter(ls, l -> left(ltrim(l), 2) IN ('- ', '* ')))
       |         / cast(size(ls) as double), 6),
       |  'ellipsis_line_ratio',
       |     round(size(filter(ls, l -> right(l, 3) = '...'))
       |         / cast(size(ls) as double), 6))""".stripMargin

  /** Gopher-style quality-filter signals over `text` (the rule family of
    * Rae et al.'s Gopher corpus filtering, re-expressed as one codegen'd
    * expression): stopword hits, token count, mean word length,
    * alphabetic-word ratio, symbol-to-word ratio ('#' and '...'), and
    * bullet-/ellipsis-line ratios, as one struct. Tokens and lines are
    * let-bound, so the tokenizer and the line split each run once per row.
    */
  def gopherSignals: Column = expr(withTokensAndLines(gopherSql))

  /** The Gopher `keep` verdict over a [[gopherSignals]] struct, with the
    * published-style thresholds.
    */
  def gopherKeep(g: Column): Column =
    g("n_tokens").between(50, 100000) &&
      g("mean_word_len").between(3.0, 10.0) &&
      g("symbol_ratio") < 0.1 &&
      g("bullet_line_ratio") < 0.9 &&
      g("ellipsis_line_ratio") < 0.3 &&
      g("alpha_ratio") > 0.8 &&
      g("stop_hits") >= 2

  /** Per-document Gopher signals and `keep` verdict: per-row expression
    * arithmetic, no shuffle, no UDF; the whole corpus gate is one narrow
    * projection that pushes to the scan.
    */
  def gopherQuality(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), gopherSignals.as("g"))
      .select(
        col("doc_id"),
        col("g.n_tokens").as("n_tokens"),
        col("g.mean_word_len").as("mean_word_len"),
        col("g.alpha_ratio").as("alpha_ratio"),
        col("g.symbol_ratio").as("symbol_ratio"),
        col("g.bullet_line_ratio").as("bullet_line_ratio"),
        col("g.ellipsis_line_ratio").as("ellipsis_line_ratio"),
        gopherKeep(col("g")).as("keep"))

  /** The duplicate-trigram ratio over the let-bound tokens `t`. */
  private val dupTrigramSql =
    """transform(array(if(size(t) < 3, cast(array() as array<string>),
      |                   transform(sequence(0, size(t) - 3),
      |                     i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])))), g ->
      |  if(size(g) = 0, cast(0.0 as double),
      |     round(1.0 - size(array_distinct(g)) / cast(size(g) as double), 6)))[0]""".stripMargin

  /** Within-document repetition signals over `text` — the C4/Gopher
    * "repetitious content" filters: duplicate-token, duplicate-trigram,
    * and duplicate-line fractions (1 − distinct/total), as one struct.
    * High values flag boilerplate, keyword stuffing, and template spam.
    * The trigram list derives from the let-bound token array, so the
    * tokenizer runs once per row.
    */
  def repetition: Column = expr(withTokensAndLines(
    s"""named_struct(
       |  'n_tokens', size(t),
       |  'dup_token_ratio', if(size(t) = 0, cast(0.0 as double),
       |     round(1.0 - size(array_distinct(t)) / cast(size(t) as double), 6)),
       |  'dup_trigram_ratio', $dupTrigramSql,
       |  'dup_line_ratio',
       |     round(1.0 - size(array_distinct(ls)) / cast(size(ls) as double), 6))""".stripMargin))

  /** Per-document [[repetition]] signals. */
  def repetitionStats(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), repetition.as("r")).select(col("doc_id"), col("r.*"))

  /** The full corpus pipeline's keep verdict as ONE let-bound boolean:
    * quality ≥ `minQuality`, the Gopher `keep`, and duplicate-trigram
    * ratio ≤ `maxDupTrigram` — exactly the three faces' verdicts
    * intersected. Tokens and lines are bound once for all three, so the
    * tokenizer runs once per row wherever Catalyst pushes the filter.
    */
  def corpusKeep(minQuality: Double, maxDupTrigram: Double): Column = {
    val signals = expr(withTokensAndLines(s"named_struct('quality', $qualitySql, " +
      s"'gopher', $gopherSql, 'dup_trigram_ratio', $dupTrigramSql)"))
    transform(array(signals), s =>
      s("quality") >= minQuality && gopherKeep(s("gopher")) &&
        s("dup_trigram_ratio") <= maxDupTrigram)(0)
  }

  /** PII scrubbing pass: emails → <EMAIL>, IPv4-ish quads → <IP>, long
    * digit runs (ids, phone numbers, SSNs) → <NUM>. Order matters — emails
    * and IPs are matched before bare digit runs so their digits don't get
    * half-rewritten. Patterns stay in the regex subset Java and RE2 share,
    * so the DuckDB oracle replays them verbatim (with the 'g' flag —
    * DuckDB's regexp_replace is first-match by default, Spark's is
    * global). One codegen'd projection; no shuffle.
    */
  def redactPii(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"),
            "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
          "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
        "[0-9]{6,}", "<NUM>").as("redacted"))

  /** Token-budget sequence packing — the training-data step that bins
    * chunks into ≤`seqBudget`-token training sequences. Chunks are first
    * sharded by a portable hash of doc_id (packing parallelizes per
    * shard — a single global cumulative sum would serialize on one
    * reducer at 100 TB), then a running token total within the shard
    * assigns `seq_id = floor(preceding_total / seqBudget)`. Deterministic
    * under any partitioning: the shard hash and the (doc_id, chunk_idx)
    * order are both data-derived.
    */
  def packChunks(documents: DataFrame, seqBudget: Int = 256, shards: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sharded = chunks(documents).withColumn("shard",
      expr(s"cast(cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % $shards as int)"))
    val w = Window.partitionBy("shard").orderBy(col("doc_id"), col("chunk_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .withColumn("cum", sum(col("n_chunk_tokens")).over(w))
      .select(col("shard"), col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
        expr(s"(cum - n_chunk_tokens) div $seqBudget").as("seq_id"))
  }

  /** Packing-efficiency audit over [[packChunks]] — the utilization read
    * a training-data owner checks before shipping a pack config: how
    * many sequences, how full are they against the token budget
    * (avg fill in ppm), and how many OVERFLOW the budget (a chunk is
    * assigned by its preceding total, so a chunk straddling a boundary
    * runs past it — by design; this row is where that trade becomes a
    * number). Pure rollup of the packer's own output — same one window
    * pass, then a (shard, seq_id)-keyed aggregate and one final
    * reduce — so auditing costs no more than packing.
    */
  def packingEfficiency(documents: DataFrame, seqBudget: Int = 256): DataFrame = {
    val seqs = packChunks(documents, seqBudget)
      .groupBy(col("shard"), col("seq_id"))
      .agg(sum(col("n_chunk_tokens")).as("fill"))
    seqs.agg(count(lit(1)).as("n_seqs"),
        sum(col("fill")).as("total_tokens"),
        sum(when(col("fill") > seqBudget, 1L).otherwise(0L)).as("n_overflow"))
      .select(col("n_seqs"), col("total_tokens"), col("n_overflow"),
        expr(s"""cast((cast(total_tokens as decimal(38,0)) * 1000000 + (n_seqs * ${seqBudget}L) div 2)
                | div (n_seqs * ${seqBudget}L) as bigint)""".stripMargin)
          .as("avg_fill_ppm"))
  }

  /** Oracle-checkable gate for the HLL++ sketch: per source, does the
    * approximate cardinality land within `relErr` of the exact one? The
    * sketch value itself is engine-specific, but this boolean is not —
    * the DuckDB oracle emits literal TRUE per group, so the hash compare
    * asserts the accuracy bound. The exact countDistinct alongside is
    * affordable at verify scale; at 100 TB you run only the sketch and
    * this query remains the calibration check on a sampled shard.
    */
  def approxDistinctWithinTol(documents: DataFrame, relErr: Double = 0.05): DataFrame =
    documents
      .groupBy(col("source"))
      .agg(
        approx_count_distinct(col("text"), 0.01).as("approx_docs"),
        // exact side counts distinct md5 fingerprints, not raw text: the
        // distinct shuffle then carries 32-char keys instead of full
        // documents (the same cardinality up to md5 collisions, ~0 at any
        // corpus size that fits in a datacenter)
        countDistinct(md5(col("text"))).as("exact_docs"))
      .select(col("source"),
        (abs(col("approx_docs") - col("exact_docs")).cast(DoubleType)
          / col("exact_docs") <= lit(relErr)).as("within_tol"))

  /** Token-budgeted stratified corpus mixing — the training-data step that
    * assembles a mixture ("X tokens of web, Y of code, Z of papers") from
    * per-source token budgets. Docs within a source are admitted in
    * portable-hash priority order until the source's budget is exhausted,
    * so the mixture is (a) reproducible across engines/retries/repartition
    * (the same property as deterministicSample — no rand()), and (b) an
    * unbiased within-source sample (the hash order is uncorrelated with
    * any document attribute).
    *
    * `budgets`: (source, token_budget) — small (one row per source),
    * broadcast. Scale shape: one narrow projection for counts+priority,
    * one window shuffle partitioned BY SOURCE for the running total. A
    * source is one window partition, so a 100 TB run wants sources ≫
    * executor-core count or a sub-sharded refinement (pack-style shard
    * splits, see packChunks) — for the mixture use case sources number in
    * the dozens and each partition's rows stream through one sort, which
    * holds to ~10⁹ docs/source.
    */
  def mixCorpus(documents: DataFrame, budgets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = documents.select(
      col("doc_id"), col("source"),
      expr(s"size($tokensSql)").cast(LongType).as("n_tokens"),
      expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
        .as("priority"))
    val w = Window.partitionBy(col("source")).orderBy(col("priority"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .join(broadcast(budgets), Seq("source"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= col("token_budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** Hashed linear quality classifier — the fastText-shaped model-based
    * filter of a training-data pipeline (hash each token into `dim`
    * feature buckets, score = mean bucket weight), with the weight vector
    * itself derived from a portable hash so the whole model is
    * deterministic and engine-replayable (a real deployment broadcasts
    * learned weights; the plumbing — hashing trick, integer-exact
    * accumulation, margin + verdict — is identical). Weights are INTEGERS
    * in [-1000, 1000] and the per-doc accumulation stays integer, so the
    * score is bit-exact under any evaluation order; the single division
    * happens once at the end (same discipline as the money aggregates).
    * One narrow codegen'd projection: no shuffle, no UDF, pushes to the
    * scan.
    */
  def qualityClassifier(documents: DataFrame, dim: Int = 1024): DataFrame = {
    def hash32(e: String) = s"cast(conv(substr(md5($e), 1, 8), 16, 10) as bigint)"
    val weightOf = // token -> bucket -> signed integer weight
      s"(${hash32(s"cast(pmod(${hash32("tk")}, $dim) as string)")} % 2001) - 1000"
    val sql =
      s"""element_at(transform(array($tokensSql), t -> named_struct(
         |  'n', size(t),
         |  's', aggregate(t, 0L, (acc, tk) -> acc + ($weightOf)))), 1)""".stripMargin
    documents
      .select(col("doc_id"), expr(sql).as("m"))
      .select(col("doc_id"),
        col("m.n").as("n_tokens"),
        // quantize-at-integer, then divide: round(x, 6) diverges between
        // engines when s/(1000n) sits on a 1e-6 half boundary (sf0.1 hit
        // one: 1033/16000 — Spark's BigDecimal HALF_UP on the exact double
        // vs DuckDB's ×1e6-then-round drift apart), while round(x) at
        // scale 0 rounds the SAME exact double value in both engines
        (expr("cast(round(cast(m.s as double) * 1000.0d / " +
            "nullif(cast(m.n as double), 0.0d)) as bigint)").cast(DoubleType)
          / lit(1e6)).as("clf_score"),
        (col("m.s") > 0).as("clf_keep"))
  }

  /** Document-similarity top-k via an INVERTED INDEX: sparse cosine over
    * df-guarded, quantized-idf term vectors. The all-pairs document
    * similarity a naive implementation writes as a cross join is here an
    * equi-join of postings lists on the term — work proportional to
    * Σ_term df(term)², bounded by the df guard (2 ≤ df ≤ maxDf) exactly
    * like the guarded jaccard tier: a term in half the corpus would
    * otherwise emit O(n²) candidate pairs on its own, and (as with
    * stopwords) carries no similarity signal worth that cost. df=1 terms
    * can't produce a pair and are dropped too.
    *
    * Integer-exact accumulation: idf is quantized to 1e-3 as a BIGINT
    * (w = tf · round(1000·ln(N/df))), so every dot product and norm is an
    * exact integer sum — group-sum order cannot leak double ulps into the
    * hash gate (the same discipline as `qualityClassifier`). The one
    * division and sqrt happen per emitted pair, on exact integers.
    * Norms are over the SAME guarded vocabulary, so the cosine is
    * self-consistent. Scale shape: three hash aggregates (doc×term, term
    * df, per-doc norm) + one postings self-join shuffled by term + a
    * window partitioned by doc_a — no global sort, no cross join.
    */
  def tfidfTopKSim(documents: DataFrame, k: Int = 3, maxDf: Int = 50): DataFrame = {
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val tf = documents
      .select(col("doc_id"), explode(expr(tokensSql)).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val weights = tf.join(dfs, "token")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        (col("tf") *
          expr("cast(round(ln(cast(n_docs as double) / df) * 1000) as bigint)")).as("w"))
    val norms = weights.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("nrm2"))
    val pairs = weights.select(col("token"), col("doc_id").as("doc_a"), col("w").as("wa"))
      .join(weights.select(col("token"), col("doc_id").as("doc_b"), col("w").as("wb")),
        Seq("token"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    val w = Window.partitionBy("doc_a").orderBy(col("score").desc, col("doc_b"))
    pairs
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm2").as("na2")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm2").as("nb2")), Seq("doc_b"))
      .withColumn("score",
        round(col("dot").cast(DoubleType) / (sqrt(col("na2")) * sqrt(col("nb2"))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_a"), col("doc_b"), col("score"), col("rank"))
  }

  /** Per-source quality-threshold calibration: each source's P-quantile of
    * the quality score becomes that source's OWN admission bar, and the
    * output reports the bar plus how much of the source clears it. This is
    * the adaptive-threshold pattern a multi-crawl pipeline needs — a single
    * global constant either guts a clean source or admits a dirty one;
    * per-source quantiles keep the filter's selectivity comparable across
    * heterogeneous crawls. Exact interpolated percentile over round-6
    * quality values, threshold re-rounded at 6, and the keep comparison
    * runs rounded-vs-rounded — an engine ulp cannot move the bar or flip a
    * doc across it. Scale shape: one narrow per-doc projection, a
    * per-source sort for the exact quantile (sources ≪ docs; swap in
    * approx_percentile when a sketch suffices), a broadcast-size threshold
    * table joined back, one hash aggregate.
    */
  def qualityCalibrate(documents: DataFrame, q: Double = 0.25): DataFrame = {
    val scored = documents.select(col("source"), quality.as("quality"))
    val thr = scored.groupBy(col("source"))
      .agg(round(expr(s"percentile(quality, ${q}d)"), 6).as("threshold"))
    scored.join(broadcast(thr), Seq("source"))
      .groupBy(col("source"), col("threshold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= col("threshold"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("threshold"), col("n_docs"), col("n_kept"))
  }

  /** DSIR-style importance weights (hashed-n-gram importance resampling,
    * Xie et al. 2023, arXiv:2302.03169): score every document by how
    * target-like its hashed-bigram distribution is. Target = documents
    * from `targetSource` (the "wiki" of the corpus); raw = everything
    * else. Each bigram maps to one of `nBuckets` portable md5 buckets;
    * per-bucket Laplace-smoothed log-likelihood ratio
    * ln((tc+1)/(T+B)) − ln((rc+1)/(R+B)) is quantized to 1e-6 as a BIGINT
    * weight, so the per-doc sum over bigram occurrences is integer-exact
    * (accumulation order cannot leak ulps); the quantized sum converts to
    * a double once at the end. Docs with < 2 tokens emit no bigrams and
    * drop out, identically in both engines.
    *
    * Scale shape: the model is two hash aggregates over the corpus (bucket
    * counts, then totals) producing an nBuckets-row table — broadcast; the
    * scoring pass explodes docs to bigram occurrences, map-side joins the
    * weight table, and runs one per-doc hash aggregate. Nothing shuffles
    * at corpus width except the doc_id aggregate, which partial-aggregates
    * map-side. At 100 TB you'd train the bucket model on a sample and
    * reuse it across batches — the scoring pass is the shape that matters.
    */
  def dsirWeights(documents: DataFrame, targetSource: String = "src0",
                  nBuckets: Int = 4096): DataFrame = {
    val bigramsSql =
      s"""flatten(transform(array($tokensSql), t ->
         |  if(size(t) < 2, cast(array() as array<string>),
         |     transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1])))))"""
        .stripMargin
    val bi = documents
      .select(col("doc_id"), col("source"), explode(expr(bigramsSql)).as("bigram"))
      .withColumn("bucket",
        expr(s"cast(conv(substr(md5(bigram), 1, 8), 16, 10) as bigint) % $nBuckets"))
    val counts = bi.groupBy(col("bucket"))
      .agg(sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("tc"),
        sum(when(col("source") =!= targetSource, 1L).otherwise(0L)).as("rc"))
    val totals = counts.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
    val wts = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        expr(s"cast(round((ln((tc + 1.0d) / (tt + ${nBuckets}.0d)) - " +
          s"ln((rc + 1.0d) / (rt + ${nBuckets}.0d))) * 1000000) as bigint)").as("wq"))
    bi.join(broadcast(wts), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("wq")).cast(DoubleType) / 1e6, 6).as("dsir_logratio"))
  }

  /** CCNet-style LM filter: a bigram language model with add-one smoothing
    * is trained on the target slice of the corpus (the "clean" LM corpus —
    * CCNet trains KenLM on Wikipedia), and every document is scored by its
    * mean bigram log-probability plus the derived perplexity. Low-ppl docs
    * read like the target; high-ppl docs are noise/boilerplate — the
    * standard perplexity-bucket triage.
    *
    * Where `dsirWeights` collapses n-grams into a broadcast-size bucket
    * table, here the model is a first-class DISTRIBUTED table keyed by the
    * bigram itself — the shape a real LM-score pass has when the model
    * exceeds broadcast size: scoring is two shuffle equi-joins (bigram →
    * count, unigram-context → count), both build sides one row per key.
    * Hot bigrams skew the PROBE side only, which AQE's skew split handles;
    * the vocabulary size rides in as a broadcast 1-row frame. Per-bigram
    * log-probs quantize to 1e-6 BIGINTs (ln of exact-integer ratios), so
    * the per-doc mean is integer-exact under any accumulation order;
    * perplexity is exp of the ROUNDED mean, rounded at 4. OOV contexts
    * fall back to ln(1/V), identically in both engines.
    */
  def lmPerplexity(documents: DataFrame, targetSource: String = "src0"): DataFrame = {
    val bi = documents.select(col("doc_id"), col("source"),
      explode(expr(
        s"""flatten(transform(array($tokensSql), t ->
           |  if(size(t) < 2, cast(array() as array<struct<w1: string, w2: string>>),
           |     transform(sequence(0, size(t) - 2),
           |               i -> named_struct('w1', t[i], 'w2', t[i+1])))))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val target = bi.filter(col("source") === targetSource)
    val cb = target.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cu = target.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = target.select(col("w1").as("w")).union(target.select(col("w2")))
      .agg(countDistinct(col("w")).as("v"))
    bi.join(cb, Seq("w1", "w2"), "left")
      .join(cu, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        expr("cast(round(ln((coalesce(cb, 0) + 1.0d) / (coalesce(c1, 0) + v)) * 1000000) as bigint)")
          .as("lpq"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        // quantize-at-integer, not round(x, 6): the mean is a ratio of
        // exact integers and CAN land on a 1e-6 half boundary (the
        // quality_classifier lesson); scale-0 round of the same exact
        // double is engine-stable
        (expr("cast(round(cast(sum(lpq) as double) / count(1)) as bigint)")
          .cast(DoubleType) / lit(1e6)).as("avg_logprob"))
      .withColumn("ppl", round(exp(-col("avg_logprob")), 4))
  }

  /** BM25 lexical retrieval over the corpus: score every document against
    * a fixed query-term set and return the top `kTop` by score. Completes
    * the lexical-retrieval story next to `tfIdf`/`tfidfTopKSim` — BM25's
    * tf saturation (k1) and length normalization (b) are what production
    * search/retrieval stacks actually rank with, and a training-data
    * pipeline uses exactly this shape for targeted corpus queries
    * ("find documents about X to up/down-sample").
    *
    * Scale shape: the token Generate is filtered to the query-term set
    * BEFORE the (doc_id, token) aggregate, so the per-token shuffle
    * carries query-term hits only (|terms| ≪ vocab — at 100 TB this is
    * the difference between shuffling the corpus and shuffling a sliver).
    * df and the corpus-wide avgdl are tiny aggregates broadcast back; the
    * final top-k is a TakeOrdered (no global sort materialization).
    * Scoring is round-6 quantized with a (score desc, doc_id) tiebreak →
    * deterministic and oracle-checkable.
    */
  def bm25TopK(documents: DataFrame,
               queryTerms: Seq[String] = Seq("spark", "merge", "window", "query"),
               kTop: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = documents.select(
      col("doc_id"),
      expr(s"size($tokensSql)").cast(DoubleType).as("dl"),
      explode(expr(tokensSql)).as("token"))
    val hits = toks.filter(col("token").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast(DoubleType).as("tf"), first(col("dl")).as("dl"))
    val dfs = hits.groupBy(col("token")).agg(count(lit(1)).cast(DoubleType).as("df"))
    val corpus = documents.agg(
      count(lit(1)).cast(DoubleType).as("n_docs"),
      avg(expr(s"size($tokensSql)").cast(DoubleType)).as("avgdl"))
    hits
      .join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"),
        (expr("ln(1.0d + (n_docs - df + 0.5d) / (df + 0.5d))") *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
      // quantize each per-term score to an integer BEFORE summing: float
      // addition is order-sensitive and the engines sum in different
      // orders; integer sums commute exactly (the lm_perplexity lesson)
      .select(col("doc_id"), expr("cast(round(s * 1000000) as bigint)").as("sq"))
      .groupBy(col("doc_id"))
      .agg((sum(col("sq")).cast(DoubleType) / lit(1e6)).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(kTop)
  }

  /** Cohen's κ between two cheap document screens (char-length vs
    * token-count gates) — the inter-rater agreement read a labeling
    * pipeline runs before trusting that two quality signals measure the
    * same thing: raw agreement p_o corrected by the chance agreement
    * p_e of the raters' marginals. κ = (p_o − p_e)/(1 − p_e) carried as
    * ONE double ratio of exact integer contingency sums:
    * (n·agree − chance)/(n² − chance) with
    * chance = a₁·b₁ + (n−a₁)(n−b₁). One corpus aggregate; NULL when the
    * marginals make chance agreement total (κ undefined).
    */
  def cohensKappaScreens(documents: DataFrame,
                         minChars: Long = 500L, minTokens: Long = 100L): DataFrame = {
    val D = DecimalType(38, 0)
    val flags = documents.select(
      (col("n_chars") >= minChars).as("a"),
      (expr(s"size($tokensSql)") >= minTokens).as("b"))
    flags
      .agg(count(lit(1)).as("n"),
        sum(when(col("a"), 1L).otherwise(0L)).as("a1"),
        sum(when(col("b"), 1L).otherwise(0L)).as("b1"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      .select(col("n"), col("n11"), col("n00"), col("a1"), col("b1"),
        when(col("n").cast(D) * col("n") ===
          (col("a1").cast(D) * col("b1") +
            (col("n") - col("a1")).cast(D) * (col("n") - col("b1"))).cast(D),
          lit(null).cast(LongType))
          .otherwise(expr("""cast(round(
            |  cast(n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1)) as double)
            |  / cast(n * n - (a1 * b1 + (n - a1) * (n - b1)) as double)
            |  * 1000000) as bigint)""".stripMargin))
          .as("kappa_micros"))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai & Lafferty
    * 2004) — the language-modeling alternative to [[bm25TopK]] the IR
    * stack A/Bs against: score(q,d) = Σ_t ln((tf + μ·p_c(t))/(dl + μ)),
    * decomposed into the rank-stable form Σ_t ln(1 + tf·T/(μ·cf_t))
    * + Σ_t ln(μ·cf_t/T) − |q|·ln(dl + μ) so that only docs CONTAINING a
    * query term are scored (the pure-background docs score strictly
    * lower and are not shortlist candidates). Same determinism scheme as
    * BM25: every ln term quantizes to integer micros BEFORE any sum, so
    * cross-engine float addition order cannot drift the hash; the final
    * top-k is a TakeOrdered with a (score desc, doc_id) tiebreak.
    * Query terms absent from the corpus (cf = 0) drop out of all three
    * sums on both sides, p_c being undefined for them.
    */
  def qlmTopK(documents: DataFrame,
              queryTerms: Seq[String] = Seq("spark", "merge", "window", "query"),
              kTop: Int = 20, mu: Double = 2000.0): DataFrame = {
    val toks = documents.select(
      col("doc_id"),
      expr(s"size($tokensSql)").cast(LongType).as("dl"),
      explode(expr(tokensSql)).as("token"))
    val tot = documents
      .agg(sum(expr(s"size($tokensSql)").cast(LongType)).as("t_all"))
    val cf = toks.filter(col("token").isin(queryTerms: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cf"))
    val qn = cf.agg(count(lit(1)).as("qn"))
    val cons = cf.crossJoin(broadcast(tot))
      .select(expr(s"""cast(round(ln($mu * cast(cf as double) / cast(t_all as double))
        | * 1000000) as bigint)""".stripMargin).as("c_term"))
      .agg(sum(col("c_term")).as("c"))
    val hits = toks.filter(col("token").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val hs = hits
      .join(broadcast(cf), Seq("token"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("dl"),
        expr(s"""cast(round(ln(1.0d + (cast(tf as double) * cast(t_all as double))
          | / ($mu * cast(cf as double))) * 1000000) as bigint)""".stripMargin).as("h_term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("h_term")).as("hsum"), first(col("dl")).as("dl"))
    hs.crossJoin(broadcast(cons)).crossJoin(broadcast(qn))
      .select(col("doc_id"),
        expr(s"""cast(hsum + c - round(cast(qn as double)
          | * ln(cast(dl as double) + $mu) * 1000000) as bigint)""".stripMargin)
          .as("qlm_micros"))
      .orderBy(col("qlm_micros").desc, col("doc_id"))
      .limit(kTop)
  }

  /** Exact heavy hitters: the `kTop` most frequent tokens in the corpus.
    * One Generate + one partial-aggregated hash shuffle keyed by token +
    * a TakeOrdered — the exact baseline the sketch tier below is gated
    * against. (count desc, token) tiebreak → deterministic.
    */
  def heavyHitters(documents: DataFrame, kTop: Int = 25): DataFrame =
    documents
      .select(explode(expr(tokensSql)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(kTop)

  /** Count-min-sketch heavy-hitter gate: build a CMS over every token
    * occurrence (Spark's mergeable `stat.countMinSketch` — partials merge
    * by integer counter addition, so the estimate is EXACTLY deterministic
    * under any partitioning given the fixed seed), then check the CMS
    * guarantee against exact counts for the top `kTop` tokens:
    * overestimate-only, and within eps·N with high probability.
    *
    * This is the 100 TB shape for frequency queries the exact aggregate
    * can't afford: the sketch is O(1/eps · ln(1/δ)) integers regardless of
    * vocab size, built in one pass with map-side merges — the driver
    * receives a few-KB sketch, never the token distribution. The exact
    * side here is the small top-k verification set only.
    */
  def heavyHittersCms(documents: DataFrame, kTop: Int = 25,
                      eps: Double = 0.001, confidence: Double = 0.99): DataFrame = {
    val spark = documents.sparkSession
    val toks = documents.select(explode(expr(tokensSql)).as("token"))
    val sketch = toks.stat.countMinSketch("token", eps, confidence, /*seed=*/ 42)
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt"))).head().getLong(0)
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(kTop).collect()
    val bound = math.ceil(eps * total).toLong
    import spark.implicits._
    top.toSeq.map { r =>
      val (token, exact) = (r.getString(0), r.getLong(1))
      val est = sketch.estimateCount(token)
      (token, exact, est >= exact && est <= exact + bound)
    }.toDF("token", "cnt", "within_tol")
  }

  /** Per-source distribution drift: KL(P_source ‖ P_corpus) over token
    * distributions, in integer micros — the monitor that catches a crawl
    * source going off-distribution (template floods, language shifts,
    * scraper breakage) before it contaminates a training mix. KL against
    * the corpus mixture rather than pairwise sources: one score per
    * source, O(sources) not O(sources²), and the mixture is the
    * distribution a sampler actually draws from.
    *
    * Determinism: every count is an exact integer from two hash
    * aggregates (corpus totals DERIVE from the per-source aggregate — no
    * second corpus pass); each term's float work is a fixed-order chain
    * over those integers, quantized to micros BEFORE the per-source sum
    * (the lm_perplexity/zipf discipline). Scale shape: one
    * (source, token) shuffle, vocabulary-scale re-aggregates, broadcast
    * totals, per-term codegen arithmetic.
    */
  def sourceDrift(documents: DataFrame): DataFrame = {
    val st = documents
      .select(col("source"), explode(expr(tokensSql)).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c_st"))
    val ct = st.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val n = ns.agg(sum(col("n_s")).as("n"))
    st.join(ct, Seq("t"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("n_s"),
        expr("cast(round(cast(c_st as double) / n_s * " +
          "ln(cast(c_st as double) * n / (cast(c_t as double) * n_s)) * 1000000) " +
          "as bigint)").as("term_micros"))
      .groupBy(col("source"), col("n_s"))
      .agg(sum(col("term_micros")).as("kl_micros"))
      .select(col("source"), col("n_s").as("n_tokens"), col("kl_micros"))
  }

  // --- BPE tokenizer-vocabulary training (distributed, bit-exact) ---

  /** Sentinel-delimited symbol string for a word: `ab` → `|a||b|`. Every
    * symbol is wrapped in `|` (never a token char under the `[a-z0-9]+`
    * tokenizer), so "merge adjacent symbols A,B" is the LITERAL string
    * replacement `|A||B|` → `|AB|` — and literal replacement is
    * left-to-right non-overlapping in both engines, which is exactly
    * greedy BPE application (`aaaa` under the `a+a` rule → `aa aa`, the
    * freshly-merged symbol never re-merges within the same pass). The
    * encoding is what makes an inherently sequential per-word greedy
    * fold expressible as one codegen'd `replace` — no UDF, no fold, and
    * a DuckDB `replace` replays it verbatim.
    */
  private val symsInitSql =
    "concat('|', array_join(transform(regexp_extract_all(w, '.', 0), c -> c), '||'), '|')"

  /** BPE merge-table training over the corpus vocabulary (Sennrich et
    * al.): the most frequent adjacent symbol pair merges each round, with
    * pair frequency = Σ word-frequency over occurrences.
    *
    * Scale shape: the ONLY corpus-scale stage is the word-frequency
    * aggregate (one partial-agg shuffle over tokens). Training then runs
    * on the DISTINCT-WORD table — vocabulary-scale, orders of magnitude
    * smaller than the corpus — where each round is one pair aggregate
    * (vocab-scale shuffle) + a 1-row broadcast + a per-word literal
    * replace. `localCheckpoint` per round keeps round r from re-deriving
    * rounds 1..r−1 (the plan would otherwise re-execute the whole merge
    * chain per aggregate, the PageRank lineage lesson at higher stakes
    * because each round's frame depends on the previous round's ARGMAX).
    * Rounds are argmax-deterministic: (weight DESC, pair ASC) with exact
    * integer weights.
    *
    * Returns (round, sym_a, sym_b, merged, weight) — the merge table IS
    * the trained tokenizer (apply with `bpeEncode`).
    */
  def bpeTrain(documents: DataFrame, rounds: Int = 10,
               minFreq: Long = 1L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val init = documents
      .select(explode(expr(tokensSql)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .select(expr(symsInitSql).as("syms"), col("freq"))
    var words = init.localCheckpoint()
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val pairs = words
        .select(col("freq"),
          expr("split(substr(syms, 2, length(syms) - 2), '\\\\|\\\\|')").as("a"))
        .select(col("freq"), explode(expr(
          "if(size(a) >= 2, transform(sequence(1, size(a) - 1), " +
            "i -> struct(element_at(a, i) as x, element_at(a, i + 1) as y)), " +
            "array())")).as("p"))
      val best = broadcast(
        pairs.groupBy(col("p.x").as("x"), col("p.y").as("y"))
          .agg(sum(col("freq")).as("wt"))
          .orderBy(col("wt").desc, col("x"), col("y")).limit(1)
          .localCheckpoint())
      merges += best.select(lit(r).as("round"), col("x").as("sym_a"),
        col("y").as("sym_b"), concat(col("x"), col("y")).as("merged"),
        col("wt").as("weight"))
      // left join on TRUE: an exhausted vocabulary (no pairs anywhere)
      // yields an empty argmax, and a cross join would silently EMPTY the
      // word table; the null-guarded replace is a no-op instead
      words = words.join(best, lit(true), "left")
        .select(expr("replace(syms, coalesce(concat('|', x, '||', y, '|'), " +
          "char(0)), concat('|', coalesce(concat(x, y), ''), '|'))").as("syms"),
          col("freq"))
        .localCheckpoint()
    }
    merges.result().reduce(_ unionByName _)
  }

  /** Train/held-out generalization audit for the BPE tokenizer: train on
    * the portable-hash 90% of documents, apply the learned merges to BOTH
    * splits, and emit per-split totals (docs, tokens, chars, BPE symbols,
    * words unseen in training). The held-out compression ratio vs the
    * train ratio is the generalization read every tokenizer change needs
    * BEFORE it ships — a vocabulary overfit to its training crawl
    * compresses held-out text measurably worse. The char-level base
    * vocabulary means unseen words still encode (their chars merge where
    * trained pairs apply); `unseen_words` counts them. Driver-side state
    * is the K-row merge list only (same boundedness as `bpeEncode`).
    */
  def bpeHoldoutAudit(documents: DataFrame, rounds: Int = 10,
                      trainPct: Int = 90): DataFrame = {
    val withSplit = documents.withColumn("split",
      expr("if(cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)" +
        s" % 100 < $trainPct, 'train', 'heldout')"))
    val merges = bpeTrain(withSplit.filter(col("split") === "train"), rounds)
      .orderBy(col("round")).collect()
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b"))).toSeq
    val applied = merges.foldLeft(symsInitSql) { case (acc, (a, b)) =>
      s"replace($acc, '|$a||$b|', '|$a$b|')"
    }
    val toks = withSplit.select(col("split"), col("doc_id"),
      explode(expr(tokensSql)).as("w"))
    val trainVocab = toks.filter(col("split") === "train")
      .select(col("w")).distinct()
    val enc = toks
      .select(col("split"), col("doc_id"), length(col("w")).cast(LongType).as("chars"),
        explode(expr(s"array($applied)")).as("h"))
      .select(col("split"), col("doc_id"), col("chars"),
        expr("size(split(substr(h, 2, length(h) - 2), '\\\\|\\\\|'))")
          .cast(LongType).as("bpe"))
      .groupBy(col("split"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(col("chars")).as("n_chars_tok"),
        sum(col("bpe")).as("n_bpe_symbols"))
    val unseen = toks.join(trainVocab, Seq("w"), "left_anti")
      .groupBy(col("split")).agg(countDistinct(col("w")).as("unseen_words"))
    enc.join(unseen, Seq("split"), "left")
      .na.fill(0L, Seq("unseen_words"))
  }

  /** Pack WHOLE documents into fixed-budget sequences by an arbitrary
    * per-doc weight column — the document-level sibling of `packChunks`
    * (which packs intra-doc chunks by regex-token count). Composed with
    * `bpeEncode`'s `n_bpe_symbols` it packs by the tokenizer's ACTUAL
    * currency, which is what a pretraining loader bins by — regex tokens
    * are only a proxy for sequence cost. Same scale shape as
    * `packChunks`: portable-hash sharding keeps the running-total window
    * parallel (no global sort), one narrow shuffle.
    */
  def packDocsBy(counts: DataFrame, weightCol: String,
                 seqBudget: Int = 256, shards: Int = 32): DataFrame = {
    val sharded = counts.withColumn("shard",
      expr(s"cast(cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % $shards as int)"))
    val w = Window.partitionBy("shard")
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .withColumn("cum", sum(col(weightCol)).over(w))
      .select(col("shard"), col("doc_id"), col(weightCol),
        expr(s"(cum - $weightCol) div $seqBudget").as("seq_id"))
  }

  /** Apply a trained merge list (in round order) to the corpus: the same
    * sentinel encoding per token, one literal replace per merge — a
    * static chain of K codegen'd string ops per row, no per-row loop
    * state. Emits per-doc BPE symbol counts next to raw token/char
    * counts (the compression-ratio read every tokenizer change is judged
    * by). `merges` is the driver-side (sym_a, sym_b) list — K rows,
    * bounded by construction, the same boundedness class as the
    * broadcast PQ codebooks.
    */
  /** Deterministic epoch shuffle + shard assignment — the data-ORDER side
    * of training reproducibility (loss curves depend on sample order;
    * "epoch 3 of run A" must be re-creatable on any cluster). Each
    * epoch's permutation is the portable md5 of (doc_id, epoch): a new
    * order every epoch, no RNG state, identical under retries /
    * speculative tasks / engine swaps. Docs land in `nShards` hash
    * shards with a per-shard sequence number, so the "shuffle" is one
    * narrow per-shard window (the `packChunks` sharding discipline —
    * never a global sort); a trainer reads shard files in (shard, seq)
    * order. At 100 TB this is one shuffle of (id, hash) pairs.
    */
  def epochShuffle(documents: DataFrame, epoch: Int, nShards: Int = 8): DataFrame = {
    require(nShards >= 1, s"nShards must be positive, got $nShards")
    val h = expr("cast(conv(substr(md5(concat(cast(doc_id as string), " +
      s"':', '$epoch')), 1, 8), 16, 10) as bigint)")
    documents.select(col("doc_id"), h.as("h"))
      .withColumn("shard", (col("h") % nShards).cast(IntegerType))
      .withColumn("seq", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))).cast(LongType))
      .select(col("doc_id"), col("shard"), col("seq"))
  }

  /** Tokenizer fertility by language — the multilingual-equity audit a
    * tokenizer change ships against: fertility = BPE symbols per word
    * (a language whose words fragment into many symbols pays more
    * compute/context per sentence), chars-per-symbol = the compression
    * read. Both in half-up integer ppm over the exact corpus-wide sums,
    * composed from `bpeEncode`'s per-doc counts + one broadcast-scale
    * (lang) rollup. Docs with zero tokenizable words carry no signal and
    * drop (matching the encode).
    */
  def bpeFertilityByLang(documents: DataFrame,
                         merges: Seq[(String, String)]): DataFrame =
    bpeEncode(documents, merges)
      .join(documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_bpe_symbols")).as("n_bpe_symbols"),
        sum(col("n_chars_tok")).as("chars"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_bpe_symbols"),
        expr("(cast(n_bpe_symbols as decimal(38,0)) * 1000000 + n_tokens div 2) div n_tokens")
          .as("fertility_ppm"),
        expr("(cast(chars as decimal(38,0)) * 1000000 + n_bpe_symbols div 2) div n_bpe_symbols")
          .as("chars_per_sym_ppm"))

  // --- Unigram-LM tokenizer training (Kudo 2018, hard-EM/Viterbi) ---

  /** Penalty for a substring absent from the vocabulary: far below any
    * real path (worst all-chars path ≥ −len·|ln pmin|·1e6 ≈ −10⁹) yet
    * bounded so a length-capped fold can never overflow a long.
    */
  private val UnigramNeg = -1000000000000L

  /** Per-word Viterbi segmentation under a piece→logprob(micros) map
    * column `vmap`, as TWO higher-order folds (no UDF):
    *
    *  1. dp: acc[i+1] = (best score, best piece length) for prefix w[1..i]
    *     — at position i an inner `transform` scores the ≤ maxPieceLen
    *     candidate pieces ending there and `array_max` picks by
    *     (score, length) struct order (longer piece on ties, the same
    *     lexicographic-struct argmax idiom as pqCodesWith's min(struct));
    *  2. backtrace: walk positions n → 0 through the dp lengths,
    *     collecting pieces (at most n steps; a finished walk no-ops).
    *
    * Both folds are O(len·maxPieceLen) integer work per DISTINCT word —
    * vocabulary-scale, never corpus-scale.
    */
  private def unigramDpSql(maxPieceLen: Int): String =
    s"""aggregate(sequence(1, length(w)),
       |  array(named_struct('s', 0L, 'l', 0)),
       |  (acc, i) -> concat(acc, array(
       |    array_max(transform(sequence(1, least($maxPieceLen, i)), l ->
       |      named_struct(
       |        's', element_at(acc, i - l + 1).s
       |             + coalesce(element_at(vmap, substr(w, i - l + 1, l)),
       |                        ${UnigramNeg}L),
       |        'l', l))))))""".stripMargin

  /** Backtrace over a materialized `dp` column (Generate-gated by the
    * callers so the dp fold evaluates once, not per backtrace step). */
  private val unigramBacktraceSql: String =
    """aggregate(sequence(1, length(w)),
      |  named_struct('pos', length(w), 'ps', cast(array() as array<string>)),
      |  (st, x) -> if(st.pos <= 0, st,
      |    named_struct(
      |      'pos', st.pos - element_at(dp, st.pos + 1).l,
      |      'ps', concat(st.ps, array(substr(w,
      |        st.pos - element_at(dp, st.pos + 1).l + 1,
      |        element_at(dp, st.pos + 1).l))))),
      |  st -> st.ps)""".stripMargin

  /** Unigram-LM tokenizer trainer (Kudo 2018, SentencePiece's model),
    * in the hard-EM (Viterbi) variant: seed the vocabulary with every
    * substring up to maxPieceLen weighted by word frequency, keep the
    * top `vocabTarget` multi-char pieces (plus ALL single chars — the
    * coverage floor, never pruned), then iterate: Viterbi-segment every
    * distinct word under the current piece log-probs, re-count pieces
    * from the segmentations, re-prune, re-normalize. Deterministic end
    * to end: integer counts, (count DESC, piece ASC) pruning, micros
    * log-probs from one fixed-shape ln per piece, and the argmax inside
    * Viterbi breaks ties on longer length.
    *
    * Scale shape (same discipline as [[bpeTrain]]): the ONLY corpus-
    * scale stage is the word-frequency aggregate; seeding, EM counting
    * and pruning run on the DISTINCT-WORD / piece tables. Per round:
    * one vocab-scale explode + hash agg, a ≤(vocabTarget+|chars|)-row
    * sort, and a 1-row broadcast map — no corpus pass, no window.
    * Returns the final (piece, piece_len, cnt, logp_micros) vocabulary.
    */
  def unigramTrain(documents: DataFrame, vocabTarget: Int = 40,
                   emRounds: Int = 3, maxPieceLen: Int = 4): DataFrame = {
    require(vocabTarget >= 1 && emRounds >= 1 && maxPieceLen >= 2,
      s"bad unigram params: $vocabTarget/$emRounds/$maxPieceLen")
    val sp = documents.sparkSession
    val wf = documents
      .select(explode(expr(tokensSql)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val seeds = wf.select(col("freq"), explode(expr(
      s"""flatten(transform(sequence(1, length(w)), i ->
         |  transform(sequence(1, least($maxPieceLen, length(w) - i + 1)),
         |            l -> substr(w, i, l))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .localCheckpoint()
    val chars = seeds.filter(length(col("piece")) === 1)
      .select(col("piece")).localCheckpoint()
    def prune(counts: DataFrame): DataFrame = {
      val multi = counts.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(vocabTarget)
      val kept = chars.join(counts, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(1L)).as("cnt"))
        .unionByName(multi)
      val tot = kept.agg(sum(col("cnt")).as("total"))
      kept.crossJoin(broadcast(tot))
        .select(col("piece"), length(col("piece")).cast(LongType).as("piece_len"),
          col("cnt"),
          expr("""cast(round(ln(cast(cnt as double) / cast(total as double))
            | * 1000000) as bigint)""".stripMargin).as("logp_micros"))
        // per-round checkpoint is the MEASURED optimum (r17 A/B, the
        // bpeTrain result repeated here): without it the 3 EM rounds nest
        // the Viterbi DP expression into one deep plan and
        // unigram_holdout read 9.6 s vs 2.9 s — planning/codegen, not
        // task work. Do not re-try (r16 measured the same for bpeTrain).
        .localCheckpoint()
    }
    var vocab = prune(seeds)
    for (_ <- 1 to emRounds) {
      val vmap = vocab.agg(
        map_from_entries(collect_list(struct(col("piece"), col("logp_micros"))))
          .as("vmap"))
      val counts = wf.crossJoin(broadcast(vmap))
        .withColumn("dp", expr(unigramDpSql(maxPieceLen)))
        .select(col("freq"), explode(expr(unigramBacktraceSql)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      vocab = prune(counts)
    }
    vocab
  }

  /** The trained unigram tokenizer applied to the corpus: Viterbi-
    * segment each DISTINCT word once under the final vocabulary (the
    * same two folds as training), then join the per-word piece count
    * back to the exploded corpus — no re-segmentation per occurrence.
    * The per-word join is deliberately UNHINTED: `perWord` is the
    * distinct-word table, whose cardinality is corpus-dependent and
    * unbounded (NOT the ≤vocab-scale `vmap`, which IS broadcast) — at
    * 100 TB a forced broadcast would exceed driver memory, so AQE
    * decides (it picks broadcast when the word table is actually small,
    * a shuffle join when it isn't). Per-doc totals mirror [[bpeEncode]]
    * so the two tokenizers compare row-for-row.
    */
  def unigramEncode(documents: DataFrame, vocab: DataFrame,
                    maxPieceLen: Int = 4): DataFrame = {
    val vmap = vocab.agg(
      map_from_entries(collect_list(struct(col("piece"), col("logp_micros"))))
        .as("vmap"))
    val toks = documents
      .select(col("doc_id"), explode(expr(tokensSql)).as("w"))
    val perWord = toks.select(col("w")).distinct()
      .crossJoin(broadcast(vmap))
      .withColumn("dp", expr(unigramDpSql(maxPieceLen)))
      .select(col("w"),
        expr(s"cast(size($unigramBacktraceSql) as bigint)").as("n_pieces"))
    toks.join(perWord, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("w")).cast(LongType)).as("n_chars_tok"),
        sum(col("n_pieces")).as("n_unigram_pieces"))
  }

  /** Train/held-out generalization audit for the unigram tokenizer — the
    * [[bpeHoldoutAudit]] read applied to the hard-EM vocabulary: train on
    * the portable-hash 90%, Viterbi-encode BOTH splits under the trained
    * pieces, and emit per-split totals plus words unseen in training.
    * Held-out words always encode (single chars carry the NEG penalty but
    * are always candidates, so the DP never dead-ends — a heldout-only
    * character segments as itself); the held-out fertility vs train
    * fertility is the generalization read a vocabulary ships against.
    */
  def unigramHoldoutAudit(documents: DataFrame, vocabTarget: Int = 40,
                          emRounds: Int = 3, maxPieceLen: Int = 4,
                          trainPct: Int = 90): DataFrame = {
    val withSplit = documents.withColumn("split",
      expr("if(cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)" +
        s" % 100 < $trainPct, 'train', 'heldout')"))
    val vocab = unigramTrain(withSplit.filter(col("split") === "train"),
      vocabTarget, emRounds, maxPieceLen)
    val toks = withSplit.select(col("split"), col("doc_id"),
      explode(expr(tokensSql)).as("w"))
    val trainWords = toks.filter(col("split") === "train")
      .select(col("w")).distinct()
    val vmap = vocab.agg(
      map_from_entries(collect_list(struct(col("piece"), col("logp_micros"))))
        .as("vmap"))
    // same unhinted per-word join as unigramEncode: distinct-word
    // cardinality is corpus-scale, not broadcastable by contract
    val perWord = toks.select(col("w")).distinct()
      .crossJoin(broadcast(vmap))
      .withColumn("dp", expr(unigramDpSql(maxPieceLen)))
      .select(col("w"),
        expr(s"cast(size($unigramBacktraceSql) as bigint)").as("n_pieces"))
    val enc = toks.join(perWord, Seq("w"))
      .groupBy(col("split"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(length(col("w")).cast(LongType)).as("n_chars_tok"),
        sum(col("n_pieces")).as("n_unigram_pieces"))
    val unseen = toks.join(trainWords, Seq("w"), "left_anti")
      .groupBy(col("split")).agg(countDistinct(col("w")).as("unseen_words"))
    enc.join(unseen, Seq("split"), "left")
      .na.fill(0L, Seq("unseen_words"))
  }

  /** BPE vs unigram vs WordPiece fertility on the SAME corpus — the
    * comparison table the tokenizer choice is made on: pieces-per-token
    * and chars-per-piece in half-up integer ppm over exact corpus-wide
    * sums, one row per tokenizer. Low fertility at equal vocabulary
    * budget = better compression = more text per context window.
    */
  def tokenizerFertilityCompare(documents: DataFrame,
                                merges: Seq[(String, String)],
                                vocab: DataFrame,
                                wpVocab: DataFrame): DataFrame = {
    def roll(enc: DataFrame, name: String, pieceCol: String): DataFrame =
      enc.agg(sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars_tok")).as("chars"),
        sum(col(pieceCol)).as("n_pieces"))
        .select(lit(name).as("tokenizer"), col("n_tokens"), col("n_pieces"),
          expr("(cast(n_pieces as decimal(38,0)) * 1000000 + n_tokens div 2) div n_tokens")
            .as("fertility_ppm"),
          expr("(cast(chars as decimal(38,0)) * 1000000 + n_pieces div 2) div n_pieces")
            .as("chars_per_piece_ppm"))
    roll(bpeEncode(documents, merges), "bpe", "n_bpe_symbols")
      .unionByName(roll(unigramEncode(documents, vocab), "unigram",
        "n_unigram_pieces"))
      .unionByName(roll(wordpieceEncode(documents, wpVocab), "wordpiece",
        "n_wp_pieces"))
  }

  def bpeEncode(documents: DataFrame,
                merges: Seq[(String, String)]): DataFrame = {
    val applied = merges.foldLeft(symsInitSql) { case (acc, (a, b)) =>
      s"replace($acc, '|$a||$b|', '|$a$b|')"
    }
    documents
      .select(col("doc_id"), explode(expr(tokensSql)).as("w"))
      // Generate gate: materialize the K-deep replace chain ONCE per
      // token (projection collapse would otherwise inline it into both
      // the substr and the length consumer below)
      .select(col("doc_id"), length(col("w")).cast(LongType).as("chars"),
        explode(expr(s"array($applied)")).as("h"))
      .select(col("doc_id"), col("chars"),
        expr("size(split(substr(h, 2, length(h) - 2), '\\\\|\\\\|'))")
          .cast(LongType).as("bpe_syms"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("chars")).as("n_chars_tok"),
        sum(col("bpe_syms")).as("n_bpe_symbols"))
  }

  // --- WordPiece tokenizer (Schuster & Nakajima 2012; the BERT vocab) ---

  /** WordPiece merge-table training: BPE's merge loop with the
    * LIKELIHOOD score — each round merges the adjacent symbol pair
    * maximizing freq(xy) / (freq(x)·freq(y)), the pair whose merge most
    * increases a unigram LM's corpus likelihood (Schuster & Nakajima
    * 2012, as implemented in the public BERT/HuggingFace trainers),
    * where freq(x) is the symbol's occurrence count under the CURRENT
    * segmentation. The score is exact-integer end to end: score_pt =
    * (pf·10¹²) div (sf(x)·sf(y)) in DECIMAL(38,0) — pf ≤ 10¹³ tokens at
    * 100 TB keeps the numerator ≤ 10²⁵ and the denominator ≤ 10²⁶, both
    * inside 38 digits, and the floored quotient ≤ 10¹² lands in a LONG —
    * so the (score DESC, pair ASC) argmax is deterministic and replays
    * bit-for-bit in the DuckDB oracle's HUGEINT division.
    *
    * Scale shape = [[bpeTrain]]: one corpus-scale word-frequency
    * aggregate, then every round is vocabulary-scale (a symbol
    * frequency aggregate + a pair aggregate + a 1-row broadcast + one
    * literal replace), `localCheckpoint` per round to cut the ARGMAX
    * lineage chain. Returns (round, sym_a, sym_b, merged, pair_freq,
    * score_pt).
    */
  def wordpieceTrain(documents: DataFrame, rounds: Int = 10,
                     minFreq: Long = 1L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val init = documents
      .select(explode(expr(tokensSql)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .select(expr(symsInitSql).as("syms"), col("freq"))
    var words = init.localCheckpoint()
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val symsArr = expr("split(substr(syms, 2, length(syms) - 2), '\\\\|\\\\|')")
      val symFreq = words
        .select(col("freq"), explode(symsArr).as("s"))
        .groupBy(col("s")).agg(sum(col("freq")).as("sf"))
      val pairs = words
        .select(col("freq"), symsArr.as("a"))
        .select(col("freq"), explode(expr(
          "if(size(a) >= 2, transform(sequence(1, size(a) - 1), " +
            "i -> struct(element_at(a, i) as x, element_at(a, i + 1) as y)), " +
            "array())")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("freq")).as("pf"))
      val best = broadcast(
        pairs
          .join(symFreq.select(col("s").as("x"), col("sf").as("sfx")), Seq("x"))
          .join(symFreq.select(col("s").as("y"), col("sf").as("sfy")), Seq("y"))
          .select(col("x"), col("y"), col("pf"),
            expr("""cast((cast(pf as decimal(38,0)) * 1000000000000)
              | div (cast(sfx as decimal(38,0)) * cast(sfy as decimal(38,0)))
              | as bigint)""".stripMargin).as("score_pt"))
          .orderBy(col("score_pt").desc, col("x"), col("y")).limit(1)
          .localCheckpoint())
      merges += best.select(lit(r).as("round"), col("x").as("sym_a"),
        col("y").as("sym_b"), concat(col("x"), col("y")).as("merged"),
        col("pf").as("pair_freq"), col("score_pt"))
      // same null-guarded replace as bpeTrain: an exhausted vocabulary
      // (no adjacent pairs anywhere) must no-op, not empty the table
      words = words.join(best, lit(true), "left")
        .select(expr("replace(syms, coalesce(concat('|', x, '||', y, '|'), " +
          "char(0)), concat('|', coalesce(concat(x, y), ''), '|'))").as("syms"),
          col("freq"))
      // Checkpoint CADENCE, not per-round (r16): the per-round
      // localCheckpoint existed only to cut the argmax lineage, but each
      // checkpoint is a full materialization JOB whose fixed cost
      // dominates the vocabulary-scale table it writes (this trainer runs
      // TWO aggregates per round over `words`, so the loop was 3 jobs per
      // round). The ≤3 pending links between checkpoints are projections
      // joined against 1-row CHECKPOINTED argmax relations — replaying
      // them inside the next round's aggregates is bounded and cheap. No
      // checkpoint after the final round: `words` has no consumer beyond
      // the loop. Measured (r16, sf0.1): wordpiece_holdout 5.17 → 3.36 s
      // in the first A/B, though repeat solo runs scatter ±1 s (the
      // SCALE.md r11 host-variance class), so the close-bench full-suite
      // number is the authoritative read. bpeTrain deliberately KEEPS its
      // per-round checkpoint: it consumes `words` once per round (the
      // job saving is half) and its A/B read no improvement.
      if (r % 4 == 0 && r < rounds) words = words.localCheckpoint()
    }
    merges.result().reduce(_ unionByName _)
  }

  /** The WordPiece ENCODE vocabulary from a trained merge table: every
    * single character seen in training (the coverage floor — WordPiece's
    * inference never dead-ends on trained text) plus each round's merged
    * piece, capped at `maxPieceLen` (the greedy matcher's candidate
    * window; a longer merged piece simply never matches, on BOTH
    * engines). Vocabulary-scale by construction: ≤ |chars| + rounds rows.
    */
  def wordpieceVocabFrom(train: DataFrame, merges: DataFrame,
                         maxPieceLen: Int = 8): DataFrame = {
    val chars = train
      .select(explode(expr(tokensSql)).as("w"))
      .select(explode(expr("regexp_extract_all(w, '.', 0)")).as("piece"))
    chars.unionByName(merges.select(col("merged").as("piece")))
      .filter(length(col("piece")) <= maxPieceLen)
      .distinct()
      .select(col("piece"), length(col("piece")).cast(LongType).as("piece_len"))
  }

  /** Greedy longest-match-first WordPiece segmentation of one word
    * column `w` under a piece-membership map column `vmap`, as a single
    * higher-order fold (no UDF): state (pos, pieces, unks); each step
    * either consumes the LONGEST vocab piece starting at pos (ties
    * impossible — lengths are distinct) or, when no piece matches (a
    * character unseen in training), emits one UNK consuming one char —
    * the standard WordPiece out-of-vocabulary rule. O(len·maxPieceLen)
    * map probes per DISTINCT word; the array(...)-transform wrapper is
    * the let-binding idiom (evaluate the longest-match once, use twice).
    */
  private def wordpieceFoldSql(maxPieceLen: Int): String =
    s"""aggregate(sequence(1, length(w)),
       |  named_struct('pos', 1, 'np', 0L, 'unk', 0L),
       |  (st, z) -> if(st.pos > length(w), st,
       |    element_at(transform(array(
       |      array_max(transform(sequence(1, least($maxPieceLen, length(w) - st.pos + 1)),
       |        l -> if(element_at(vmap, substr(w, st.pos, l)) is not null, l, 0)))),
       |      ml -> if(ml = 0,
       |        named_struct('pos', st.pos + 1, 'np', st.np + 1L, 'unk', st.unk + 1L),
       |        named_struct('pos', st.pos + ml, 'np', st.np + 1L, 'unk', st.unk))), 1)),
       |  st -> named_struct('np', st.np, 'unk', st.unk))""".stripMargin

  /** The trained WordPiece tokenizer applied to the corpus: greedy
    * longest-match-first segmentation of each DISTINCT word (the fold
    * above) under the broadcast piece map — the map is vocabulary-scale
    * (≤ |chars| + rounds entries) and IS broadcastable by contract,
    * unlike the distinct-word table, whose join back to the exploded
    * corpus stays unhinted for AQE exactly as [[unigramEncode]]'s.
    * Per-doc totals mirror bpeEncode/unigramEncode so the three
    * tokenizers compare row-for-row; `n_unk` counts UNK emissions
    * (chars unseen in training — zero when trained on the full corpus).
    */
  def wordpieceEncode(documents: DataFrame, vocab: DataFrame,
                      maxPieceLen: Int = 8): DataFrame = {
    val vmap = vocab.agg(
      map_from_entries(collect_list(struct(col("piece"), lit(1))))
        .as("vmap"))
    val toks = documents
      .select(col("doc_id"), explode(expr(tokensSql)).as("w"))
    val perWord = toks.select(col("w")).distinct()
      .crossJoin(broadcast(vmap))
      .select(col("w"), expr(wordpieceFoldSql(maxPieceLen)).as("seg"))
      .select(col("w"), col("seg.np").as("n_pieces"), col("seg.unk").as("n_unk"))
    toks.join(perWord, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("w")).cast(LongType)).as("n_chars_tok"),
        sum(col("n_pieces")).as("n_wp_pieces"),
        sum(col("n_unk")).as("n_unk"))
  }

  /** WordPiece fertility by language — [[bpeFertilityByLang]]'s
    * multilingual-equity read for the likelihood-scored vocabulary, plus
    * the UNK column BPE doesn't have: a language whose characters fall
    * outside the training char set LOSES text to UNK, the harshest
    * equity failure a WordPiece deployment can ship.
    */
  def wordpieceFertilityByLang(documents: DataFrame,
                               vocab: DataFrame): DataFrame =
    wordpieceEncode(documents, vocab)
      .join(documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_wp_pieces")).as("n_wp_pieces"),
        sum(col("n_unk")).as("n_unk"),
        sum(col("n_chars_tok")).as("chars"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_wp_pieces"),
        col("n_unk"),
        expr("(cast(n_wp_pieces as decimal(38,0)) * 1000000 + n_tokens div 2) div n_tokens")
          .as("fertility_ppm"),
        expr("(cast(chars as decimal(38,0)) * 1000000 + n_wp_pieces div 2) div n_wp_pieces")
          .as("chars_per_piece_ppm"))

  /** Train/held-out generalization audit for WordPiece — the
    * [[bpeHoldoutAudit]] read on the likelihood-scored vocabulary:
    * train on the portable-hash 90%, greedy-encode BOTH splits, emit
    * per-split totals plus unseen words AND UNK emissions. UNK is the
    * read unique to WordPiece: BPE/unigram degrade to char pieces on
    * held-out text, WordPiece's matcher can DROP signal (one UNK per
    * unseen char) — `n_unk` on the heldout split is the vocabulary-
    * coverage risk a WordPiece deployment is judged by.
    */
  def wordpieceHoldoutAudit(documents: DataFrame, rounds: Int = 10,
                            maxPieceLen: Int = 8,
                            trainPct: Int = 90): DataFrame = {
    val withSplit = documents.withColumn("split",
      expr("if(cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)" +
        s" % 100 < $trainPct, 'train', 'heldout')"))
    val train = withSplit.filter(col("split") === "train")
    val vocab = wordpieceVocabFrom(train, wordpieceTrain(train, rounds), maxPieceLen)
    val vmap = vocab.agg(
      map_from_entries(collect_list(struct(col("piece"), lit(1)))).as("vmap"))
    val toks = withSplit.select(col("split"), col("doc_id"),
      explode(expr(tokensSql)).as("w"))
    val trainWords = toks.filter(col("split") === "train")
      .select(col("w")).distinct()
    val perWord = toks.select(col("w")).distinct()
      .crossJoin(broadcast(vmap))
      .select(col("w"), expr(wordpieceFoldSql(maxPieceLen)).as("seg"))
      .select(col("w"), col("seg.np").as("n_pieces"), col("seg.unk").as("n_unk"))
    val enc = toks.join(perWord, Seq("w"))
      .groupBy(col("split"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(length(col("w")).cast(LongType)).as("n_chars_tok"),
        sum(col("n_pieces")).as("n_wp_pieces"),
        sum(col("n_unk")).as("n_unk"))
    val unseen = toks.join(trainWords, Seq("w"), "left_anti")
      .groupBy(col("split")).agg(countDistinct(col("w")).as("unseen_words"))
    enc.join(unseen, Seq("split"), "left")
      .na.fill(0L, Seq("unseen_words"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing audit: for each
    * candidate vocabulary size K, what share of all token OCCURRENCES do
    * the K most frequent types cover (and so what OOV mass a K-type
    * vocab leaves on the table)? The curve is what picks a vocab size
    * before a BPE/unigram train; its complement is the Heaps-law read
    * (`vocab_growth` measures type growth, this measures occurrence
    * mass). Ranking is deterministic ((freq desc, token asc)) and both
    * the rank and the cumulative mass ride [[ShardedOrder]] — exact
    * global order with NO single-reducer window, so the curve computes
    * over a 10⁸-type web vocabulary the same way it does here. Shares in
    * half-up integer ppm. K is clamped to the observed type count (a
    * 31-type fixture still exercises every requested size).
    */
  def vocabCoverage(documents: DataFrame,
                    sizes: Seq[Int] = Seq(4, 8, 16, 32)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1), s"bad sizes: $sizes")
    val sp = documents.sparkSession
    import sp.implicits._
    val freq = documents
      .select(explode(expr(tokensSql)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("f"))
    // rank and cumulative mass share the (freq desc, token) total order
    // (ordering by rk ≡ ordering by the rank key), so one fused pass
    // replaces the stacked rank-then-resum (r16)
    val cum = ShardedOrder.withGlobalRankAndRunningSum(freq, "rk",
      col("f"), "cum_f", 32, col("f").desc, col("token"))
    val tot = freq.agg(sum(col("f")).as("total"), count(lit(1)).as("n_vocab"))
    val sizesDf = sizes.toDF("vocab_size")
    cum.crossJoin(broadcast(tot))
      .join(broadcast(sizesDf),
        col("rk") === least(col("vocab_size").cast(LongType), col("n_vocab")))
      .select(col("vocab_size"), col("n_vocab"), col("total").as("n_occurrences"),
        // DECIMAL-widened ppm: cum_f is a corpus-wide occurrence count —
        // ~1e13 tokens at 100 TB would overflow the LONG multiply
        expr("(cast(cum_f as decimal(38,0)) * 1000000 + total div 2) div total")
          .as("coverage_ppm"),
        expr("1000000 - (cast(cum_f as decimal(38,0)) * 1000000 + total div 2) div total")
          .as("oov_ppm"))
  }

  /** Per-source quality PERCENTILE normalization — the cross-source
    * comparable score a corpus mixer actually wants: raw quality scores
    * are not comparable across sources (a "0.6" from a clean feed and
    * from a spam feed mean different things), but "p80 within its own
    * source" is. Exact per-source ECDF: a (source, q) count, the
    * cumulative over the SOURCE-partitioned window (parallel across
    * sources; the dimension per source is its distinct quality values),
    * and a map-back join — `quantileNormalize`'s grouped sibling, ties
    * share a percentile by construction. Half-up integer ppm.
    */
  def qualityPctBySource(documents: DataFrame): DataFrame = {
    val q = documents.select(col("doc_id"), col("source"), qualityPpm.as("q_ppm"))
    val cnt = q.groupBy(col("source"), col("q_ppm")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("q_ppm"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cnt.withColumn("cum_le", sum(col("c")).over(w))
      .select(col("source"), col("q_ppm"), col("cum_le"))
    val ns = cnt.groupBy(col("source")).agg(sum(col("c")).as("n_src"))
    q.join(cum, Seq("source", "q_ppm"))
      .join(ns, Seq("source"))
      .select(col("doc_id"), col("source"), col("q_ppm"),
        expr("(cum_le * 1000000 + n_src div 2) div n_src").as("pct_ppm"))
  }

  /** Reliability diagram of the hashed-feature classifier against the
    * heuristic quality gate — the calibration read an ML eval wants
    * before trusting `clf_keep` as a corpus filter: bin the classifier
    * score into `bins` equal-width cells and report, per cell, the doc
    * count, the mean score, and the observed positive rate (quality ≥
    * 0.5) in ppm. A calibrated classifier shows pos_rate rising
    * monotonically with the score bins; a flat diagram means the hashed
    * features carry no signal against the gate. Integer end-to-end
    * (micro-scaled scores, [[graft.operators.StatsOps.histogram]]-style
    * binning off a broadcast bounds row); two corpus-scale per-doc
    * passes + one partial-agg shuffle over ≤ bins cells.
    */
  /** (doc_id, score_u, q_ppm): the hashed-classifier score next to the
    * quality-gate label — the shared input of the calibration family
    * ([[classifierReliability]], [[isotonicCalibration]]).
    */
  private def clfLabeled(documents: DataFrame): DataFrame = {
    val clf = qualityClassifier(documents)
      .select(col("doc_id"),
        expr("cast(round(clf_score * 1000000) as bigint)").as("score_u"))
      .filter(col("score_u").isNotNull)
    clf.join(documents.select(col("doc_id"), qualityPpm.as("q_ppm")), "doc_id")
  }

  def classifierReliability(documents: DataFrame, bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins out of range: $bins")
    val j = clfLabeled(documents)
    val b = j.agg(min(col("score_u")).as("mn"), max(col("score_u")).as("mx"))
    j.crossJoin(broadcast(b))
      .select(expr(s"(score_u - mn) * $bins div (mx - mn + 1)").as("bin"),
        col("score_u"), col("q_ppm"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        expr("cast((sum(score_u) + count(1) div 2) div count(1) as bigint)")
          .as("mean_score_u"),
        expr("""cast((cast(sum(cast(q_ppm >= 500000 as bigint)) as decimal(38,0)) * 1000000
          | + count(1) div 2) div count(1) as bigint)""".stripMargin)
          .as("pos_rate_ppm"))
  }

  /** Isotonic (PAV) calibration of the hashed classifier against the
    * quality gate — the monotone regression [[classifierReliability]]'s
    * raw per-bin rates feed in every production calibration stack
    * (Zadrozny & Elkan 2002): the calibrated curve is the closest
    * non-decreasing fit to the per-bin positive rates, so a higher
    * classifier score can never map to a LOWER calibrated probability.
    *
    * Pool-adjacent-violators is computed via the minimax identity
    * ŷ_i = max_{j≤i} min_{k≥i} mean(j..k) (Robertson, Wright & Dykstra
    * 1988) rather than the sequential stack — over B bins that is a
    * B²-span grid + a B³-row min/max cascade, all RELATIONAL: exact
    * prefix sums via triangular self-joins on the broadcast-scale bin
    * grid (deliberately windowless — a global window over even 10 rows
    * is a single-partition plan), span means in the half-up integer ppm
    * idiom, min/max over those exact integers. Deterministic, identical
    * in DuckDB, and monotone by construction. B ≤ 64 keeps the cascade
    * ≤ 256k rows — constant-bounded at any corpus size.
    */
  def isotonicCalibration(documents: DataFrame, bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 64, s"bins out of range: $bins")
    val j = clfLabeled(documents)
    val b = j.agg(min(col("score_u")).as("mn"), max(col("score_u")).as("mx"))
    // per-bin counts: the one corpus-scale pass; everything after runs
    // on ≤ bins rows (localCheckpoint: 5 downstream consumers would
    // otherwise re-run the scoring chain per self-join branch)
    val g = j.crossJoin(broadcast(b))
      .select(expr(s"(score_u - mn) * $bins div (mx - mn + 1)").as("bin"),
        expr("cast(q_ppm >= 500000 as bigint)").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      .localCheckpoint()
    pavIsotonic(g)
  }

  /** The PAV minimax cascade over a prebuilt (bin, n, p) grid —
    * separated so the regression itself is testable on hand fixtures.
    * Gaps in bin ids are fine (strict-prefix sums, never "bin − 1").
    */
  def pavIsotonic(g: DataFrame): DataFrame = {
    val grid = g.select(col("bin").as("b2"), col("n"), col("p"))
    val pre = g.select(col("bin").as("k"))
      .join(broadcast(grid), col("b2") <= col("k"))
      .groupBy(col("k")).agg(sum(col("n")).as("nk"), sum(col("p")).as("pk"))
    // strict-prefix at j (empty bins may leave gaps, so "sum below j",
    // never "prefix at j-1")
    val jm = g.select(col("bin").as("j"))
      .join(broadcast(grid), col("b2") < col("j"), "left")
      .groupBy(col("j"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n0"),
        coalesce(sum(col("p")), lit(0L)).as("p0"))
    val spans = jm.join(broadcast(pre), col("k") >= col("j"))
      .select(col("j"), col("k"),
        expr("(cast(pk - p0 as decimal(38,0)) * 1000000 + (nk - n0) div 2) div (nk - n0)")
          .as("avg_ppm"))
    val im = g.select(col("bin").as("i"))
      .join(broadcast(spans), col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("avg_ppm")).as("mnv"))
    val iso = im.groupBy(col("i")).agg(max(col("mnv")).as("isotonic_ppm"))
    g.select(col("bin"), col("n").as("n_docs"),
      expr("(cast(p as decimal(38,0)) * 1000000 + n div 2) div n").as("pos_rate_ppm"))
      .join(iso.select(col("i").as("bin"), col("isotonic_ppm")), Seq("bin"))
  }

  /** Per-source ROC AUC of the hashed classifier against the quality
    * gate — the discrimination one-number next to
    * [[classifierReliability]]'s calibration read: the Mann–Whitney
    * rank-sum identity AUC = U / (n⁺·n⁻), with ties at equal scores
    * credited half. Integer-exact throughout: per distinct score s,
    * every positive at s contributes c_<(s) + t(s)/2 where c_< counts
    * strictly-lower-scored negatives and t(s) ties — so 2U =
    * Σ_s n⁺(s)·(2·c_<(s) + n⁻(s)), a pure integer, and the single
    * half-up division happens at the end (auc_ppm). Scale shape: one
    * per-doc scoring pass, a partial-agg shuffle to the (source, score)
    * grid, a window PARTITIONED BY source over that grid (score
    * cardinality is bounded by the ±1e6 micro range — dimension-scale
    * per source, never a global window), and a per-source rollup.
    * 2U·1e6 overflows BIGINT only past n⁺·n⁻ > 4.6e12 per source
    * (~4.3M balanced docs/source); past that, lift the rollup to
    * DECIMAL(38,0).
    */
  def classifierAuc(documents: DataFrame): DataFrame = {
    val scored = qualityClassifier(documents)
      .select(col("doc_id"),
        expr("cast(round(clf_score * 1000000) as bigint)").as("score_u"))
      .filter(col("score_u").isNotNull)
      .join(documents.select(col("doc_id"), col("source"), (qualityPpm >= 500000).as("pos")),
        "doc_id")
    val grid = scored.groupBy(col("source"), col("score_u"))
      .agg(sum(expr("cast(pos as bigint)")).as("np"),
        sum(expr("cast(not pos as bigint)")).as("nn"))
    val w = Window.partitionBy(col("source")).orderBy(col("score_u"))
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("c_lt", coalesce(sum(col("nn")).over(w), lit(0L)))
      .groupBy(col("source"))
      .agg(sum(expr("np * (2 * c_lt + nn)")).as("u2"),
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
      .select(col("source"), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null))
          .otherwise(expr(
            "(cast(u2 as decimal(38,0)) * 1000000 + n_pos * n_neg) div (2 * n_pos * n_neg)"))
          .cast(LongType).as("auc_ppm"))
  }

  /** Average precision (PR-AUC) of the quality classifier per source —
    * [[classifierAuc]]'s companion for the IMBALANCED regime: ROC-AUC
    * stays optimistic when positives are rare (the usual shape of a
    * "keep this document" gate at corpus scale); AP weights each hit by
    * the precision at its rank, so ranking junk above the few keepers
    * costs visibly. AP = (1/R)·Σ_{rel ranks k} P@k over the TOTAL order
    * (score desc, doc_id) — the tie-break makes every rank well-defined
    * on both engines.
    *
    * Fact-scale discipline: ranks and relevant-cumulative counts come
    * from [[ShardedOrder]] over the composite (source, −score, doc_id)
    * key — per-source values are recovered by subtracting per-source
    * offsets cumulated on the source DIMENSION (constant-key window over
    * ≤ |sources| rows), so no per-source window ever serializes a
    * source's full document list through one reducer. Every P@k term is
    * half-up integer ppm; the final mean divides once by R.
    */
  def classifierPrAuc(documents: DataFrame): DataFrame = {
    val scored = qualityClassifier(documents)
      .select(col("doc_id"),
        expr("cast(round(clf_score * 1000000) as bigint)").as("score_u"))
      .filter(col("score_u").isNotNull)
      .join(documents.select(col("doc_id"), col("source"), (qualityPpm >= 500000).as("pos")),
        "doc_id")
      .withColumn("neg_s", -col("score_u"))
    // rank and relevant-cumulative share the (source, −score, doc_id)
    // order, so they ride the FUSED one-exchange primitive (r16)
    val ranked = ShardedOrder.withGlobalRankAndRunningSum(scored, "grank",
      expr("cast(pos as bigint)"), "gcum", 32,
      col("source"), col("neg_s"), col("doc_id"))
    // per-source offsets: rows / positives in all EARLIER sources
    val wSrc = Window.partitionBy(pmod(length(col("source")), lit(1)))
      .orderBy(col("source")).rowsBetween(Window.unboundedPreceding, -1)
    val offs = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("sn"), sum(expr("cast(pos as bigint)")).as("sp"))
      .withColumn("row_off", coalesce(sum(col("sn")).over(wSrc), lit(0L)))
      .withColumn("pos_off", coalesce(sum(col("sp")).over(wSrc), lit(0L)))
    ranked.join(broadcast(offs), Seq("source"))
      .select(col("source"), col("sn"), col("sp"), col("pos"),
        (col("grank") - col("row_off")).as("k"),
        (col("gcum") - col("pos_off")).as("relcum"))
      .groupBy(col("source"), col("sn").as("n"), col("sp").as("n_pos"))
      .agg(sum(when(col("pos"),
        expr("(relcum * 1000000 + k div 2) div k")).otherwise(0L)).as("tsum"))
      .select(col("source"), col("n"), col("n_pos"),
        when(col("n_pos") === 0L, lit(null).cast(LongType))
          .otherwise(expr("(tsum + n_pos div 2) div n_pos")).as("ap_ppm"))
  }

  /** BM25 with pseudo-relevance feedback (RM3-lite, Rocchio-shaped) —
    * the retrieval-quality step after plain [[bm25TopK]]: run the seed
    * query, mine the top `fbDocs` documents for their most frequent
    * non-seed, non-stopword terms, and re-score the corpus with the
    * expanded query (expansion terms down-weighted by `expWeightPpm`).
    * Fixes the vocabulary-mismatch failure ("merge" never matching docs
    * that say "join") that no amount of BM25 tuning can.
    *
    * Determinism: the feedback doc set is the integer-score top-`fbDocs`
    * (score desc, doc_id); expansion terms are top-`fbTerms` by
    * (total tf desc, token) — both total orders. Per-term scores are
    * micros-quantized then weighted by integer ppm division BEFORE the
    * per-doc sum, so the final ranking key is a pure integer. Scale
    * shape: two posting-list joins (seed pass, expanded pass) + one
    * bounded term-selection TakeOrdered; the expansion frame is
    * ≤ fbTerms rows, broadcast.
    */
  def bm25PrfTopK(documents: DataFrame,
                  queryTerms: Seq[String] = Seq("spark", "merge", "window", "query"),
                  kTop: Int = 20, fbDocs: Int = 3, fbTerms: Int = 5,
                  expWeightPpm: Long = 500000L,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 1, "feedback sizes must be positive")
    val sp = documents.sparkSession
    import sp.implicits._
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val fb = bm25TopK(documents, queryTerms, fbDocs, k1, b).select(col("doc_id"))
    val expansion = documents.join(fb, Seq("doc_id"), "left_semi")
      .select(explode(expr(tokensSql)).as("token"))
      .filter(!col("token").isin(queryTerms ++ stop: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(fbTerms)
      .select(col("token"), lit(expWeightPpm).as("w_ppm"))
    val terms = queryTerms.map(tk => (tk, 1000000L)).toDF("token", "w_ppm")
      .unionByName(expansion)
    val toks = documents.select(
      col("doc_id"),
      expr(s"size($tokensSql)").cast(DoubleType).as("dl"),
      explode(expr(tokensSql)).as("token"))
    val hits = toks.join(broadcast(terms), Seq("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast(DoubleType).as("tf"), first(col("dl")).as("dl"),
        first(col("w_ppm")).as("w_ppm"))
    val dfs = hits.groupBy(col("token")).agg(count(lit(1)).cast(DoubleType).as("df"))
    val corpus = documents.agg(
      count(lit(1)).cast(DoubleType).as("n_docs"),
      avg(expr(s"size($tokensSql)").cast(DoubleType)).as("avgdl"))
    hits
      .join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("w_ppm"),
        (expr("ln(1.0d + (n_docs - df + 0.5d) / (df + 0.5d))") *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
      // micros-quantize each per-term score, then the integer ppm weight
      .select(col("doc_id"),
        expr("(cast(round(s * 1000000) as bigint) * w_ppm) div 1000000").as("sq"))
      .groupBy(col("doc_id"))
      .agg(sum(col("sq")).as("score_micros"))
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(kTop)
  }

  /** Temperature-scaled corpus mixing (the multilingual-LM sampling rule,
    * Conneau & Lample 2019): raw source shares p_s are flattened to
    * q_s ∝ p_s^α with exponent α < 1, boosting low-resource sources
    * without letting any source dominate — the principled version of the
    * ad-hoc up-weighting `corpus_mix` leaves to the caller. Per source
    * the exponent runs as exp(α·ln(p)) — ONE fixed-shape double over the
    * integer ppm share — quantized back to ppm BEFORE the (≤ sources)
    * renormalization sum, so the normalized shares are half-up integer
    * divisions of exact integers. Boost factor q/p in ppm says how much
    * each source's sampling rate moved; α = 1 is the identity.
    */
  def corpusMixTemperature(documents: DataFrame, tauPpm: Long = 700000L): DataFrame = {
    require(tauPpm >= 100000L && tauPpm <= 1000000L, s"alpha out of range: $tauPpm")
    val tf = documents
      .select(col("source"), expr(s"size($tokensSql)").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
    val tot = tf.agg(sum(col("n_tokens")).as("tot"))
    val shares = tf.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr("(cast(n_tokens as decimal(38,0)) * 1000000 + tot div 2) div tot").as("p_ppm"))
      .withColumn("w_ppm", when(col("p_ppm") === 0L, lit(0L)).otherwise(expr(
        s"""cast(round(exp(ln(cast(p_ppm as double) / 1000000.0d)
           | * (cast($tauPpm as double) / 1000000.0d)) * 1000000) as bigint)""".stripMargin)))
    val wTot = shares.agg(sum(col("w_ppm")).as("wt"))
    shares.crossJoin(broadcast(wTot))
      .select(col("source"), col("n_tokens"), col("p_ppm"),
        expr("(cast(w_ppm as decimal(38,0)) * 1000000 + wt div 2) div wt").as("q_ppm"))
      .withColumn("boost_ppm",
        when(col("p_ppm") === 0L, lit(null).cast(LongType))
          .otherwise(expr("(cast(q_ppm as decimal(38,0)) * 1000000 + p_ppm div 2) div p_ppm")))
  }

  /** Count–min sketch sizing table — the planning face of
    * [[heavyHittersCms]], the same move as `lsh_band_planner` for the
    * LSH family: for an (ε, δ) accuracy grid, the standard
    * width = ⌈e/ε⌉, depth = ⌈ln(1/δ)⌉ sizing and its memory bill, so the
    * sketch configuration discussion happens over one 6-row table
    * instead of a re-derivation. Pure arithmetic over pinned ppm
    * literals — both engines enumerate the identical grid.
    */
  def cmsPlanner(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val grid = for { epsPpm <- Seq(10000L, 1000L, 100L); deltaPpm <- Seq(10000L, 1000L) }
      yield (epsPpm, deltaPpm)
    grid.toDF("eps_ppm", "delta_ppm")
      .select(col("eps_ppm"), col("delta_ppm"),
        expr("cast(ceil(2.718281828459045d * 1000000.0d / cast(eps_ppm as double)) as bigint)")
          .as("width"),
        expr("cast(ceil(ln(1000000.0d / cast(delta_ppm as double))) as bigint)").as("depth"))
      .withColumn("bytes", col("width") * col("depth") * lit(8L))
  }

  /** Gains table (cumulative lift by score decile) — the THIRD read of
    * the quality classifier after [[classifierAuc]] (rank quality) and
    * [[classifierPrAuc]] (precision under imbalance): if we keep only
    * the top d deciles by score, how many of the true positives do we
    * capture, and at what lift over random? This is the curve a
    * data-selection budget decision actually reads.
    *
    * Deciles come from the exact sharded global rank over the total
    * (−score, doc_id) order — decile = ((rank−1)·10) div n, so bucket
    * boundaries are rank-exact on any layout. Per-decile and cumulative
    * counts are pure integers (the cumulative runs on the 10-row decile
    * dimension); capture share is half-up integer ppm; lift is ONE
    * fixed-shape double over exact integers, ppm-quantized.
    */
  def classifierGains(documents: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    val scored = qualityClassifier(documents)
      .select(col("doc_id"),
        expr("cast(round(clf_score * 1000000) as bigint)").as("score_u"))
      .filter(col("score_u").isNotNull)
      .join(documents.select(col("doc_id"), (qualityPpm >= 500000).as("pos")), "doc_id")
      .withColumn("neg_s", -col("score_u"))
    val ranked = ShardedOrder.withGlobalRank(scored, "grank", 32,
      col("neg_s"), col("doc_id"))
    val tot = ranked.agg(count(lit(1)).as("n"),
      sum(expr("cast(pos as bigint)")).as("n_pos"))
    val perDecile = ranked.crossJoin(broadcast(tot))
      .select(expr(s"((grank - 1) * $buckets) div n").as("decile"),
        col("pos"), col("n"), col("n_pos"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(expr("cast(pos as bigint)")).as("n_hits"),
        max(col("n")).as("n"), max(col("n_pos")).as("n_pos"))
    val wCum = Window.partitionBy(pmod(col("decile"), lit(1))).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecile
      .withColumn("cum_docs", sum(col("n_docs")).over(wCum))
      .withColumn("cum_hits", sum(col("n_hits")).over(wCum))
      .select(col("decile"), col("n_docs"), col("n_hits"),
        when(col("n_pos") === 0L, lit(null).cast(LongType))
          .otherwise(expr("(cum_hits * 1000000 + n_pos div 2) div n_pos"))
          .as("capture_ppm"),
        when(col("n_pos") === 0L || col("cum_docs") === 0L, lit(null).cast(LongType))
          .otherwise(expr("""cast(round(
            |  cast(cum_hits as double) * cast(n as double)
            |  / (cast(cum_docs as double) * cast(n_pos as double)) * 1000000) as bigint)""".stripMargin))
          .as("lift_ppm"))
  }

  /** Burrows' Delta (2002) — the stylometric fingerprint distance
    * between sources: restrict to the corpus's top-K most frequent
    * tokens (function words dominate, which is the method's insight —
    * style lives in 'the'/'of' rates, not content words), z-score each
    * source's relative frequency per token against the cross-source
    * mean/SD, and read Δ(s₁, s₂) = mean |z₁ − z₂|. Two sources of the
    * same template/generator sit near 0; a feed that switched generators
    * mid-corpus splits visibly. The provenance read beside
    * `source_overlap` (shared content) and `kn_cross_entropy` (language
    * model fit) — Δ is about STYLE with content held out.
    *
    * Scale shape: one fact-scale (source, token) count; the top-K
    * selection is a TakeOrdered over the token dimension; everything
    * after (zero-filled grid, per-token moments, pair deltas) runs on
    * the |sources| × K grid. Relative frequencies are half-up integer
    * ppm; the z-score is ONE fixed-shape double per cell over exact
    * integer moments (population SD across sources), micros-quantized
    * BEFORE the pair algebra — so the pair deltas are pure integers.
    * Zero-SD tokens read z = 0 everywhere (they carry no signal).
    */
  def burrowsDelta(documents: DataFrame, topK: Int = 30): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    val tf = documents
      .select(col("source"), explode(expr(tokensSql)).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val tot = tf.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val top = tf.groupBy(col("token")).agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("token")).limit(topK)
      .select(col("token"))
    val grid = tot.crossJoin(broadcast(top))
      .join(tf, Seq("source", "token"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .select(col("source"), col("token"),
        expr("(cast(c as decimal(38,0)) * 1000000 + tot div 2) div tot").as("f_ppm"))
    val mo = grid.groupBy(col("token"))
      .agg(count(lit(1)).as("k"), sum(col("f_ppm")).as("sf"),
        sum(col("f_ppm") * col("f_ppm")).as("qf"))
    val z = grid.join(broadcast(mo), Seq("token"))
      .select(col("source"), col("token"),
        when(expr("k * qf - sf * sf") <= 0L, lit(0L))
          .otherwise(expr("""cast(round(
            |  (cast(f_ppm as double) - cast(sf as double) / cast(k as double))
            |  / sqrt((cast(qf as double) * cast(k as double) - cast(sf as double) * cast(sf as double))
            |         / (cast(k as double) * cast(k as double))) * 1000000) as bigint)""".stripMargin))
          .as("z_micros"))
    z.select(col("token"), col("source").as("source_a"), col("z_micros").as("za"))
      .join(z.select(col("token"), col("source").as("source_b"), col("z_micros").as("zb")),
        Seq("token"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("kk"), sum(abs(col("za") - col("zb"))).as("sd"))
      .select(col("source_a"), col("source_b"),
        expr("(sd + kk div 2) div kk").as("delta_micros"))
  }

  /** Lexical-diversity audit per source — type-token ratio and hapax
    * share: the cheap vocabulary-health read beside [[vocabGrowth]]'s
    * Heaps curve (TTR collapsing across sources at equal token counts
    * means templated text; a hapax share near zero means heavy
    * repetition). Exact distinct counts over the (source, token) grid;
    * integer ppm. Two partial-agg shuffles.
    */
  def ttrBySource(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(col("source"), explode(expr(tokensSql)).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    tf.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(expr("cast(c = 1 as bigint)")).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("(cast(n_types as decimal(38,0)) * 1000000 + n_tokens div 2) div n_tokens").as("ttr_ppm"),
        expr("(cast(n_hapax as decimal(38,0)) * 1000000 + n_types div 2) div n_types").as("hapax_ppm"))
  }

  /** Wilson score interval on per-source keep rates — the small-sample
    * honesty upgrade for [[clfKeepParity]]: a source with 5 docs and a
    * 40% keep rate is NOT evidence of skew, and the Wilson bounds say
    * so where the raw ppm can't. lo/hi = (p + z²/2n ∓ z·√(p(1−p)/n +
    * z²/4n²)) / (1 + z²/n) with z = 1.96 pinned; each bound is ONE
    * fixed-shape double over the exact (keeps, n) counts, quantized to
    * ppm. Same one-pass scoring + 20-row rollup as the parity audit.
    */
  def keepRateWilson(documents: DataFrame): DataFrame = {
    val z = "1.959964d"
    val kept = qualityClassifier(documents)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("cast(clf_keep as bigint)")).as("n_keep"))
    def bound(sign: String) = expr(
      s"""cast(round(
         |  (cast(n_keep as double) / cast(n_docs as double)
         |   + $z * $z / (2.0d * cast(n_docs as double))
         |   $sign $z * sqrt(cast(n_keep as double) / cast(n_docs as double)
         |       * (1.0d - cast(n_keep as double) / cast(n_docs as double))
         |       / cast(n_docs as double)
         |     + $z * $z / (4.0d * cast(n_docs as double) * cast(n_docs as double))))
         |  / (1.0d + $z * $z / cast(n_docs as double)) * 1000000) as bigint)""".stripMargin)
    kept.select(col("source"), col("n_docs"), col("n_keep"),
      bound("-").as("wilson_lo_ppm"), bound("+").as("wilson_hi_ppm"))
  }

  /** Corpus bigram entropy rate — the compressibility one-number next to
    * [[knBigrams]]' smoothed table: H = −Σ_{w1,w2} p(w1,w2)·ln p(w2|w1)
    * in micro-nats per token transition. Low H means formulaic text
    * (boilerplate, templates — dedup bait); H near ln V means the
    * bigram model explains nothing. Shares the transition-entropy
    * determinism discipline: each cell is one fixed-shape double over
    * the exact integer counts (c12, c1, total), micros-quantized before
    * the global sum. One corpus-scale bigram aggregate; the sum runs on
    * the bigram-type grid.
    */
  def bigramEntropyRate(documents: DataFrame): DataFrame = {
    val bg = tokenize(documents.select(col("doc_id"), col("text")))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] as w1, toks[i + 1] as w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val tot = c12.agg(sum(col("c12")).as("total"), count(lit(1)).as("n_types"))
    c12.join(c1, "w1").crossJoin(broadcast(tot))
      .select(col("total"), col("n_types"),
        expr("""cast(round(
          |  -cast(c12 as double) / cast(total as double)
          |  * ln(cast(c12 as double) / cast(c1 as double)) * 1000000
          |) as bigint)""".stripMargin).as("term_micros"))
      .groupBy(col("total").as("n_bigrams"), col("n_types"))
      .agg(sum(col("term_micros")).as("entropy_micros"))
  }

  /** Leave-one-source-out ablation of the corpus quality mean — the
    * mixture pre-flight a corpus designer reads before re-weighting:
    * for each source, what the corpus-wide mean quality becomes if that
    * source is dropped, next to the source's own mean and the signed
    * delta. The LOO mean needs NO per-source recomputation — quality is
    * ppm-quantized per doc first, so the global (Σq, n) and per-source
    * (Σq_s, n_s) sums make every ablation a closed-form subtraction:
    * loo = (Σq − Σq_s)/(n − n_s). One corpus-scale aggregate keyed by
    * source; everything after runs on #sources rows. All half-up
    * integer ppm; the delta is a subtraction of two already-rounded
    * means (never a signed division).
    */
  def sourceAblation(documents: DataFrame): DataFrame = {
    val q = documents.select(col("source"), qualityPpm.as("q_ppm"))
    val perSrc = q.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q_ppm")).as("sq"))
    val tot = perSrc.agg(sum(col("n_docs")).as("n_all"), sum(col("sq")).as("sq_all"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr("(sq + n_docs div 2) div n_docs").as("mean_ppm"),
        // NULL when the source IS the corpus (nothing left to ablate)
        when(col("n_all") > col("n_docs"),
          expr("((sq_all - sq) + (n_all - n_docs) div 2) div (n_all - n_docs)"))
          .as("loo_mean_ppm"),
        when(col("n_all") > col("n_docs"),
          expr("((sq_all - sq) + (n_all - n_docs) div 2) div (n_all - n_docs)")
            - expr("(sq_all + n_all div 2) div n_all")).as("delta_ppm"))
  }

  /** Token burstiness — the index of dispersion D = σ²/μ of PER-DOCUMENT
    * counts for the corpus's top tokens (zero-count docs included via the
    * closed form): D ≈ 1 is Poisson scatter (function words), D ≫ 1 is
    * clumping (content/template words concentrating in few docs — the
    * signal behind tf-idf and boilerplate screens, here as a direct
    * measurement). Exact integer moments s1 = Σc, s2 = Σc² ride
    * DECIMAL(38,0) (s1² overflows long at corpus scale), and
    * D = (s2·N − s1²)/(N·s1) is ONE fixed-shape double micros-quantized
    * (the momentsProfile discipline). One (token, doc) aggregate — the
    * only corpus-scale shuffle — then vocabulary-scale moments.
    */
  def tokenBurstiness(documents: DataFrame, k: Int = 10): DataFrame = {
    val perDoc = documents
      .select(col("doc_id"), explode(expr(tokensSql)).as("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("c"))
    val n = documents.agg(count(lit(1)).as("n"))
    perDoc.groupBy(col("token"))
      .agg(sum(col("c")).as("s1"),
        sum(expr("cast(c as decimal(38,0)) * cast(c as decimal(38,0))")).as("s2"))
      .crossJoin(broadcast(n))
      .select(col("token"), col("s1").as("n_occurrences"),
        expr("""cast(round(
          |  cast(s2 * n - cast(s1 as decimal(38,0)) * cast(s1 as decimal(38,0)) as double)
          |  / (cast(n as double) * cast(s1 as double)) * 1000000) as bigint)""".stripMargin)
          .as("dispersion_micros"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
  }

  /** Per-source length quantiles — exact type-1 (ceil-rank) p25/p50/p75/
    * p90 of `n_chars` per source, the grouped companion to the global
    * `median_price`: the first EDA read on a new crawl source (a p90
    * collapsing toward p25 means truncation; a runaway p90 means
    * boilerplate concatenation). Rank is a PER-SOURCE window (sources are
    * the partition key — parallel and unskewed by construction), picks
    * are `rk = ceil(q·n/100)` exactly as `conversionLag`'s cohort
    * quantiles, so every output is an observed integer value — no
    * interpolation, engine-identical.
    */
  def sourceLengthQuantiles(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val wn = Window.partitionBy(col("source"))
    documents.select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        max(when(col("rk") === expr("(25 * n + 99) div 100"), col("n_chars"))).as("p25"),
        max(when(col("rk") === expr("(50 * n + 99) div 100"), col("n_chars"))).as("p50"),
        max(when(col("rk") === expr("(75 * n + 99) div 100"), col("n_chars"))).as("p75"),
        max(when(col("rk") === expr("(90 * n + 99) div 100"), col("n_chars"))).as("p90"))
  }

  /** Kneser–Ney smoothed bigram table — the n-gram LM step of a
    * training-data pipeline (data-quality perplexity filters and n-gram
    * novelty baselines both want a SMOOTHED conditional, not raw MLE,
    * or held-out bigrams score zero). Interpolated absolute-discounting
    * KN with d = 0.75:
    *   p(w2|w1) = (max(c12 − d, 0) + d · N1+(w1,·) · p_cont(w2)) / c(w1)
    *   p_cont(w2) = N1+(·,w2) / #bigram types
    * Every count is an exact corpus aggregate (bigram explode → three
    * keyed partial-agg shuffles: (w1,w2), w1, w2 — corpus-scale in the
    * explode only, vocabulary-scale after); the probability is ONE
    * fixed-shape double per surviving row, micros-quantized (the
    * transcendental-free momentsProfile discipline), so ranking —
    * (p desc, w1, w2) top-k — is bit-identical across engines.
    * Kneser & Ney (1995) / Chen & Goodman (1999) — published smoothing,
    * restated Spark-first.
    */
  def knBigrams(documents: DataFrame, k: Int = 20): DataFrame =
    knTable(documents)
      .orderBy(col("p_kn_micros").desc, col("w1"), col("w2"))
      .limit(k)

  /** Full Kneser–Ney bigram table (every observed bigram, no top-k cut)
    * — the model surface [[knBigrams]] previews and [[knCrossEntropy]]
    * consumes whole.
    */
  private[operators] def knTable(documents: DataFrame): DataFrame = {
    // stage the token array once, and keep only docs that can emit a
    // bigram BEFORE indexing (sequence(0, -1) would descend, and ANSI
    // out-of-bounds indexing must never be reachable)
    val bg = tokenize(documents.select(col("doc_id"), col("text")))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] as w1, toks[i + 1] as w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_fwd"))
    val right = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1p_bwd"))
    val types = c12.agg(count(lit(1)).as("n_types"))
    c12.join(left, "w1").join(right, "w2").crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"),
        expr("""cast(round(
          |  (greatest(cast(c12 as double) - 0.75d, 0d)
          |   + 0.75d * cast(n1p_fwd as double)
          |     * (cast(n1p_bwd as double) / cast(n_types as double)))
          |  / cast(c1 as double) * 1000000) as bigint)""".stripMargin)
          .as("p_kn_micros"))
  }

  /** Per-source cross-entropy under the corpus-wide Kneser–Ney bigram
    * model — which sources the corpus LM finds surprising (high H:
    * off-distribution or noisy text; low H: formulaic). H_micro =
    * Σ c·round(10⁶·ln(10⁶/p_micros)) / Σ c over the source's bigram
    * occurrences, half-up at the final division — per-TYPE log terms are
    * quantized once (fixed-shape double over the integer micro
    * probability, entropy-op discipline) and weighted by exact counts,
    * so group-sum order can't drift the hash. p clamps to ≥ 1 micro
    * (a sub-micro continuation probability would send ln to ∞). Scale:
    * one corpus bigram aggregate per side, an equi-join on the bigram
    * key, a 20-row rollup. The model is trained on the FULL corpus
    * (every scored bigram is in-vocabulary by construction — this is
    * the self-report read; pair with a held-out split for generalization).
    */
  def knCrossEntropy(documents: DataFrame): DataFrame = {
    val bySource = tokenize(documents.select(col("doc_id"), col("text")))
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .filter(size(col("toks")) >= 2)
      .select(col("source"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] as w1, toks[i + 1] as w2))""".stripMargin))
        .as("b"))
      .groupBy(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
    bySource
      .join(knTable(documents).select(col("w1"), col("w2"),
        expr("cast(round(ln(1000000.0d / cast(greatest(p_kn_micros, 1L) as double)) * 1000000) as bigint)")
          .as("lt")), Seq("w1", "w2"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_bigrams"),
        expr("cast((sum(c * lt) + sum(c) div 2) div sum(c) as bigint)").as("h_micro"))
  }

  /** Classifier keep-rate parity audit — the four-fifths (80%) rule
    * applied to `clf_keep` across sources: a corpus filter that admits
    * one source at a far lower rate than the corpus average is skewing
    * the training mixture (the fairness-audit shape, applied to data
    * curation). Integer end-to-end: keep_ppm half-up per source,
    * parity_ppm = source rate ÷ overall rate in ppm computed as one
    * integer division (keeps·n_tot·10⁶ / (n·keeps_tot), half-up), flag
    * when parity < 800000. Products stay under long range until
    * n·keeps_tot > ~9·10¹² (≈3M docs balanced) — lift to DECIMAL(38,0)
    * past that. One per-doc scoring pass + a 20-row rollup + a
    * broadcast totals row.
    */
  def clfKeepParity(documents: DataFrame): DataFrame = {
    val kept = qualityClassifier(documents)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("cast(clf_keep as bigint)")).as("n_keep"))
    val tot = kept.agg(sum(col("n_docs")).as("n_tot"), sum(col("n_keep")).as("keep_tot"))
    kept.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_keep"),
        expr("(cast(n_keep as decimal(38,0)) * 1000000 + n_docs div 2) div n_docs").as("keep_ppm"),
        when(col("keep_tot") === 0L, lit(null))
          .otherwise(expr(
            "(cast(n_keep as decimal(38,0)) * n_tot * 1000000 + (n_docs * keep_tot) div 2) div (n_docs * keep_tot)"))
          .cast(LongType).as("parity_ppm"))
      .withColumn("below_four_fifths",
        when(col("parity_ppm").isNull, lit(null)).otherwise(col("parity_ppm") < 800000L))
  }

  /** Curriculum phase assignment — the training-order step: documents are
    * admitted highest-quality-first (deterministic (quality_ppm desc,
    * doc_id) order, the same integer quality as `importanceSample`) and
    * cut into `phases` equal TOKEN budgets, so phase 0 is the cleanest
    * slice and the tail phases hold the rest — the standard
    * quality-curriculum schedule, derived as data (a phase column) rather
    * than a shuffle order. The running token total is the exact sharded
    * cumulative ([[ShardedOrder]]), so assignment is one pass at any
    * corpus size; a doc straddling a budget boundary belongs to the phase
    * its FIRST token lands in (preceding-total convention, same as
    * `packChunks`). Output: per-phase doc/token counts and the quality
    * band [q_min, q_max] — the audit row a curriculum config reviews.
    */
  def curriculumPhases(documents: DataFrame, phases: Int = 4): DataFrame = {
    require(phases >= 1, s"phases out of range: $phases")
    val scored = documents.select(col("doc_id"), qualityPpm.as("q_ppm"),
      expr(s"size($tokensSql)").cast(LongType).as("n_tokens"))
    val cum = ShardedOrder.withRunningSum(scored, col("n_tokens"), "cum", 32,
      col("q_ppm").desc, col("doc_id"))
    val tot = scored.agg(sum(col("n_tokens")).as("total"))
    cum.crossJoin(broadcast(tot))
      .withColumn("phase",
        expr(s"cast(least(((cum - n_tokens) * $phases) div total, ${phases - 1}) as int)"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("q_ppm")).as("q_min_ppm"), max(col("q_ppm")).as("q_max_ppm"))
  }
}
