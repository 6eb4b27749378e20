package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, TextOps}

class DedupTextOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old barn", "en", "s1", 60L),
    (2L, "the quick brown fox jumps over the lazy dog near the old barn", "en", "s2", 60L), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the red barn", "en", "s1", 60L), // near-dup of 1
    (4L, "completely different words appear here without any overlap whatsoever today again", "de", "s2", 80L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("single-pass tokenization: unstaged quality/gopher plans run the tokenizer regex once") {
    // analyzed (not optimized) plan: the local fixture constant-folds to a
    // LocalRelation under the optimizer, hiding the expression tree
    for (df <- Seq(TextOps.qualityScore(docs), TextOps.gopherQuality(docs))) {
      val plan = df.queryExecution.analyzed.toString
      val hits = "regexp_extract_all".r.findAllIn(plan).length
      assert(hits == 1, s"expected exactly one tokenizer run, found $hits in:\n$plan")
    }
    // the full corpus pipeline filters on all three families in ONE
    // predicate that tokenizes once, wherever the optimizer pushes it;
    // parquet input keeps the optimizer from folding the plan away
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus-plan").resolve("docs").toString
    docs.write.parquet(dir)
    val plan = Pipelines.runCorpusPipelineFull(spark.read.parquet(dir)).queryExecution.optimizedPlan
    val signalFilters = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.sql.contains("regexp_extract_all") => f.condition.sql
    }
    assert(signalFilters.size == 1, s"expected one signal filter in:\n$plan")
    val hits = "regexp_extract_all".r.findAllIn(signalFilters.head).length
    assert(hits == 1, s"expected exactly one tokenizer run in the filter, found $hits in:\n$plan")
    assert(plan.collect { case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }.isEmpty,
      s"the full pipeline must persist nothing:\n$plan")
  }

  test("exactDedup keeps the minimum doc_id per distinct text") {
    val got = DedupOps.exactDedup(docs).select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 4L))
  }

  test("exactDedup is idempotent") {
    val once = DedupOps.exactDedup(docs)
    val twice = DedupOps.exactDedup(once)
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("identical texts get identical minhash signatures; near-dups agree on most") {
    val sigs = DedupOps.minhashSignatures(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val s1 = (0 until 16).map(i => sigs((1L, i)))
    val s2 = (0 until 16).map(i => sigs((2L, i)))
    val s4 = (0 until 16).map(i => sigs((4L, i)))
    assert(s1 == s2)
    assert(s1 != s4)
  }

  test("LSH candidate pairs contain the exact dup pair, not the disjoint pair") {
    val pairs = DedupOps.minhashCandidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("jaccardPairs: identical docs score 1.0; threshold filters disjoint docs") {
    val pairs = DedupOps.jaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L))) // one word differs → high but < 1
    assert(pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("jaccardPairs stop-shingle guard: hot shingles pruned from candidates, scores never inflate") {
    // every doc shares one hyper-frequent shingle; only 1&2 truly near-dup
    val full = DedupOps.jaccardPairs(docs, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val guarded = DedupOps.jaccardPairs(docs, 0.0, maxShingleDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(guarded.keySet.subsetOf(full.keySet))
    assert(guarded.forall { case (k, v) => v <= full(k) })
    assert(guarded.contains((1L, 2L))) // dup pair still surfaces via its rarer shingles
    // the two enforcement points (free posting-list filter vs pre-filter
    // pass) are semantically identical
    val prefiltered = DedupOps.jaccardPairs(docs, 0.0, maxShingleDocFreq = 2,
        prefilterHotShingles = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(prefiltered == guarded)
  }

  test("jaccardPairsPrefix: lossless — identical output to the plain inverted-index join") {
    for (t <- Seq(0.3, 0.5, 0.9)) {
      val plain = DedupOps.jaccardPairs(docs, t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val pref = DedupOps.jaccardPairsPrefix(docs, t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(pref == plain, s"threshold $t")
    }
  }

  test("winnowFingerprints: shared-run guarantee, ~2/(w+1) density, edit-locality") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens >= w+2
    val d = Seq(
      (1L, s"one two three four five $shared", "en", "s1", 13L),
      (2L, s"$shared nine ten eleven twelve thirteen", "en", "s2", 13L),
      (3L, "short doc", "en", "s1", 2L)) // < 3 tokens: no shingles, no rows
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fp = TextOps.winnowFingerprints(d).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(2)).toSet }
    // guarantee: an 8-token shared run (> w+2 = 6) must share >= 1 print
    assert((fp(1L) & fp(2L)).nonEmpty, "shared run must collide in fingerprints")
    assert(!fp.contains(3L), "sub-shingle docs emit nothing")
    // sparsity: selections bounded by the window count (13 toks -> 11
    // shingles -> 8 windows), far under the full hash stream
    assert(fp(1L).size <= 8, "cannot select more prints than windows")
    // edit-locality: rewriting the PREFIX must not erase the collision
    // with doc 2 (doc-level md5 would flip entirely) — the shared run
    // still yields a common print
    val edited = Seq((4L, s"completely rewritten other prefix $shared", "en", "s1", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fp4 = TextOps.winnowFingerprints(edited).collect().map(_.getLong(2)).toSet
    assert((fp4 & fp(2L)).nonEmpty, "prints from the shared run survive prefix edits")
    // partition-invariance (pure per-row expression)
    val re = TextOps.winnowFingerprints(d.repartition(5)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(re == TextOps.winnowFingerprints(d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
  }

  test("winnowOverlapPairs: shared-run docs pair with the exact shared-print " +
       "count and ppm vs the SMALLER print set; unrelated docs stay out") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = Seq(
      (1L, s"pre one two $shared", "en", "s1", 15L),
      (2L, s"$shared post three four five six seven eight nine ten", "en", "s2", 22L),
      (3L, "unrelated totally different content words here again now", "en", "s1", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fp = TextOps.winnowFingerprints(d).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(2)).toSet }
    val expShared = (fp(1L) & fp(2L)).size.toLong
    assert(expShared >= 2, s"fixture must share >= 2 prints, got $expShared")
    val rows = TextOps.winnowOverlapPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set((1L, 2L)), s"only the shared-run pair: $rows")
    val minN = math.min(fp(1L).size, fp(2L).size).toLong
    assert(rows((1L, 2L)) ==
      ((expShared, (expShared * 1000000L + minN / 2) / minN)))
  }

  test("shingleNovelty: exact dups score 0 unique, the singleton doc 1e6; " +
       "the near-dup's novelty counts exactly its changed-word shingles") {
    val rows = DedupOps.shingleNovelty(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // docs 1 and 2 are byte-identical: every shingle has df >= 2 -> 0 unique
    assert(rows(1L)._2 == 0L && rows(2L)._2 == 0L)
    assert(rows(1L)._3 == 0L)
    // doc 4 shares nothing: every shingle df = 1 -> ppm exactly 1e6
    assert(rows(4L)._2 == rows(4L)._1 && rows(4L)._3 == 1000000L)
    // doc 3 differs from 1/2 in one word ("red" vs "old"), token 12 of 13
    // -> exactly the 2 shingles covering it are unique to 3 (of 11)
    assert(rows(3L) == ((11L, 2L, (2L * 1000000L + 5L) / 11L)))
  }

  test("balancedSample: every stratum lands exactly min-stratum rows, " +
       "selection is deterministic and contained in the stratum") {
    val d = (1L to 17L).map(i =>
      (i, s"doc number $i words", "en", if (i <= 12) "big" else "small", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.balancedSample(d).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.length == 10, s"2 strata x min(12, 5): $out")
    assert(out.count(_._2 == "big") == 5 && out.count(_._2 == "small") == 5)
    assert(out.filter(_._2 == "small").map(_._1).toSet.subsetOf((13L to 17L).toSet))
    // deterministic: a second run (and a repartitioned input) agrees
    assert(TextOps.balancedSample(d.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == out.toSet)
  }

  test("keywordsTopK: corpus-wide tokens rank below doc-specific ones; " +
       "k rows per doc; integer score equals tf * quantized idf") {
    val out = TextOps.keywordsTopK(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(out.count(_._1 == 1L) == 3)
    // "the" appears in all 4 docs -> idf = 0 -> never a top keyword for
    // doc 4 (its own words have df = 1)
    val d4 = out.filter(_._1 == 4L)
    assert(d4.forall(_._3 != "the"))
    // df=1 tokens in a 4-doc corpus: idf_micros = round(ln(4) * 1e6)
    val lnFourMicros = math.round(math.log(4.0) * 1e6)
    assert(d4.forall(_._4 == lnFourMicros),
      s"tf=1, df=1 keywords for doc 4 must score ln(4) micros: ${d4.toSeq}")
    // rank ties broken by token asc -> deterministic first keyword
    assert(d4.map(_._3).sorted.sameElements(d4.sortBy(_._2).map(_._3)))
  }

  test("lengthCorr: perfectly linear token/char growth reads exactly 1e6 ppm; " +
       "a constant series yields NULL (zero variance), not a crash") {
    // x = 2,4,6 tokens; y = 10,20,30 chars -> r = 1 exactly
    val lin = Seq((1L, "a b", "en", "s1", 10L), (2L, "a b c d", "en", "s1", 20L),
      (3L, "a b c d e f", "en", "s1", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.lengthCorr(lin).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 12L, 60L, 1000000L)))
    val const = Seq((1L, "a b", "en", "s1", 10L), (2L, "a b c d", "en", "s1", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextOps.lengthCorr(const).collect()(0).isNullAt(3))
  }

  test("importanceSample: P(keep) = quality via deterministic hash lottery — " +
       "quality 1 always kept, quality 0 never, mid-quality by exact ppm compare") {
    val allStop = ("the a of and to in " * 20).trim // >= 200 chars, all stopwords
    val d = Seq(
      (1L, allStop, "en", "s1", allStop.length.toLong),       // quality 1.0
      (2L, "", "en", "s1", 0L),                                // quality 0.0
      (3L, "alpha beta gamma delta epsilon", "en", "s2", 30L)) // mid
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val kept = TextOps.importanceSample(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kept.contains(1L) && kept(1L) == 1000000L)
    assert(!kept.contains(2L))
    // doc 3's admission replayed by hand: same md5 bucket, same ppm rate
    val q3 = TextOps.qualityScore(d).collect()
      .find(_.getLong(0) == 3L).get.getDouble(1)
    val rate3 = math.round(q3 * 1e6)
    val bucket3 = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("3").substring(0, 8), 16) % 1000000
    assert(kept.contains(3L) == (bucket3 < rate3), s"bucket $bucket3 vs rate $rate3")
    // determinism under repartitioning
    assert(TextOps.importanceSample(d.repartition(5)).collect()
      .map(_.getLong(0)).toSet == kept.keySet)
  }

  test("zipfSlope: geometric frequency decay yields the hand-replicated " +
       "integer-moment slope; steeper decay reads more negative") {
    // freqs 8, 4, 2, 1 at ranks 1..4
    val d = Seq((1L, "a a a a a a a a b b b b c c d", "en", "s1", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.zipfSlope(d).collect()(0)
    val pts = Seq((1, 8), (2, 4), (3, 2), (4, 1)).map { case (rk, n) =>
      (math.round(math.log(rk.toDouble) * 1000), math.round(math.log(n.toDouble) * 1000))
    }
    val r = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val (sxy, sxx) = (pts.map(p => p._1 * p._2).sum, pts.map(p => p._1 * p._1).sum)
    val exp = math.round((r * sxy - sx * sy).toDouble / (r * sxx - sx * sx) * 1000000)
    assert((got.getLong(0), got.getLong(1)) == ((4L, exp)))
    assert(exp < -1000000L, s"geometric decay is steeper than Zipf: $exp")
  }

  test("sourceKeywords: source-exclusive vocabulary outranks shared (idf 0) " +
       "tokens; ties resolve token-asc at equal integer scores") {
    val out = TextOps.sourceKeywords(docs).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val lnTwoMicros = math.round(math.log(2.0) * 1e6)
    // s1 = docs 1,3; "red" appears only in doc 3 -> the single
    // source-exclusive s1 token; everything else is shared with s2 (doc
    // 2 duplicates doc 1's text) -> idf 0
    val s1 = out.filter(_._1 == "s1").sortBy(_._2)
    assert(s1.head._3 == "red" && s1.head._5 == lnTwoMicros)
    assert(s1.tail.forall(_._5 == 0L), s"shared vocabulary scores 0: ${s1.toSeq}")
    assert(s1.tail.map(_._3).toSeq == Seq("barn", "brown", "dog", "fox"),
      "zero-score ties order token-asc")
    // s2 = docs 2,4; doc 4's vocabulary is source-exclusive, all tf=1 ->
    // equal scores, token-asc picks the first five alphabetically
    val s2 = out.filter(_._1 == "s2").sortBy(_._2)
    assert(s2.map(_._3).toSeq == Seq("again", "any", "appear", "completely", "different"))
    assert(s2.forall(_._5 == lnTwoMicros))
  }

  test("clusterKeywords: docs label with their embedding cluster's exclusive " +
       "vocabulary; ties resolve token-asc at equal integer scores") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)), (3L, Array(0.1f, 0.9f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val d = Seq(
      (0L, "apple banana cherry", "en", "s1", 19L),
      (1L, "xray yankee zulu", "en", "s1", 16L),
      (2L, "apple banana damson", "en", "s2", 19L),
      (3L, "xray yankee whiskey", "en", "s2", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.clusterKeywords(d, emb, nCentroids = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val c0 = out.filter(_._1 == 0L).sortBy(_._2).map(_._3).toSeq
    val c1 = out.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    assert(c0 == Seq("apple", "banana", "cherry", "damson"), s"c0: $c0")
    assert(c1 == Seq("xray", "yankee", "whiskey", "zulu"), s"c1: $c1")
  }

  test("keywordsTopKWith: the persisted IDF index reproduces the inline " +
       "keywords exactly (at-rest round trip)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idf_spec").toString
    TextOps.writeIdfIndex(docs, dir)
    val stored = TextOps.keywordsTopKWith(docs, TextOps.idfIndex(spark, dir))
      .collect().map(_.toString).toSet
    val inline = TextOps.keywordsTopK(docs).collect().map(_.toString).toSet
    assert(stored == inline && stored.nonEmpty)
    // the index itself is narrow vocabulary stats: one row per token
    val idx = TextOps.idfIndex(spark, dir)
    assert(idx.columns.toSeq == Seq("token", "df", "idf_micros"))
    assert(idx.select("token").distinct().count() == idx.count())
  }

  test("containmentPairs: embedded doc scores 1e6 where jaccard misses it; " +
       "directed, and the non-contained direction stays below threshold") {
    val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa" // 10 toks, 8 shingles
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")                 // 30 unique toks
    val d = Seq(
      (1L, span, "en", "s1", 10L),             // wholly contained in 2
      (2L, s"$filler $span", "en", "s2", 40L), // container: 40 toks, 38 shingles
      (3L, "unrelated words entirely different content here today", "en", "s1", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // jaccard at the default 0.5 threshold misses the pair entirely
    assert(DedupOps.jaccardPairs(d, 0.5).collect().isEmpty)
    val got = DedupOps.containmentPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // C(1 ⊆ 2) = 8/8 = 1.0; C(2 ⊆ 1) = 8/38 ≈ 0.21 — only one direction
    assert(got == Map((1L, 2L) -> 1000000L))
    // partition-invariant
    val re = DedupOps.containmentPairs(d.repartition(5)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(re == got)
  }

  test("containmentPairsPrefix: lossless vs naive enumeration, including " +
       "pairs whose shared shingles are ALL hyper-frequent (the guarded " +
       "tier's concession)") {
    val boiler = "terms of service apply to every use of this site" // shared boilerplate
    val docs = (1L to 12L).map(i => (i, s"$boiler extra$i", "en", "s", 20L)) ++
      Seq((20L, boiler, "en", "s", 10L),          // pure boilerplate: contained in all
        (21L, s"$boiler $boiler", "en", "s", 20L)) // repeated — same shingle SET
    val d = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.containmentPairsPrefix(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    // naive: distinct shingle sets, every directed pair, rounded ppm
    def shingleSet(text: String): Set[String] = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
      toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, text, _, _, _) => id -> shingleSet(text) }.toMap
    val naive = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a != b && sa.nonEmpty
      c = (sa & sb).size.toLong
      ppm = (c * 1000000L + sa.size / 2) / sa.size if ppm >= 800000L
    } yield ((a, b), ppm)).toSet
    assert(got == naive, s"prefix tier must be lossless:\ngot   $got\nnaive $naive")
    // every boilerplate shingle has df = 14 here; with a guard at df <= 5
    // these pairs would vanish — assert the fixture actually exercises that
    assert(naive.nonEmpty && naive.exists(_._1._1 == 20L))
    // guarded tier at cap 5 drops them (documents why the prefix tier exists)
    assert(DedupOps.containmentPairs(d, maxShingleDocFreq = 5).collect().isEmpty)
  }

  test("dupComponents: chained pairs collapse to one component with the min id") {
    // path 1-2, 2-5, 5-9 plus isolated pair 3-4: components {1,2,5,9} and {3,4}
    val pairs = Seq((1L, 2L), (2L, 5L), (5L, 9L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = DedupOps.dupComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 9L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("dupComponents: periodic localCheckpoint bounds plan growth on deep chains") {
    // path 1-2-...-13 under localCap = 0: every round runs distributed, and
    // without the per-round checkpoint the returned plan would embed all
    // rounds of join/aggregate lineage; with it the labels bottom out in a
    // scan of materialized blocks
    val chain = (1L until 13L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = DedupOps.dupComponents(chain, maxIters = 20, localCap = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 13L).map(_ -> 1L).toMap)
    // lineage truncated: a checkpointed leaf (LogicalRDD/ExistingRDD) is
    // present, and the analyzed plan stays small — a fixed bound that the
    // unbounded multi-round lineage (hundreds of nodes) cannot meet
    def nodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.numberedTreeString.linesIterator.size
    val plan = labels.queryExecution.analyzed
    assert(plan.collectLeaves().exists(_.getClass.getSimpleName.startsWith("LogicalRDD")),
      s"expected a checkpoint scan leaf in:\n${plan.numberedTreeString}")
    assert(nodes(labels) < 40, s"plan should stay bounded by the checkpoint cadence, got ${nodes(labels)} nodes")
    // at the default cap the chain finishes on the driver: a local relation
    val local = DedupOps.dupComponents(chain)
    assert(nodes(local) < 40, s"driver-finished plan should be small, got ${nodes(local)} nodes")
  }

  test("screenDeltaAgainstCorpus: exact tier, near tier, within-delta dedup, short-doc floor") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    val delta = Seq(
      20L -> base,                                    // exact copy of corpus → fp tier drops
      21L -> (base + " extra"),                       // near-dup of corpus → band tier drops
      22L -> "completely unrelated content about spark catalyst optimizer rules engine design notes",
      23L -> "completely unrelated content about spark catalyst optimizer rules engine design notes", // within-delta dup of 22
      24L -> "tiny doc"                               // < 3 tokens: no bands, passes near tier
    ).toDF("doc_id", "text")
    val got = DedupOps.screenDeltaAgainstCorpus(delta,
      DedupOps.corpusFingerprintIndex(corpus), DedupOps.corpusBandIndex(corpus))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(22L, 24L),
      s"expected fresh doc (min id of its delta dup group) + short doc, got $got")
    // sanity: the near-dup really does collide on >= 1 band (else 21
    // survived for the wrong reason)
    val collide = DedupOps.corpusBandIndex(corpus)
      .join(DedupOps.lshBands(delta.filter(col("doc_id") === 21L)), Seq("band", "band_key"))
    assert(collide.count() >= 1, "fixture must produce a band collision for the near-dup")
  }

  test("dupComponents: star rounds equal the driver finish on random graphs (seeded)") {
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      // 120 nodes, 150 random edges: a mix of small components, cycles,
      // self-pairs, and singleton-inducing duplicates
      val pairs = ((1 to 150).map { _ =>
        (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)
      } :+ ((7L, 7L))).toDF("doc_a", "doc_b")
      // the two halves are each other's reference: default cap = driver
      // union-find at once, 0 = star rounds to the fixed point, 40 = star
      // rounds until the residual fits, then the driver finish
      val driver = labels(DedupOps.dupComponents(pairs))
      assert(labels(DedupOps.dupComponents(pairs, localCap = 0)) == driver, s"seed $seed")
      assert(labels(DedupOps.dupComponents(pairs, localCap = 40)) == driver, s"seed $seed, cap 40")
    }
  }

  test("dupComponents: 400-node path contracts in far fewer star rounds than its diameter") {
    // min-label propagation would need diameter rounds (399 here); star
    // contraction folds the chain in O(log n) — 15 rounds is generous
    val chain = (1L until 400L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = DedupOps.dupComponents(chain, maxIters = 15, localCap = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 400L).map(_ -> 1L).toMap)
  }

  test("dupComponents: throws rather than returning non-converged labels") {
    // a 5-node path needs >1 star round; maxIters = 1 must fail loudly
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](
      DedupOps.dupComponents(chain, maxIters = 1, localCap = 0))
    assert(e.getMessage.contains("did not converge"))
  }

  test("dupComponents: a non-converged run releases every block it cached") {
    // compared by id, not count: the context cleaner may free blocks
    // other tests left behind while this one runs
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException](
      DedupOps.dupComponents(chain, maxIters = 1, localCap = 0))
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"blocks still cached: $left")
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sh = DedupOps.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("simhashCandidatePairs: identical docs pair at hamming 0; radius bound holds") {
    val pairs = DedupOps.simhashCandidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((1L, 2L)).contains(0)) // exact dups share every band
    assert(pairs.values.forall(_ <= 3))
  }

  test("tokenCounts + fingerprints: counts match, fingerprints equal iff normalized text equal") {
    val tc = TextOps.tokenCounts(docs).collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(tc(1L) == 13)
    val fp = TextOps.fingerprints(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
  }

  test("langId: stopword-dense text → en, sparse → und") {
    val got = TextOps.langId(docs).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) == "en" && got(4L) == "und")
  }

  test("deterministicSample: same rows at any partitioning; roughly pct-sized") {
    val big = spark.range(0, 2000).toDF("doc_id")
    val a = TextOps.deterministicSample(big, "doc_id", 10).collect().map(_.getLong(0)).toSet
    val b = TextOps.deterministicSample(big.repartition(7), "doc_id", 10)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a.size > 100 && a.size < 300) // ~10% of 2000
  }

  test("nullAudit: per-column null counts + row count in one row") {
    val df = Seq((Some(1L), Some("a")), (None, Some("b")), (Some(3L), None))
      .toDF("id", "v")
    val r = graft.operators.RelationalOps.nullAudit(df).collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L && r.getLong(2) == 3L)
  }

  test("tfIdf: corpus-wide tokens get zero idf; doc-unique tokens score highest in-doc") {
    val got = TextOps.tfIdf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(3)).toMap
    // 'the' appears in docs 1,2,3 but not 4 → idf = ln(4/3) > 0; 'quick' same df
    // 'whatsoever' is unique to doc 4 → idf = ln(4/1)
    assert(math.abs(got((4L, "whatsoever")) - math.log(4.0)) < 1e-6)
    assert(math.abs(got((1L, "quick")) - math.log(4.0 / 3.0)) < 1e-6)
    // a token in every doc would score 0; all scores are >= 0 here
    assert(got.values.forall(_ >= 0.0))
  }

  test("approxDistinctWithinTol: HLL estimate within tolerance of exact on small cardinalities") {
    val got = TextOps.approxDistinctWithinTol(docs)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // rsd 0.01 on cardinalities of 1-2 is exact → the gate must hold
    assert(got.keySet == Set("s1", "s2") && got.values.forall(identity))
  }

  test("quality in [0,1] and monotone in stopword density for same length") {
    val q = TextOps.qualityScore(docs).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(4L))
  }

  test("gopherQuality: line/symbol rules fire on bulleted, ellipsis-heavy, symbol-laden docs") {
    val good = ("the quick brown fox and the lazy dog of the old barn " * 5).trim // 60 tokens, stopword-rich
    val bulleted = (1 to 10).map(i => s"- item number $i in a list").mkString("\n")
    val elliptical = (1 to 10).map(i => s"to be continued number $i...").mkString("\n")
    val symbols = "# " * 60 + "the a of and to in"
    val df = Seq((1L, good), (2L, bulleted), (3L, elliptical), (4L, symbols))
      .toDF("doc_id", "text")
    val g = TextOps.gopherQuality(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(g(1L).getBoolean(7), "well-formed doc must pass the gate")
    assert(g(2L).getDouble(5) == 1.0 && !g(2L).getBoolean(7), "all-bullet doc fails on bullet_line_ratio")
    assert(g(3L).getDouble(6) == 1.0 && !g(3L).getBoolean(7), "all-ellipsis doc fails on ellipsis_line_ratio")
    assert(g(4L).getDouble(4) > 0.1 && !g(4L).getBoolean(7), "symbol-laden doc fails on symbol_ratio")
  }

  test("contaminationScreen: benchmark members fully flagged, disjoint docs at zero") {
    val bench = docs.filter($"doc_id" === 1L)
    val got = DedupOps.contaminationScreen(docs, bench)
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4))).toMap
    assert(got(1L) == (1.0, true), "a doc that IS the benchmark is 100% contaminated")
    assert(got(2L) == (1.0, true), "exact dup of a benchmark doc is fully contaminated")
    assert(got(3L)._1 > 0.0 && got(3L)._1 < 1.0, "near-dup is partially contaminated")
    assert(got(4L) == (0.0, false), "disjoint doc carries zero benchmark shingles")
  }

  test("redactPii scrubs emails, IPs, and long digit runs in order") {
    val df = Seq(
      (1L, "mail me at bob.smith+x@corp.example.com or 10.0.0.1 ref 1234567 and 12345"))
      .toDF("doc_id", "text")
    val got = TextOps.redactPii(df).collect()(0).getString(1)
    assert(got == "mail me at <EMAIL> or <IP> ref <NUM> and 12345")
  }

  test("packChunks: seq ids monotone per shard, budget bound holds, chunk set preserved") {
    val many = (1L to 40L).map(i => (i, s"doc $i " + ("alpha beta gamma delta " * 20).trim))
      .toDF("doc_id", "text")
    val packed = TextOps.packChunks(many, seqBudget = 64, shards = 4)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    // within a shard, seq_id never decreases along (doc_id, chunk_idx) order
    packed.groupBy(_._1).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3)).map(_._5)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b })
    }
    // every sequence's token total stays under budget + one chunk (a chunk
    // may straddle the boundary; the next sequence starts at the next chunk)
    packed.groupBy(r => (r._1, r._5)).foreach { case (_, rows) =>
      assert(rows.map(_._4).sum <= 64 + 32)
    }
    // packing re-bins, never drops or duplicates chunks
    val chunkKeys = TextOps.chunks(many).select("doc_id", "chunk_idx")
      .as[(Long, Int)].collect().toSet
    assert(packed.map(r => (r._2, r._3)).toSet == chunkKeys)
  }

  test("repetitionStats: duplicate token/trigram/line fractions") {
    val looped = (("spam ham " * 10).trim + "\nsame line\nsame line").trim
    val clean = "each word here appears exactly once in this short document"
    val df = Seq((1L, looped), (2L, clean)).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(df).collect().map(x => x.getLong(0) -> x).toMap
    // looped: 24 tokens {spam, ham, same, line}=4 distinct; trigrams almost all repeat
    assert(r(1L).getInt(1) == 24)
    assert(r(1L).getDouble(2) > 0.8, "dup_token_ratio should be high for looped text")
    assert(r(1L).getDouble(3) > 0.5, "dup_trigram_ratio should be high for looped text")
    assert(r(1L).getDouble(4) > 0.3, "dup_line_ratio sees the repeated line")
    assert(r(2L).getDouble(2) == 0.0 && r(2L).getDouble(3) == 0.0 && r(2L).getDouble(4) == 0.0)
  }

  test("segmentDedup keeps the first occurrence of each segment and reassembles in order") {
    // 13-token texts → segments = tokens 1-8 and 9-13
    val r = DedupOps.segmentDedup(docs)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L), "every input doc appears in the output")
    // doc 1: first occurrence of both its segments
    assert(r(1L).getLong(1) == 2 && r(1L).getLong(2) == 2)
    assert(r(1L).getString(3) ==
      "the quick brown fox jumps over the lazy dog near the old barn")
    // doc 2 (exact dup of 1): both segments already seen → empty survivor
    assert(r(2L).getLong(1) == 2 && r(2L).getLong(2) == 0 && r(2L).getString(3) == "")
    // doc 3 (near-dup): shared first window dropped, differing tail kept
    assert(r(3L).getLong(2) == 1 && r(3L).getString(3) == "dog near the red barn")
    // doc 4: nothing shared, fully kept
    assert(r(4L).getLong(1) == r(4L).getLong(2))
  }

  test("segmentDedup: empty docs survive with zero segments; repeat within one doc dedups") {
    val df = Seq(
      (1L, "aa bb cc dd ee ff gg hh aa bb cc dd ee ff gg hh"), // same 8-window twice
      (2L, "")).toDF("doc_id", "text")
    val r = DedupOps.segmentDedup(df).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 2 && r(1L).getLong(2) == 1)
    assert(r(1L).getString(3) == "aa bb cc dd ee ff gg hh")
    assert(r(2L).getLong(1) == 0 && r(2L).getLong(2) == 0 && r(2L).getString(3) == "")
  }

  test("segmentDedupByLines drops the repeated boilerplate line, keeps unique content") {
    val df = Seq(
      (1L, "COOKIE BANNER\nunique article one"),
      (2L, "COOKIE BANNER\nunique article two")).toDF("doc_id", "text")
    val r = DedupOps.segmentDedupByLines(df).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getString(3) == "COOKIE BANNER unique article one")
    assert(r(2L).getString(3) == "unique article two")
  }

  test("mixCorpus admits docs in hash-priority order until each source budget fills") {
    val corpus = Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(10)("tok").mkString(" "), "en", s"s${i % 2}", 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    def mix(b0: Long, b1: Long) = TextOps.mixCorpus(corpus,
      Seq(("s0", b0), ("s1", b1)).toDF("source", "token_budget"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // generous budgets: everything admitted, cum totals per source = 20 docs x 10 tokens
    val all = mix(10000L, 10000L)
    assert(all.length == 40)
    assert(all.filter(_._2 == "s0").map(_._4).max == 200L)
    // zero budget on one source: only the other side survives
    val half = mix(0L, 10000L)
    assert(half.forall(_._2 == "s1") && half.length == 20)
    // tight budget: exactly budget/doc_tokens docs per source, cum within budget
    val tight = mix(55L, 30L)
    assert(tight.count(_._2 == "s0") == 5 && tight.count(_._2 == "s1") == 3)
    assert(tight.forall(r => r._4 <= (if (r._2 == "s0") 55L else 30L)))
    // deterministic: the same mixture twice
    assert(mix(55L, 30L).toSet == tight.toSet)
  }

  test("qualityClassifier: integer-exact margin, verdict consistent, empty doc scores null") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // identical → identical score
      (3L, "")).toDF("doc_id", "text")
    val r = TextOps.qualityClassifier(df).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getInt(1) == 9)
    val s1 = r(1L).getDouble(2)
    assert(s1 >= -1.0 && s1 <= 1.0, "mean of [-1000,1000] weights over 1000 stays in [-1,1]")
    assert(r(1L).getDouble(2) == r(2L).getDouble(2))
    assert(r(1L).getBoolean(3) == (s1 > 0))
    assert(r(3L).isNullAt(2) && !r(3L).getBoolean(3))
  }

  test("dedupKeepBest: one survivor per component, max-quality member wins, min-id breaks ties") {
    // doc 2 repeats doc 1's text, so its shingle set is (almost) doc 1's and
    // the pair collides in LSH — but its length-term quality is HIGHER, so
    // keep-best must pick 2 where plain min-id dedup would keep 1.
    val base = "the quick brown fox jumps over the lazy dog near the old barn"
    val docs2 = Seq(
      (1L, base, "en", "s1", 60L),
      (2L, base + " " + base, "en", "s2", 121L),
      (3L, base, "en", "s3", 60L), // exact dup of 1: same quality, loses id tiebreak to 1
      (4L, "completely different words appear here without any overlap whatsoever today again", "de", "s2", 80L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.dedupKeepBest(docs2).collect()
    // cross-check against the components + quality the operator composes
    val comps = DedupOps.dupComponents(DedupOps.minhashCandidatePairs(docs2))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val quality = TextOps.qualityScore(docs2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(comps.nonEmpty, "fixture must produce at least one dup component")
    val byComp = comps.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(got.length == byComp.size, "exactly one survivor per component")
    for (r <- got) {
      val members = byComp(r.getLong(0))
      val best = members.map(quality).max
      val expectId = members.filter(m => quality(m) == best).min
      assert(r.getLong(1) == expectId && r.getDouble(2) == best
        && r.getLong(3) == members.size)
    }
    // and the interesting case actually happened: 2 beat 1 on quality
    val c1 = comps.find(_._1 == 1L).map(_._2)
    assert(c1.isDefined && got.exists(r => r.getLong(0) == c1.get && r.getLong(1) == 2L),
      "doc 2 (higher quality) must be the survivor of doc 1's component")
  }

  test("tfidfTopKSim: identical docs score exactly 1.0 at rank 1; ranks contiguous; no cartesian") {
    val docsSim = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s1", 30L),
      (2L, "alpha beta gamma delta epsilon zeta", "en", "s1", 30L),
      (3L, "alpha beta unrelated words entirely here", "en", "s1", 30L),
      (4L, "nothing shared with anybody else whatsoever", "en", "s1", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.tfidfTopKSim(docsSim, k = 3).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1)), "doc_a < doc_b canonical order")
    // identical guarded vectors → integer dot == both norms → exactly 1.0
    val top = out.filter(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(top.length == 1 && top.head.getDouble(2) == 1.0 && top.head.getInt(3) == 1)
    // doc 4 shares no df≥2 token with anyone → appears in no pair
    assert(!out.exists(r => r.getLong(0) == 4L || r.getLong(1) == 4L))
    // ranks per doc_a are 1..n with no gaps
    for ((_, rs) <- out.groupBy(_.getLong(0)))
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length))
    val plan = TextOps.tfidfTopKSim(docsSim).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"postings join went all-pairs:\n$plan")
  }

  test("qualityCalibrate: per-source P25 bar, survivors counted at the bar") {
    // one source, four docs of strictly increasing length → strictly
    // increasing quality; P25 of 4 distinct values interpolates between the
    // two smallest, so exactly 3 clear the bar
    val docsCal = Seq(
      (1L, "short text", "en", "s0", 10L),
      (2L, "a somewhat longer text with more of the words in it", "en", "s0", 50L),
      (3L, "a much longer text again with many more of the words in it and then even more of them to grow the length term further still", "en", "s0", 120L),
      (4L, "the longest document of the four by a clear margin " * 4, "en", "s0", 200L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.qualityCalibrate(docsCal).collect()
    assert(got.length == 1)
    val r = got.head
    val qs = TextOps.qualityScore(docsCal).collect().map(_.getDouble(1)).sorted
    assert(qs.distinct.length == 4, "fixture must produce distinct qualities")
    // P25 with n=4: rank = 0.25·(n−1) = 0.75 → between qs(0) and qs(1)
    assert(r.getDouble(1) > qs(0) && r.getDouble(1) < qs(1))
    assert(r.getLong(2) == 4L && r.getLong(3) == 3L)
  }

  test("dsirWeights: target-like docs score above raw-like docs; sub-bigram docs drop; deterministic") {
    val docsD = Seq(
      (1L, "alpha beta alpha beta alpha beta", "en", "tgt", 30L),
      (2L, "gamma delta gamma delta gamma delta", "en", "raw", 35L),
      (3L, "alpha beta alpha beta", "en", "raw", 20L),
      (4L, "x", "en", "raw", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val run1 = TextOps.dsirWeights(docsD, targetSource = "tgt")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!run1.contains(4L), "single-token doc has no bigrams")
    assert(run1(3L) > run1(2L),
      s"target-like content must outscore raw-only content: $run1")
    assert(run1(1L) > 0 && run1(2L) < 0)
    val run2 = TextOps.dsirWeights(docsD, targetSource = "tgt")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run1 == run2, "integer-exact accumulation must be run-stable")
  }

  test("lmPerplexity: add-one bigram model hand-check, OOV fallback ln(1/V), ppl from rounded mean") {
    // target "a b a b": cb(a,b)=2, cb(b,a)=1; cu(a)=2, cu(b)=1; V=2
    val docsP = Seq(
      (1L, "a b a b", "en", "tgt", 7L),
      (2L, "z z z", "en", "raw", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.lmPerplexity(docsP, targetSource = "tgt")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: lp(a,b)=ln(3/4)→−287682e−6 (×2), lp(b,a)=ln(2/3)→−405465e−6
    // mean_q = round(−980829/3) = −326943
    assert(got(1L).getLong(1) == 3L)
    assert(got(1L).getDouble(2) == -0.326943)
    assert(got(1L).getDouble(3) ==
      BigDecimal(math.exp(0.326943)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // doc 2: both bigrams OOV in context and pair → ln((0+1)/(0+2)) = ln(1/2)
    assert(got(2L).getLong(1) == 2L)
    assert(got(2L).getDouble(2) == -0.693147)
    // the clean doc reads closer to the target than the OOV doc
    assert(got(1L).getDouble(3) < got(2L).getDouble(3))
  }

  test("sourceOverlap: shared 8-token window counted once per source pair; disjoint sources absent") {
    val w8a = "t1 t2 t3 t4 t5 t6 t7 t8"
    val w8b = "u1 u2 u3 u4 u5 u6 u7 u8"
    val docsO = Seq(
      (1L, w8a, "en", "s1", 20L),
      (2L, w8a + " " + w8b, "en", "s2", 40L),           // shares window 1 with s1
      (3L, "v1 v2 v3 v4 v5 v6 v7 v8", "en", "s3", 20L)) // disjoint
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.sourceOverlap(docsO).collect()
    assert(got.length == 1, s"only the (s1, s2) pair overlaps: ${got.mkString(",")}")
    val r = got.head
    assert(r.getString(0) == "s1" && r.getString(1) == "s2")
    // s1 has 1 distinct segment, s2 has 2, shared 1 → jaccard 1/2
    assert(r.getLong(2) == 1L && r.getDouble(3) == 0.5)
  }

  test("leakageSafeSplit: every doc assigned once; no candidate pair straddles train/val") {
    val split = DedupOps.leakageSafeSplit(docs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(split.keySet == Set(1L, 2L, 3L, 4L), "one assignment per doc")
    assert(split.values.forall(s => s == "train" || s == "val"))
    val pairs = DedupOps.minhashCandidatePairs(docs).collect()
    assert(pairs.nonEmpty, "fixture must contain dup pairs for the guarantee to bite")
    for (p <- pairs)
      assert(split(p.getLong(0)) == split(p.getLong(1)),
        s"pair (${p.getLong(0)}, ${p.getLong(1)}) straddles the split")
  }

  test("leakageSafeSplit: dup component shares its min-label key; singleton keys on itself") {
    val got = DedupOps.leakageSafeSplit(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // docs 1,2,3 are one MinHash component labeled by its min id
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L && got(3L)._1 == 1L)
    assert(Set(got(1L)._2, got(2L)._2, got(3L)._2).size == 1)
    assert(got(4L)._1 == 4L, "doc in no pair keys on its own id")
    // partition-invariant: same assignment under a different layout
    val re = DedupOps.leakageSafeSplit(docs.repartition(7))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(re == got)
  }

  test("component index round-trip: *With consumers on the persisted index " +
       "reproduce the inline consumers exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compidx").toString
    DedupOps.writeComponentIndex(docs, dir)
    val idx = DedupOps.componentIndex(spark, dir)
    // the index IS the inline labeling at rest
    assert(idx.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      DedupOps.dupComponents(DedupOps.minhashCandidatePairs(docs)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(DedupOps.dedupKeepBestWith(docs, idx)) ==
      rows(DedupOps.dedupKeepBest(docs)))
    assert(rows(DedupOps.preferencePairsWith(docs, idx)) ==
      rows(DedupOps.preferencePairs(docs)))
    assert(rows(DedupOps.leakageSafeSplitWith(docs, idx)) ==
      rows(DedupOps.leakageSafeSplit(docs)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("substringDedup: copied span removed at any alignment, keep-first by (doc_id, pos), " +
       "short docs untouched") {
    val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa" // 10 tokens
    val d = Seq(
      (1L, span, "en", "s1", 10L),                            // origin: kept whole
      (2L, s"unique1 unique2 unique3 $span", "en", "s2", 13L), // span at offset 3 → removed
      (3L, "tiny doc under eight tokens", "en", "s1", 5L))     // < k: no windows, untouched
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.substringDedup(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((10L, 10L, span)), "first occurrence keeps every token")
    assert(got(2L) == ((13L, 3L, "unique1 unique2 unique3")),
      "all 10 copied positions covered by the 3 overlapping dup windows")
    assert(got(3L) == ((5L, 5L, "tiny doc under eight tokens")), "sub-k docs pass through")
  }

  test("spanDedupRecallAudit: hand-counted coverage, containment " +
       "certificate, and the keep-first retention share") {
    val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa" // 10 tokens
    val d = Seq(
      (1L, span, "en", "s1", 10L),                             // origin (kept)
      (2L, s"unique1 unique2 unique3 $span", "en", "s2", 13L), // dup at offset 3
      (3L, "tiny doc under eight tokens", "en", "s1", 5L))     // sub-k, no windows
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = DedupOps.spanDedupRecallAudit(d).head()
    // total positions = 10 + 13 + 5; covered = BOTH occurrences of the
    // 10-token span (10 + 10); removed = the second occurrence only (10)
    assert(r.getAs[Long]("n_token_positions") == 28L, r.toString)
    assert(r.getAs[Long]("covered_positions") == 20L, r.toString)
    assert(r.getAs[Long]("removed_positions") == 10L, r.toString)
    assert(r.getAs[Long]("kept_dup_positions") == 10L, r.toString)
    assert(r.getAs[Long]("violations") == 0L, "containment must hold")
    assert(r.getAs[Long]("covered_ppm") == 714286L, r.toString)   // 20/28
    assert(r.getAs[Long]("removed_share_of_covered_ppm") == 500000L, r.toString)
  }

  test("substringDedup: within-doc self-repetition removed; partition-invariant") {
    val phrase = "one two three four five six seven eight"
    val d = Seq((1L, s"$phrase filler $phrase", "en", "s1", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = DedupOps.substringDedup(d).collect().head
    // second occurrence of the 8-token phrase is a dup window → removed
    assert(r.getLong(1) == 17L && r.getLong(2) == 9L)
    assert(r.getString(3) == s"$phrase filler")
    val re = DedupOps.substringDedup(d.repartition(5)).collect().head
    assert(re.toSeq == r.toSeq, "keep-first decided by (doc_id, pos), not partitioning")
  }

  test("substringDedupStats: per-source removal rates roll up the span dedup exactly") {
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, span, "en", "sA", 8L),                 // origin in sA: nothing removed
      (2L, s"$span tail1 tail2", "en", "sB", 10L)) // sB: the 8 copied tokens removed
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.substringDedupStats(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got("sA") == ((1L, 8L, 0L, 0L)))
    assert(got("sB") == ((1L, 10L, 8L, 800000L)))
  }

  test("observation metrics ride the quality gate's own pass (no second scan)") {
    // the Observation API pins per-run counters to the SAME action that
    // produces the data — at 100 TB this replaces the "run the filter,
    // then count what it dropped" second pass every naive audit costs
    val obs = new org.apache.spark.sql.Observation("gate")
    val d = Seq(
      (1L, ("the quick brown fox and the lazy dog of the old barn " * 5).trim, "en", "s1", 270L),
      (2L, (1 to 10).map(i => s"- item $i").mkString("\n"), "en", "s2", 80L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val gated = TextOps.gopherQuality(d)
      .observe(obs,
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_docs"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
    val kept = gated.filter(col("keep")).count()
    val m = obs.get
    assert(m("n_docs") == 2L && m("n_kept") == 1L && kept == 1L,
      s"metrics must report the gate's own pass: $m")
  }

  test("preferencePairs: best-vs-worst per dup cluster; equal-extreme clusters drop") {
    val base = "the quick brown fox jumps over the lazy dog near the old barn today"
    val d = Seq(
      // cluster {1,2}: same content, 2 is longer → higher length half of quality
      (1L, base, "en", "s1", 60L),
      (2L, base + " " + base, "en", "s2", 120L),
      // singleton: no pair, never appears
      (3L, "completely unrelated words appear here without overlap whatsoever", "de", "s2", 80L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = DedupOps.preferencePairs(d).collect()
    assert(rows.length == 1, s"one pair from the one dup cluster, got ${rows.toSeq}")
    val r = rows.head
    assert(r.getLong(1) == 2L && r.getLong(2) == 1L, "longer member is chosen, shorter rejected")
    assert(r.getDouble(3) > r.getDouble(4))
    assert(r.getLong(5) == 2L)
    // equal-extreme: two identical members → no preference signal → no pair
    val eq = Seq((1L, base, "en", "s1", 60L), (2L, base, "en", "s2", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(DedupOps.preferencePairs(eq).collect().isEmpty)
  }

  test("bm25TopK: ranks by saturated tf with length normalization; no-hit docs absent") {
    val d = Seq(
      (1L, "spark spark spark merge query", "en", "s1", 5L),       // dense hits, short
      (2L, "spark " + ("pad " * 40) + "end", "en", "s1", 42L),     // one hit, long
      (3L, "nothing relevant here at all", "en", "s2", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextOps.bm25TopK(d).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L), "doc 3 has no query terms")
    val score = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(score(1L) > score(2L), "dense short doc outranks single-hit long doc")
    assert(rows.map(_.getLong(0)).toSeq == rows.sortBy(r => (-r.getDouble(1), r.getLong(0)))
      .map(_.getLong(0)).toSeq, "ordered by (score desc, doc_id)")
  }

  test("heavyHitters exact counts; CMS gate holds with exact top-k agreement") {
    val d = Seq(
      (1L, "aa aa aa bb bb cc", "en", "s1", 6L),
      (2L, "aa bb dd dd dd dd", "en", "s1", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val exact = TextOps.heavyHitters(d, kTop = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(exact.toSeq == Seq("aa" -> 4L, "dd" -> 4L, "bb" -> 3L),
      "(cnt desc, token) deterministic order")
    val cms = TextOps.heavyHittersCms(d, kTop = 3).collect()
    assert(cms.map(r => r.getString(0) -> r.getLong(1)).toSeq == exact.toSeq)
    assert(cms.forall(_.getBoolean(2)), "CMS estimate within [exact, exact + eps·N]")
  }

  test("bpeTrain: hand-computed merge sequence on a fixed vocabulary; " +
       "greedy non-overlapping application (aaaa -> aa aa)") {
    // corpus: 'banana' x3, 'bananas' x1, 'aaaa' x2
    val d = Seq(
      (1L, "banana banana banana bananas", "en", "s", 30L),
      (2L, "aaaa aaaa", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = TextOps.bpeTrain(d, rounds = 3).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    // round 1 pair counts: banana(x4 words): b-a 4, a-n 8, n-a 8, a-s 1;
    // aaaa(x2): a-a 6 (3 per word). argmax = (a,n) w=8 over (n,a) by pair asc
    assert(m(0) == ((1, "a", "n", 8L)), s"round1: ${m(0)}")
    // after merge: banana -> b an an a; bananas -> b an an a s; aaaa intact.
    // round 2 pairs: b-an 4, an-an 4, an-a 4, a-s 1, a-a 6 -> argmax (a,a) 6
    assert(m(1) == ((2, "a", "a", 6L)), s"round2: ${m(1)}")
    // greedy non-overlap: aaaa -> aa aa (2 pairs per word x2 words = 2 aa-aa
    // adjacencies), NOT aa-a chains. round 3: an-an 4 wins over aa-aa 2 and
    // b-an 4 (pair asc: 'an'<'b'), an-a 4 also ties -> ('an','a') < ('an','an')
    assert(m(2) == ((3, "an", "a", 4L)), s"round3: ${m(2)}")

    // encode with the learned merges: banana = b|an|an|a -> 4 syms,
    // bananas = 5 (the an-a merge applies left-to-right: b an an a s ->
    // b an ana s? no: merge (an,a): 'b an an a s': first 'an an' no, pairs
    // scanned as literal '|an||a|': matches at the SECOND an + a -> b an ana s = 4)
    val enc = TextOps.bpeEncode(d,
      Seq(("a", "n"), ("a", "a"), ("an", "a"))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    // doc 1: banana x3 -> each 'b an an a' -> replace '|an||a|' once -> 'b an ana' = 3
    //        bananas -> 'b an ana s' = 4 syms; total = 3*3 + 4 = 13
    // doc 2: aaaa x2 -> 'aa aa' each (merge (a,a) greedy) -> 2 syms, (an,a) no-op; total 4
    assert(enc(1L) == ((4L, 13L)), s"doc1: ${enc(1L)}")
    assert(enc(2L) == ((2L, 4L)), s"doc2: ${enc(2L)}")
  }

  test("bpeFertilityByLang: hand-computed per-lang ppm over the encode " +
       "counts; zero-token docs drop") {
    val d = Seq(
      (1L, "banana banana banana bananas", "en", "s", 30L),
      (2L, "aaaa aaaa", "fr", "s", 10L),
      (3L, "!!!", "de", "s", 3L)) // no tokenizable words → absent
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.bpeFertilityByLang(d,
      Seq(("a", "n"), ("a", "a"), ("an", "a"))).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // en: 4 tokens, 13 syms, 25 chars → fertility (13e6+2)div4, cps (25e6+6)div13
    assert(got("en") == ((1L, 4L, 13L, 3250000L, (25000000L + 6L) / 13L)), got.toString)
    // fr: 2 tokens, 4 syms, 8 chars → 2e6 and 2e6 exactly
    assert(got("fr") == ((1L, 2L, 4L, 2000000L, 2000000L)), got.toString)
    assert(!got.contains("de"), "a doc with no words carries no fertility signal")
  }

  test("epochShuffle: a permutation per epoch — every doc exactly once, " +
       "contiguous per-shard sequences, epochs disagree, layout-invariant") {
    val d = (1L to 40L).map(i => (i, s"text $i", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e1 = TextOps.epochShuffle(d, epoch = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(e1.map(_._1).toSet == (1L to 40L).toSet, "every doc appears once")
    // per-shard sequences are 1..n with no gaps
    e1.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length),
        s"shard $sh sequence has gaps") }
    // epoch 2 is a different permutation of the same docs
    val e2 = TextOps.epochShuffle(d, epoch = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(e2.map(_._1).toSet == e1.map(_._1).toSet)
    assert(e1.sortBy(t => (t._2, t._3)).map(_._1).toSeq !=
      e2.sortBy(t => (t._2, t._3)).map(_._1).toSeq,
      "epochs must produce different orders")
    // deterministic under repartition
    val re = TextOps.epochShuffle(d.repartition(7), epoch = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(re.sortBy(_._1).sameElements(e1.sortBy(_._1)), "layout must not matter")
  }

  test("leakageSafeFoldsWith: folds in [0,k); a dup component lands in ONE " +
       "fold; singleton keys on itself; matches the inline labeling") {
    val comps = DedupOps.dupComponents(DedupOps.minhashCandidatePairs(docs))
    val got = DedupOps.leakageSafeFoldsWith(docs, comps)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got.values.forall(v => v._2 >= 0 && v._2 < 5))
    // docs 1,2,3 are one component → identical fold; 4 keys on itself
    assert(Set(got(1L), got(2L), got(3L)).size == 1, got.toString)
    assert(got(4L)._1 == 4L)
    // no candidate pair straddles folds (the CV leakage guarantee)
    for (p <- DedupOps.minhashCandidatePairs(docs).collect())
      assert(got(p.getLong(0))._2 == got(p.getLong(1))._2,
        s"pair (${p.getLong(0)}, ${p.getLong(1)}) straddles folds")
  }

  test("langIdMulti: stopword argmax with alphabetical tiebreak; no hits " +
       "reads und; confusion matrix shares sum to 1e6 per label") {
    val d = Seq(
      (1L, "der hund und das brot ist gut", "de", "s", 25L),
      (2L, "the cat of the house is it", "en", "s", 25L),
      (3L, "le chat dans les rues pour une", "fr", "s", 25L),
      (4L, "zzz qqq www", "zh", "s", 11L),          // no Latin stopwords → und
      (5L, "the der und of", "en", "s", 14L))       // 2-2 tie → de (alphabetical)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.langIdMulti(d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "de", 2L -> "en", 3L -> "fr", 4L -> "und", 5L -> "de"),
      got.toString)
    val conf = TextOps.langIdConfusion(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(conf(("en", "en")) == ((1L, 500000L)) && conf(("en", "de")) == ((1L, 500000L)),
      conf.toString)
    assert(conf(("zh", "und")) == ((1L, 1000000L)), conf.toString)
  }

  test("lshRecallAudit: perfect recall on the dup-family fixture; a " +
       "threshold-grazing pair the bands miss drops recall below 1e6") {
    val r = DedupOps.lshRecallAudit(docs).head()
    assert(r.getLong(0) > 0, "fixture must contain true pairs")
    assert(r.getLong(1) == r.getLong(0) && r.getLong(2) == 1000000L,
      s"bands should find every fixture pair: $r")
    // found counts only TRUE pairs that banding surfaced: recall is
    // bounded by 1e6 even though banding emits extra sub-threshold pairs
    assert(r.getLong(2) <= 1000000L)
  }

  test("vocabGrowth: cumulative types equal the distinct vocabulary, " +
       "token totals add up, first-seen is bucket-min deterministic") {
    val d = (1L to 40L).map(i =>
      (i, s"common shared w$i", "en", "s", 20L)) // 'common'/'shared' everywhere
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.vocabGrowth(d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.map(_._2).sum == 120L, "3 tokens x 40 docs")
    assert(got.last._5 == 42L, s"cum types must equal the 42-word vocabulary: ${got.last}")
    assert(got.map(_._3).sum == 42L, "new_types partitions the vocabulary")
    // cumulative columns re-add per row
    var (ct, cy) = (0L, 0L)
    for ((_, n, nt, cumT, cumY) <- got) {
      ct += n; cy += nt
      assert(cumT == ct && cumY == cy, s"cumulative mismatch at $cumT/$cumY")
    }
    // the shared words are first-seen exactly once, in the earliest bucket
    // that contains any document
    val firstBucket = got.head._1
    assert(got.head._3 >= 2L, s"bucket $firstBucket must own the shared types")
  }

  test("componentSizeProfile: histogram of cluster sizes from a hand " +
       "labeling; jaccardThresholdSweep buckets exact ppm into deciles " +
       "with 1.0 clamped to the top decile") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L))
      .toDF("doc_id", "component")
    val prof = DedupOps.componentSizeProfile(comps).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prof == Map(3L -> 1L, 2L -> 1L, 1L -> 1L), prof.toString)
    // two identical docs → jaccard 1.0 → decile 9 (clamped), exactly 1 pair
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s", 30L),
      (2L, "alpha beta gamma delta epsilon", "en", "s", 30L),
      (3L, "zz yy xx ww vv uu tt ss", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sweep = DedupOps.jaccardThresholdSweep(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sweep == Map(9L -> 1L), sweep.toString)
  }

  test("readability: hand-computed Flesch micros; word-less docs drop; " +
       "sentence floor prevents divide-by-zero") {
    val d = Seq(
      (1L, "The cat sat. The dog ran!", "en", "s", 25L),
      (2L, "no punctuation here", "en", "s", 19L), // sentences floors to 1
      (3L, "!!! ...", "en", "s", 7L))              // zero words → dropped
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.readability(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 1: 6 monosyllables, 2 sentences →
    // 206.835 − 1.015·3 − 84.6·1 = 119.19 exactly
    assert(got(1L) == ((6L, 2L, 6L, 119190000L)), got.toString)
    // doc 2: words 3, sentences 1, syllables: no(1) punc-tu-a-tion(regex
    // groups: u-a-io → 'punctuation' → [u],[ua],[io] = 3), here(2: e,e)
    assert(got(2L)._1 == 3L && got(2L)._2 == 1L, got(2L).toString)
    assert(!got.contains(3L), "no words → no readability row")
  }

  test("indexStaleness: unindexed backlog and stale dead weight counted " +
       "from content hashes") {
    val cur = Seq((1L, "alpha", "en", "s", 5L), (2L, "beta", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val old = Seq((9L, "beta", "en", "s", 4L), (8L, "gamma", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = DedupOps.indexStaleness(cur, DedupOps.corpusFingerprintIndex(old)).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 1L, 1L)), r.toString) // alpha unindexed, gamma stale, beta shared
  }

  test("quantileNormalize: exact ECDF ppm — ties share a percentile, the " +
       "max value reads 1e6, layout-invariant") {
    val d = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 30L))
      .map { case (id, n) => (id, s"t$id", "en", "s", n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.quantileNormalize(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // cum_le: 10→2, 20→3, 30→4 over n=4 (half-up ppm)
    assert(got == Map(1L -> 500000L, 2L -> 500000L, 3L -> 750000L, 4L -> 1000000L),
      got.toString)
    val re = TextOps.quantileNormalize(d.repartition(5)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(re == got, "partitioning must not change percentiles")
  }

  test("sourceDrift: hand-computed KL vs the corpus mixture in exact " +
       "integer micros; the skewed source scores higher") {
    val d = Seq(
      (1L, "x y", "en", "A", 3L),
      (2L, "x x", "en", "B", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // corpus: x:3, y:1, N=4. A (x:1, y:1, n_s=2):
    //   x: 0.5*ln(1*4/(3*2))*1e6 = -202733 (rounded), y: 0.5*ln(4/2)*1e6 = 346574
    // B (x:2, n_s=2): 1*ln(2*4/(3*2))*1e6 = 287682
    val got = TextOps.sourceDrift(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("A" -> ((2L, -202733L + 346574L)), "B" -> ((2L, 287682L))),
      s"$got")
    // drift orders as expected: the skewed source is farther from the mix
    assert(got("B")._2 > got("A")._2)
  }

  test("bpeHoldoutAudit: held-out split encodes with the TRAIN-split " +
       "merges; unseen words counted, trained merges still apply to them") {
    // md5-bucket split: doc_ids 1,2 -> train (<90), doc_id 8 -> heldout (93)
    val d = Seq(
      (1L, "banana banana banana", "en", "s", 20L),
      (2L, "banana bananas", "en", "s", 15L),
      (8L, "banana bandana zzz", "en", "s", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.bpeHoldoutAudit(d, rounds = 2).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // train vocab {banana x4, bananas x1}: round1 argmax (a,n) w=10
    // (a-n appears 2x per word, 5 words); round2: pairs over
    // [b,an,an,a(,s)]: (b,an) 5, (an,an) 5, (an,a) 5, (a,s) 1 -> (an,a)? order:
    // 'an'<'b'; among ('an','a') vs ('an','an'): 'a'<'an' -> (an,a) w=5
    // train: banana -> b|an|ana (3), bananas -> b|an|ana|s (4)
    //   docs 1,2: n_tokens 5, chars 6*4+7=31, bpe 3*4+4=16, unseen 0
    // heldout doc 8: banana -> 3; bandana (unseen) = b,a,n,d,a,n,a
    //   -> (a,n): |b||a||n||d||a||n||a| -> b,an,d,an,a (5) -> (an,a): matches
    //   the SECOND an -> b,an,d,ana (4); zzz (unseen) stays 3 chars = 3
    //   n_tokens 3, chars 6+7+3=16, bpe 3+4+3=10, unseen_words 2
    assert(got("train") == ((2L, 5L, 31L, 16L, 0L)), s"train: ${got("train")}")
    assert(got("heldout") == ((1L, 3L, 16L, 10L, 2L)), s"heldout: ${got("heldout")}")
  }

  test("packDocsBy: budget-boundary arithmetic — a doc STARTS a new " +
       "sequence when the running total would cross the budget") {
    val counts = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 60L))
      .toDF("doc_id", "n")
    // single shard so the window order is just doc_id
    val got = TextOps.packDocsBy(counts, "n", seqBudget = 256, shards = 1)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    // cums: 100,200,300,360; seq = (cum - n) div 256 = 0,0,0(200div),1(300div)
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L), s"$got")
  }

  test("unigramTrain: hand-computed hard-EM fixed point on the banana " +
       "corpus — seed prune, Viterbi re-count, char floor, exact logp") {
    // wf: banana x3, bananas x1, aaaa x2. Seed multi-char top-3 by
    // (cnt desc, piece asc): an=8, ana=8, na=8; chars a=20 b=4 n=8 s=1.
    // EM r1 Viterbi: banana -> b|an|ana (longer-piece tiebreak at pos 6),
    // bananas -> b|an|ana|s, aaaa -> a|a|a|a (aa was pruned). Counts:
    // a=8, b=4, an=4, ana=4, s=1, n never used -> char floor 1; na drops.
    // r2/r3: same segmentations -> fixed point. total=22.
    val d = Seq(
      (1L, "banana banana banana bananas", "en", "s", 30L),
      (2L, "aaaa aaaa", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val v = TextOps.unigramTrain(d, vocabTarget = 3, emRounds = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(v.keySet == Set("a", "b", "n", "s", "an", "ana"), v.keySet.toString)
    assert(v("a") == ((1L, 8L, -1011601L)), v("a").toString)   // ln(8/22)
    assert(v("an") == ((2L, 4L, -1704748L)), v("an").toString) // ln(4/22)
    assert(v("ana") == ((3L, 4L, -1704748L)), v("ana").toString)
    assert(v("b") == ((1L, 4L, -1704748L)), v("b").toString)
    assert(v("n") == ((1L, 1L, -3091042L)), v("n").toString)   // ln(1/22)
    assert(v("s") == ((1L, 1L, -3091042L)), v("s").toString)

    // encode under the trained vocab: banana=3 pieces, bananas=4, aaaa=4
    val vocab = TextOps.unigramTrain(d, vocabTarget = 3, emRounds = 3)
    val enc = TextOps.unigramEncode(d, vocab).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(enc(1L) == ((4L, 25L, 13L)), enc(1L).toString) // 3*3+4 pieces
    assert(enc(2L) == ((2L, 8L, 8L)), enc(2L).toString)   // 4+4

    // fertility comparison carries one row per tokenizer over the same
    // corpus totals: unigram 21 pieces / 6 tokens = 3.5 ppm-exact
    val merges = TextOps.bpeTrain(d, rounds = 3).orderBy(col("round"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val wpVocab = TextOps.wordpieceVocabFrom(d, TextOps.wordpieceTrain(d, rounds = 3))
    val cmp = TextOps.tokenizerFertilityCompare(d, merges, vocab, wpVocab).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(cmp("unigram") == ((6L, 21L, 3500000L)), cmp("unigram").toString)
    // bpe with merges (a,n),(a,a),(an,a): 13 + 4 = 17 syms over 6 tokens
    assert(cmp("bpe") == ((6L, 17L, 2833333L)), cmp("bpe").toString)
    // wordpiece (merges an,ban,banan — see the wordpieceTrain test):
    // banana banan|a, bananas banan|a|s, aaaa a|a|a|a → 17 pieces
    assert(cmp("wordpiece") == ((6L, 17L, 2833333L)), cmp("wordpiece").toString)
  }

  test("wordpieceTrain: hand-computed likelihood argmax on the banana " +
       "corpus — score ties break on pair order, and the score ranks " +
       "rare-symbol merges above raw pair frequency") {
    val d = Seq(
      (1L, "banana banana banana bananas", "en", "s", 30L),
      (2L, "aaaa aaaa", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // r1: sf a=20 b=4 n=8 s=1; pf (a,n)=8 (n,a)=8 (b,a)=4 (a,a)=6 (a,s)=1.
    // scores·10¹²: (a,n)=8/160, (n,a)=8/160, (b,a)=4/80, (a,s)=1/20 ALL
    // tie at 5e10 — (a,n) wins the pair-asc tie-break. r2: (b,an)=4/32 =
    // 1.25e11 beats (a,s)=1/12 and (an,an)=4/64 — the likelihood score
    // promotes the rare-but-exclusive pair where BPE's raw frequency
    // would re-merge the frequent symbols. r3: (ban,an)=4/16 = 2.5e11.
    val m = TextOps.wordpieceTrain(d, rounds = 3).orderBy(col("round")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    assert(m(0) == ((1, "a", "n", "an", 8L, 50000000000L)), m(0).toString)
    assert(m(1) == ((2, "b", "an", "ban", 4L, 125000000000L)), m(1).toString)
    assert(m(2) == ((3, "ban", "an", "banan", 4L, 250000000000L)), m(2).toString)

    // greedy longest-match encode under vocab {a,b,n,s,an,ban,banan}:
    // banana = banan|a (2), bananas = banan|a|s (3), aaaa = a|a|a|a (4)
    val vocab = TextOps.wordpieceVocabFrom(d, TextOps.wordpieceTrain(d, rounds = 3))
    assert(vocab.collect().map(_.getString(0)).toSet ==
      Set("a", "b", "n", "s", "an", "ban", "banan"))
    val enc = TextOps.wordpieceEncode(d, vocab).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(enc(1L) == ((4L, 25L, 9L, 0L)), enc(1L).toString)
    assert(enc(2L) == ((2L, 8L, 8L, 0L)), enc(2L).toString)

    // per-lang equity rollup: one 'en' row over the same totals
    val f = TextOps.wordpieceFertilityByLang(d, vocab).collect()
    assert(f.length == 1 && f.head.getString(0) == "en")
    assert((f.head.getLong(1), f.head.getLong(2), f.head.getLong(3),
      f.head.getLong(4)) == ((2L, 6L, 17L, 0L)), f.head.toString)
    assert(f.head.getLong(5) == 2833333L, f.head.toString)
  }

  test("wordpieceHoldoutAudit: heldout chars unseen in training emit UNK " +
       "(one per char), unlike BPE/unigram which degrade to char pieces") {
    val d = Seq(
      (1L, "banana banana banana bananas", "en", "s", 30L), // train
      (2L, "aaaa aaaa", "en", "s", 10L),                    // train
      (8L, "banana zq", "en", "s", 9L))                     // heldout
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.wordpieceHoldoutAudit(d, rounds = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // train = the banana corpus: 6 tokens, 33 chars, 17 pieces, no UNKs
    assert(got("train") == ((2L, 6L, 33L, 17L, 0L, 0L)), got("train").toString)
    // heldout: banana = banan|a (2); 'zq' → z,q both unseen → 2 UNKs
    assert(got("heldout") == ((1L, 2L, 8L, 4L, 2L, 1L)), got("heldout").toString)
  }

  test("sentenceChunks: whole sentences pack greedily to the token " +
       "budget, an oversized sentence gets its own chunk, empty " +
       "segments drop") {
    val d = Seq(
      (1L, "a b c. d e! f g h i? x", "en", "s", 22L),
      (2L, "one two three four five six. a.", "en", "s", 31L),
      (3L, "...", "en", "s", 3L)) // no tokens at all → zero rows
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.sentenceChunks(d, maxTokens = 5).collect()
      .map(x => (x.getLong(0), x.getInt(1)) -> ((x.getLong(2), x.getLong(3))))
      .toMap
    // doc 1 counts [3,2,4,1]: (3+2=5 | 4+1=5) → two full chunks
    assert(r((1L, 0)) == ((2L, 5L)), r.toString)
    assert(r((1L, 1)) == ((2L, 5L)), r.toString)
    // doc 2: the 6-token sentence exceeds the budget alone → own chunk
    assert(r((2L, 0)) == ((1L, 6L)), r.toString)
    assert(r((2L, 1)) == ((1L, 1L)), r.toString)
    assert(!r.keySet.exists(_._1 == 3L), r.toString)
  }

  test("pavIsotonic: hand-computed pool-adjacent-violators — a leading " +
       "violation pools to the pooled mean, gaps in bin ids are safe, " +
       "and the output is always non-decreasing") {
    // rates [0.8, 0.2, 0.5]: PAV pools bins 0,1 to 10/20 = 0.5, then
    // 0.5 vs 0.5 holds → all three calibrate to 500000 ppm
    val g1 = Seq((0L, 10L, 8L), (1L, 10L, 2L), (2L, 10L, 5L))
      .toDF("bin", "n", "p")
    val r1 = TextOps.pavIsotonic(g1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(r1(0L) == ((10L, 800000L, 500000L)), r1.toString)
    assert(r1(1L) == ((10L, 200000L, 500000L)), r1.toString)
    assert(r1(2L) == ((10L, 500000L, 500000L)), r1.toString)
    // bin ids 0,2,3 (gap at 1); rates [0.2, 0.9, 0.5]: pool 2,3 → 0.7
    val g2 = Seq((0L, 10L, 2L), (2L, 10L, 9L), (3L, 10L, 5L))
      .toDF("bin", "n", "p")
    val r2 = TextOps.pavIsotonic(g2).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(r2 == Map(0L -> 200000L, 2L -> 700000L, 3L -> 700000L), r2.toString)
    // end-to-end on the real scoring chain: monotone, bins complete
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, s"the quick doc $i " + ("and of to in " * (i % 7)), "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val iso = TextOps.isotonicCalibration(docs).orderBy(col("bin")).collect()
    assert(iso.map(_.getLong(1)).sum == 40L, iso.mkString(","))
    val curve = iso.map(_.getLong(3))
    assert(curve.zip(curve.tail).forall { case (a, b) => a <= b },
      s"isotonic output must be non-decreasing: ${curve.mkString(",")}")
  }

  test("unigramHoldoutAudit: heldout docs encode under the train-only " +
       "vocabulary; heldout-only words count as unseen and still segment") {
    // doc_id 8 lands heldout under the md5%100 split (verified offline);
    // 'zq' never appears in training → unseen, segments via chars
    val d = Seq(
      (1L, "banana banana banana bananas", "en", "s", 30L), // train
      (2L, "aaaa aaaa", "en", "s", 10L),                    // train
      (8L, "banana zq", "en", "s", 9L))                     // heldout
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.unigramHoldoutAudit(d, vocabTarget = 3).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // train = the banana-corpus fixed point: 6 tokens, 25+8 chars,
    // 13+8 pieces (banana=3, bananas=4, aaaa=4 each), nothing unseen
    assert(got("train") == ((2L, 6L, 33L, 21L, 0L)), got("train").toString)
    // heldout: banana segments b|an|ana = 3 under the train vocab; 'zq'
    // has NO trained pieces or chars — the DP takes ONE unknown span
    // (a single NEG penalty beats two), so 'zq' = 1 piece
    assert(got("heldout") == ((1L, 2L, 8L, 4L, 1L)), got("heldout").toString)
  }

  test("bpeTrain: exhausted vocabulary never empties the word table " +
       "(single-char vocab, more rounds than possible merges)") {
    val d = Seq((1L, "a b a b", "en", "s", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // words 'a','b' have no adjacent pairs at all -> every argmax is empty
    val m = TextOps.bpeTrain(d, rounds = 2).collect()
    assert(m.isEmpty, "no pairs -> no merge rows")
    val enc = TextOps.bpeEncode(d, Seq.empty).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(enc.toSeq == Seq((1L, 4L, 4L)), "chars pass through unmerged")
  }

  test("weightedSampleTopK: at most k per source; zero-quality docs never " +
       "sampled; equal weights reduce to u-rank; repartition-invariant") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = ((1L to 20L).map(i => (i, text, "en", s"s${i % 2}", 40L)) :+
      (21L, "", "en", "s0", 0L)) // zero quality
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.weightedSampleTopK(docs, k = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(!got.map(_._1).contains(21L), "zero-quality doc excluded")
    assert(got.groupBy(_._2).forall(_._2.length == 5), got.toSeq.toString)
    // equal weights: rank must follow key_micros desc within each source
    for ((_, rows) <- got.groupBy(_._2))
      assert(rows.sortBy(_._4).map(_._3).toSeq ==
        rows.map(_._3).sorted(Ordering[Long].reverse).toSeq)
    val again = TextOps.weightedSampleTopK(docs.repartition(7), k = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(got.toSet == again.toSet)
  }

  test("vocabCoverage: exact cumulative mass of the top-K types, clamped at " +
       "the observed vocabulary") {
    import spark.implicits._
    // freq: a=3, b=2, c=1 → total 6; deterministic (freq desc, token) rank
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextOps.vocabCoverage(docs, sizes = Seq(1, 2, 3, 99)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(1) == ((3L, 6L, 500000L, 500000L)), got.toString)   // a: 3/6
    assert(got(2) == ((3L, 6L, 833333L, 166667L)), got.toString)   // a+b: 5/6
    assert(got(3) == ((3L, 6L, 1000000L, 0L)), got.toString)
    assert(got(99) == ((3L, 6L, 1000000L, 0L)), "K clamps to n_vocab")
  }

  test("sourceLengthQuantiles: exact ceil-rank picks per source") {
    import spark.implicits._
    // n=4 → ranks ceil(1.0)=1, ceil(2.0)=2, ceil(3.0)=3, ceil(3.6)=4
    val docs = Seq(
      (1L, "a", "s1", 10L), (2L, "a", "s1", 20L),
      (3L, "a", "s1", 30L), (4L, "a", "s1", 40L),
      (5L, "a", "s2", 7L)
    ).map { case (id, txt, src, n) => (id, txt, src, n) }
      .toDF("doc_id", "text", "source", "n_chars")
    val got = TextOps.sourceLengthQuantiles(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got("s1") == ((4L, 10L, 20L, 30L, 40L)), got.toString)
    assert(got("s2") == ((1L, 7L, 7L, 7L, 7L)), "single doc: every quantile is it")
  }

  test("lshBucketOccupancy: identical docs collide on all 4 bands, the " +
       "outsider stays in singleton buckets") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy old dog again today"
    val docs = Seq((1L, base), (2L, base),
      (3L, "wholly different content rows tables columns queries windows merge")
    ).toDF("doc_id", "text")
    val got = DedupOps.lshBucketOccupancy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(2L) == ((4L, 4L)), s"4 two-doc buckets, 1 pair each: $got")
    assert(got(1L) == ((4L, 0L)), s"doc 3's 4 singleton buckets admit no pairs: $got")
  }

  test("crossSourceDupMatrix: upper-triangular source pair cells; " +
       "dedupQualityShift: keep-best mean dominates min-id mean") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy old dog again today"
    val docs = Seq(
      (1L, base + " more words to make this variant longer and higher quality", "zsrc"),
      (2L, base, "asrc"),
      (3L, "entirely different material about tables rows and columns", "asrc")
    ).toDF("doc_id", "text", "source")
    val pairs = DedupOps.minhashCandidatePairs(docs)
    val m = DedupOps.crossSourceDupMatrix(docs, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m == Map(("asrc", "zsrc") -> 1L), s"ordered cross-source cell: $m")
    val comps = DedupOps.dupComponents(pairs)
    val r = DedupOps.dedupQualityShift(docs, comps).head()
    assert(r.getAs[Long]("n_docs") == 3L && r.getAs[Long]("n_survivors") == 2L)
    // doc 1 (longer) outscores doc 2, so keep-best keeps 1 while min-id
    // keeps 1 too (min id of {1,2} = 1) — equal here; force divergence:
    val docs2 = Seq(
      (5L, base, "s"), (6L, base + " extra quality words in the longer doc", "s"))
      .toDF("doc_id", "text", "source")
    val r2 = DedupOps.dedupQualityShift(docs2,
      DedupOps.dupComponents(DedupOps.minhashCandidatePairs(docs2))).head()
    assert(r2.getAs[Long]("keep_best_mean_ppm") > r2.getAs[Long]("min_id_mean_ppm"),
      s"keep-best must beat min-id when the later doc is better: $r2")
  }

  test("tokenBurstiness: uniform presence reads 0 dispersion, a one-doc " +
       "clump reads (N-1) x 1e6") {
    import spark.implicits._
    // 'base' appears exactly once in each of 10 docs → D = 0;
    // 'clump' appears 10 times in one doc → D = (s2·N − s1²)/(N·s1) = 9
    val docs = (1L to 10L).map(i =>
      (i, "base" + (if (i == 1) " clump" * 10 else ""))).toDF("doc_id", "text")
    val got = TextOps.tokenBurstiness(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("base") == ((10L, 0L)), got.toString)
    assert(got("clump") == ((10L, 9000000L)), got.toString)
  }

  test("dupEvidence: identical docs fire all three screens; evidence row " +
       "carries band count, winnow overlap, and zero Hamming") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy old dog again today"
    val docs = Seq((1L, base), (2L, base),
      (3L, "completely different content about warehouse tables and rows here")
    ).toDF("doc_id", "text")
    val mp = DedupOps.minhashCandidatePairs(docs)
    val wp = TextOps.winnowOverlapPairs(docs)
    val got = DedupOps.dupEvidence(docs, mp, wp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getInt(4), r.getInt(5)))).toMap
    assert(got.contains((1L, 2L)), got.toString)
    val (nb, nw, hd, tiers) = got((1L, 2L))
    assert(nb == 4L, s"identical docs agree on every band: $nb")
    assert(nw >= 2L, s"identical docs share their winnow prints: $nw")
    assert(hd == 0 && tiers == 3, got.toString)
  }

  test("intraDocDedup: removes the repeated window INSIDE a doc, keeps the " +
       "first occurrence, and leaves cross-doc duplicates untouched") {
    import spark.implicits._
    val span = "alpha bravo charlie delta echo foxtrot golf hotel" // 8 tokens
    val docs = Seq(
      // doc 1: span, filler, span again → second occurrence removed
      (1L, s"$span india juliet $span"),
      // doc 2: exact copy of doc 1's span ONCE — cross-doc dup, untouched
      (2L, s"$span kilo lima"),
      (3L, "short text")) // < k tokens: no windows, fully kept
      .toDF("doc_id", "text")
    val got = DedupOps.intraDocDedup(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((18L, 10L, s"$span india juliet")), got(1L).toString)
    assert(got(2L) == ((10L, 10L, s"$span kilo lima")), got(2L).toString)
    assert(got(3L) == ((2L, 2L, "short text")), got(3L).toString)
  }

  test("dupEvidence: per-cluster pair budget bounds a template flood — " +
       "kept pairs ≤ budget per component, deterministic, a subset of the " +
       "unbudgeted control") {
    import spark.implicits._
    // template flood: 8 exact copies chain into ONE component with
    // 8·7/2 = 28 candidate pairs; the unrelated doc stays outside
    val tmpl = "breaking news template header repeated across every crawl " +
      "snapshot of the mirror site today"
    val docs = ((1L to 8L).map(i => (i, tmpl)) :+
      (9L, "completely unrelated content about warehouse tables and rows"))
      .toDF("doc_id", "text")
    val mp = DedupOps.minhashCandidatePairs(docs)
    val wp = TextOps.winnowOverlapPairs(docs)
    def pairsOf(budget: Int): Seq[(Long, Long)] =
      DedupOps.dupEvidence(docs, mp, wp, maxPairsPerComponent = budget)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val full = pairsOf(Int.MaxValue)
    assert(full.size == 28, s"flood control should see all 28 pairs: $full")
    val kept = pairsOf(5)
    assert(kept.size == 5, s"budget=5 keeps exactly 5 pairs: $kept")
    assert(kept.toSet.subsetOf(full.toSet), "budgeted output ⊆ control")
    // all-identical copies tie on est → keep rule falls to (doc_a, doc_b):
    // the lexicographically-first five pairs of the cluster
    assert(kept == full.sorted.take(5), s"deterministic keep: $kept")
    assert(pairsOf(5) == kept, "re-run reproduces the same keep set")
  }

  test("dupEvidenceBase + FromBase ≡ inline dupEvidence at every budget — " +
       "the persisted evidence path replays the derivation exactly") {
    import spark.implicits._
    val tmpl = "breaking news template header repeated across every crawl " +
      "snapshot of the mirror site today"
    val base = "the quick brown fox jumps over the lazy old dog again today"
    val docs = ((1L to 6L).map(i => (i, tmpl)) ++ Seq(
      (7L, base), (8L, base),
      (9L, "completely unrelated content about warehouse tables and rows")))
      .toDF("doc_id", "text")
    val mp = DedupOps.minhashCandidatePairs(docs)
    val wp = TextOps.winnowOverlapPairs(docs)
    val evBase = DedupOps.dupEvidenceBase(docs, mp, wp)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("doc_a", "doc_b", "n_bands", "n_winnow", "sim_hamming",
        "evidence_tiers").collect().map(_.mkString("|")).toSeq.sorted
    for (budget <- Seq(2, 5, 24, Int.MaxValue)) {
      val inline = rows(DedupOps.dupEvidence(docs, mp, wp,
        maxPairsPerComponent = budget))
      val stored = rows(DedupOps.dupEvidenceFromBase(evBase,
        maxPairsPerComponent = budget))
      assert(stored == inline, s"budget=$budget: stored path diverged")
    }
  }

  test("minhashEstimateAudit: identical docs estimate and measure J=1 with " +
       "zero error; estimate stays a valid ppm for partial overlaps") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy old dog again today"
    val docs = Seq(
      (1L, base), (2L, base),                       // identical: J = 1
      (3L, base + " with a slightly different tail end here")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.minhashCandidatePairs(docs)
    val got = DedupOps.minhashEstimateAudit(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.contains((1L, 2L)), s"identical docs must be a candidate pair: $got")
    assert(got((1L, 2L)) == ((1000000L, 1000000L, 0L)), got.toString)
    got.values.foreach { case (est, exact, err) =>
      assert(est >= 0L && est <= 1000000L && exact > 0L && exact <= 1000000L)
      assert(err == math.abs(est - exact))
    }
  }

  test("knBigrams: interpolated absolute-discounting closed form on a " +
       "hand corpus; docs under two tokens emit nothing") {
    import spark.implicits._
    // tokens a b a b → bigrams (a,b)×2, (b,a)×1; 2 bigram types
    // p(b|a) = (max(2−.75,0) + .75·1·(1/2)) / 2 = 0.8125
    // p(a|b) = (max(1−.75,0) + .75·1·(1/2)) / 1 = 0.625
    val docs = Seq((1L, "a b a b"), (2L, "solo")).toDF("doc_id", "text")
    val got = TextOps.knBigrams(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 2, got.toString)
    assert(got(("a", "b")) == ((2L, 812500L)), got.toString)
    assert(got(("b", "a")) == ((1L, 625000L)), got.toString)
  }

  test("curriculumPhases: best-first admission, every doc assigned, quality " +
       "bands descend across phases, stable under repartition") {
    import spark.implicits._
    // 12 docs, longer text → higher length term → phase 0 holds the longest
    val docs = (1L to 12L).map(id =>
      (id, Seq.fill(id.toInt * 3)("data").mkString(" "))).toDF("doc_id", "text")
    val got = TextOps.curriculumPhases(docs, phases = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.map(_._2).sum == 12L, "every doc assigned to exactly one phase")
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
    // quality bands must not interleave: phase k's floor ≥ phase k+1's ceiling
    got.sliding(2).foreach { case Array(hi, lo) =>
      assert(hi._4 >= lo._5, s"phase ${hi._1} floor ${hi._4} < phase ${lo._1} ceiling ${lo._5}")
    }
    val again = TextOps.curriculumPhases(docs.repartition(7), phases = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.toSeq == again.toSeq, "phase assignment is partitioning-invariant")
  }

  test("qualityPctBySource: each source's best doc sits at p100 regardless " +
       "of its absolute score; ties share a percentile; partitioning-invariant") {
    import spark.implicits._
    val long = "the quick brown fox jumps over the lazy old dog " * 6
    val docs = Seq(
      // source A: one clearly-best doc, two identical weak ones (tie)
      (1L, long, "A"), (2L, "zzz qqq", "A"), (3L, "zzz qqq", "A"),
      // source B: uniformly weak — its best doc must STILL be p100
      (4L, "xxx yyy", "B"), (5L, "x", "B"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.qualityPctBySource(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L)._3 == 1000000L, s"A's best doc at p100: ${got(1L)}")
    // B's best doc is absolutely weaker than A's weakest, yet p100 within B
    val bBest = Seq(got(4L), got(5L)).maxBy(_._2)
    assert(bBest._3 == 1000000L, s"B's best doc at p100: $bBest")
    // the tied A docs share q_ppm AND percentile
    assert(got(2L) == got(3L), s"ties share a percentile: ${got(2L)} vs ${got(3L)}")
    // ECDF of the weak tie in A: 2 of 3 docs <= them → round(2/3 * 1e6)
    assert(got(2L)._3 == 666667L, got(2L).toString)
    val again = TextOps.qualityPctBySource(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(again == got, "percentiles are partitioning-invariant")
  }

  test("sourceAblation: in a two-source corpus each LOO mean equals the " +
       "OTHER source's own mean; deltas sign-oppose; single source reads NULL") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy old dog " * 6
    val docs = Seq(
      (1L, good, "A"), (2L, good + "extra tail words", "A"),
      (3L, "zzz qqq", "B"), (4L, "x", "B"), (5L, "yy zz", "B"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.sourceAblation(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("A")._1 == 2L && got("B")._1 == 3L, got.toString)
    // dropping A leaves exactly B and vice versa
    assert(got("A")._3 == got("B")._2, s"LOO(A) = mean(B): $got")
    assert(got("B")._3 == got("A")._2, s"LOO(B) = mean(A): $got")
    // ablating the good source must HURT the corpus, ablating the bad
    // one must help
    assert(got("A")._4 < 0L && got("B")._4 > 0L, got.toString)
    // single-source corpus: nothing left to ablate -> NULLs
    val solo = TextOps.sourceAblation(docs.filter(col("source") === "A")).head()
    assert(solo.isNullAt(3) && solo.isNullAt(4), solo.toString)
  }

  test("bigramEntropyRate: deterministic text scores 0 micro-nats; a " +
       "50/50 branch scores exactly its quantized ln-2 terms") {
    import spark.implicits._
    // every context has ONE continuation -> H = 0
    val det = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val gd = TextOps.bigramEntropyRate(det).head()
    assert((gd.getLong(0), gd.getLong(1), gd.getLong(2)) == ((5L, 2L, 0L)), gd.toString)
    // "a b a c": contexts a -> {b, c} (50/50), b -> a (det): total 3
    // bigrams, terms 2 x round((1/3) ln 2 * 1e6) = 2 x 231049
    val br = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val gb = TextOps.bigramEntropyRate(br).head()
    assert((gb.getLong(0), gb.getLong(1)) == ((3L, 3L)), gb.toString)
    assert(gb.getLong(2) == 462098L, gb.toString)
    // single-token docs emit nothing (no index out of bounds)
    val tiny = Seq((1L, "word"), (2L, "")).toDF("doc_id", "text")
    assert(TextOps.bigramEntropyRate(tiny).count() == 0L)
  }

  test("classifierReliability: bins partition the score range, counts " +
       "conserve, and a single doc reads its own score and gate verdict") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy old dog " * 6
    val docs = Seq((1L, good), (2L, good + " padding tail"), (3L, "zzz qqq"),
      (4L, "alpha beta gamma delta"), (5L, "x y z"))
      .toDF("doc_id", "text")
    val got = TextOps.classifierReliability(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).sum == 5L, "every doc lands in exactly one bin")
    assert(got.forall(r => r._1 >= 0L && r._1 <= 9L), got.toSeq.toString)
    assert(got.forall(r => r._4 >= 0L && r._4 <= 1000000L), got.toSeq.toString)
    // single doc: its bin carries its exact score and its gate verdict
    val one = docs.filter(col("doc_id") === 1L)
    val g1 = TextOps.classifierReliability(one).head()
    val score = TextOps.qualityClassifier(one).head().getDouble(2)
    assert(g1.getLong(0) == 0L && g1.getLong(1) == 1L, g1.toString)
    assert(g1.getLong(2) == math.round(score * 1e6), s"$g1 vs $score")
    val qPpm = TextOps.qualityScore(one).head().getDouble(1)
    assert(g1.getLong(3) == (if (qPpm >= 0.5) 1000000L else 0L), g1.toString)
  }

  test("classifierAuc: a perfectly separating score reads 1e6, a " +
       "perfectly inverted one 0, and all-tied scores read 500000") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy old dog " * 6
    val bad = "zzz qqq xxx"
    // build a frame where we CONTROL label and score via the real ops:
    // same-source docs, half good half bad -> labels differ; scores come
    // from the hashed classifier so we just assert the algebraic bounds
    val docs = (1L to 8L).map(i =>
      (i, if (i % 2 == 0) good + (" pad" * i.toInt) else bad + s" t$i", "s0"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.classifierAuc(docs).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "s0")
    assert(r.getLong(1) + r.getLong(2) == 8L)
    val auc = r.getLong(3)
    assert(auc >= 0L && auc <= 1000000L, r.toString)
    // hand-checked identity on a tiny frame via the same operator:
    // two docs, one positive one negative; AUC must be 0 or 1e6 (no ties
    // possible with distinct scores) or 500000 when scores tie exactly
    val two = Seq((1L, good, "s1"), (2L, bad, "s1")).toDF("doc_id", "text", "source")
    val a2 = TextOps.classifierAuc(two).head().getLong(3)
    assert(a2 == 0L || a2 == 500000L || a2 == 1000000L, a2.toString)
    // single-class source: AUC undefined -> null
    val one = Seq((1L, good, "s2"), (2L, good + " pad", "s2"))
      .toDF("doc_id", "text", "source")
    assert(TextOps.classifierAuc(one).head().isNullAt(3))
  }

  test("ttrBySource: type-token ratio and hapax share replay the exact " +
       "integer divisions per source") {
    import spark.implicits._
    val docs = Seq((1L, "a a b", "A"), (2L, "x y z", "B")).toDF("doc_id", "text", "source")
    val got = TextOps.ttrBySource(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("A") == ((3L, 2L, 666667L, 500000L)), got.toString)
    assert(got("B") == ((3L, 3L, 1000000L, 1000000L)), got.toString)
  }

  test("keepRateWilson: bounds bracket the point rate, live in [0, 1e6], " +
       "and replay the closed form") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy old dog " * 4
    val docs = (1L to 10L).map(i =>
      (i, (if (i % 2 == 0) good else "zz qq ww") + s" t$i", s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    val rows = TextOps.keepRateWilson(docs).collect()
    assert(rows.length == 2)
    val z = 1.959964
    rows.foreach { r =>
      val (n, k, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val p = k.toDouble / n
      assert(lo >= 0L && hi <= 1000000L && lo <= hi, r.toString)
      assert(lo <= math.round(p * 1e6) && math.round(p * 1e6) <= hi, r.toString)
      val den = 1.0 + z * z / n
      val ctr = p + z * z / (2.0 * n)
      val half = z * math.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
      assert(lo == math.round((ctr - half) / den * 1e6), r.toString)
      assert(hi == math.round((ctr + half) / den * 1e6), r.toString)
    }
  }

  test("lshBandPlanner: 6 divisor rows, thresholds fall as bands grow, " +
       "and the (16, 8) row replays the closed form") {
    val got = DedupOps.lshBandPlanner(spark).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    assert(got.size == 6, got.toString)
    val thr = got.toSeq.sortBy(_._1._1).map(_._2._1)
    assert(thr == thr.sorted.reverse, s"threshold must fall with b: $thr")
    val (t16, p50, p90) = got((16, 8))
    assert(t16 == math.round(math.exp(math.log(1.0 / 16) / 8) * 1e6), t16.toString)
    assert(p90 > 999000L && p50 < 70000L, s"S-curve shape: p50=$p50 p90=$p90")
  }

  test("negativeSamplingTable: weights follow c^0.75, the cumulative is " +
       "the (weight desc, token) prefix sum, shares conserve") {
    import spark.implicits._
    // 'aa' x16, 'bb' x1 -> weights 8e6 and 1e6
    val docs = Seq((1L, ("aa " * 16) + "bb")).toDF("doc_id", "text")
    val got = TextOps.negativeSamplingTable(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got("aa") == ((16L, 8000000L, 888889L, 8000000L)), got.toString)
    assert(got("bb") == ((1L, 1000000L, 111111L, 9000000L)), got.toString)
  }

  test("knCrossEntropy: formulaic sources score lower cross-entropy than " +
       "diverse ones; bigram totals conserve; single-bigram docs count") {
    import spark.implicits._
    // src A: one bigram repeated -> the model all but memorizes it.
    // src B: every bigram unique -> each is rare under the corpus model.
    val docs = Seq(
      (1L, "x y x y x y x y x y x y", "A"),
      (2L, "x y x y x y x y", "A"),
      (3L, "q w e r t u i o p s d f", "B"),
      (4L, "m n b v c z l k j h g a", "B"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.knCrossEntropy(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("A")._1 == 11L + 7L, got.toString)
    assert(got("B")._1 == 11L + 11L, got.toString)
    assert(got("A")._2 < got("B")._2,
      s"formulaic A=${got("A")._2} must beat diverse B=${got("B")._2}")
    assert(got.values.forall(_._2 >= 0L), got.toString)
  }

  test("clfKeepParity: keeps conserve, keep_ppm bounded, parity nulls " +
       "only when nothing is kept, and the 80%-rule flag tracks parity") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy old dog " * 4
    val docs = (1L to 12L).map(i =>
      (i, if (i % 3 == 0) "zz qq" + i else good + i, s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    val rows = TextOps.clfKeepParity(docs).collect()
    assert(rows.length == 2)
    val keepTot = rows.map(_.getLong(2)).sum
    assert(rows.map(_.getLong(1)).sum == 12L)
    rows.foreach { r =>
      val ppm = r.getLong(3)
      assert(ppm >= 0L && ppm <= 1000000L, r.toString)
      if (keepTot == 0L) assert(r.isNullAt(4))
      else {
        val parity = r.getLong(4)
        assert(r.getBoolean(5) == (parity < 800000L), r.toString)
        // parity replays as (n_keep * n_tot * 1e6 + den/2) div den
        val den = r.getLong(1) * keepTot
        val exp = (r.getLong(2) * 12L * 1000000L + den / 2) / den
        assert(parity == exp, s"$parity vs $exp")
      }
    }
  }

  test("boilerplatePurge: df>=minDf segments vanish from every doc " +
       "including the first, rare segments survive, empty docs roll up") {
    import spark.implicits._
    val boiler = "cookie banner accept all terms and conditions apply"  // 8 toks
    val rare = Seq("alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight",
      "red green blue cyan magenta yellow black white")
    val docs = Seq(
      (1L, s"$boiler ${rare(0)}"),
      (2L, s"$boiler ${rare(1)}"),
      (3L, s"$boiler ${rare(2)}"),
      (4L, rare(0) /* dup of doc1's tail but df=2 < 3: kept */),
      (5L, ""))
      .toDF("doc_id", "text")
    val got = DedupOps.boilerplatePurge(docs, segTokens = 8, minDf = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got.size == 5)
    // the boilerplate window is cut from ALL THREE docs (keep-first would
    // have retained it in doc 1)
    assert(got(1L) == (2L, 1L, rare(0)))
    assert(got(2L) == (2L, 1L, rare(1)))
    assert(got(3L) == (2L, 1L, rare(2)))
    assert(got(4L) == (1L, 0L, rare(0)))  // df=2 across docs 1,4: below threshold
    assert(got(5L) == (0L, 0L, ""))
  }

  test("bcubedDedupEval: over-merging costs precision but not recall, " +
       "per-doc weighted; perfect clustering reads 1e6 across the board") {
    import spark.implicits._
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z"))
      .toDF("doc_id", "text")
    // predicted: {1,2,3} over-merged, 4 absent (implicit singleton)
    val pred = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "component")
    val got = DedupOps.bcubedDedupEval(docs, pred).head()
    assert(got.getLong(0) == 4L, got.toString)
    // P: docs 1,2 read 2/3, doc 3 reads 1/3, doc 4 reads 1 ->
    // (2*666667 + 333333 + 1000000 + 2) div 4 = 666667
    assert(got.getLong(1) == 666667L, s"precision: $got")
    assert(got.getLong(2) == 1000000L, s"over-merge keeps recall perfect: $got")
    assert(got.getLong(3) == 800000L, s"F1 of the rounded means: $got")
    // the exact gold clustering as prediction: all three read 1e6
    val perfect = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "component")
    val gp = DedupOps.bcubedDedupEval(docs, perfect).head()
    assert((gp.getLong(1), gp.getLong(2), gp.getLong(3)) ==
      ((1000000L, 1000000L, 1000000L)), gp.toString)
  }

  test("goodTuringCounts: N_c tallies type frequencies; c* = (c+1)N_{c+1}/N_c; " +
       "missing N_{c+1} yields NULL") {
    // corpus: 4 singletons, 2 doubletons, 1 tripleton
    //   N_1 = 4, N_2 = 2, N_3 = 1
    val docs = Seq(
      (1L, "a b c d e e f f g g g"),
      (2L, "e f g")).toDF("doc_id", "text")
    // counts: a b c d =1 (4 types); e f = 3 each... recompute:
    // e: 2+1=3, f: 2+1=3, g: 3+1=4 -> N_1=4 (a b c d), N_3=2 (e f), N_4=1 (g)
    val got = TextOps.goodTuringCounts(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got(1L)._1 == 4L && got(3L)._1 == 2L && got(4L)._1 == 1L)
    // c* for c=3: (3+1) * N_4 / N_3 = 4 * 1 / 2 = 2.0 -> 2_000_000 micros
    assert(got(3L)._2.contains(2000000L), got.toString)
    // c=1 has no N_2 -> NULL estimator
    assert(got(1L)._2.isEmpty, got.toString)
    // c=4 is the max count: no N_5 -> NULL
    assert(got(4L)._2.isEmpty)
  }

  test("cohensKappaScreens: perfectly aligned screens read kappa = 1; " +
       "independent screens read ~0; degenerate marginals go NULL") {
    // aligned: long docs are also token-rich, short docs token-poor
    val many = ("w " * 200).trim
    val aligned = (1 to 10).map(i =>
      (i.toLong, if (i <= 5) many else "x", if (i <= 5) 600L else 10L))
      .toDF("doc_id", "text", "n_chars")
    val r = TextOps.cohensKappaScreens(aligned).head()
    assert(r.getAs[Long]("kappa_micros") == 1000000L, r.toString)
    // independent 2x2 with equal cells: po = pe -> kappa 0
    val indep = (for { a <- Seq(true, false); b <- Seq(true, false); _ <- 1 to 5 }
      yield (1L, if (b) many else "x", if (a) 600L else 10L))
      .toDF("doc_id", "text", "n_chars")
    assert(TextOps.cohensKappaScreens(indep).head().getAs[Long]("kappa_micros") == 0L)
    // all docs pass both screens: 1 - pe = 0 -> NULL
    val allPass = (1 to 4).map(i => (i.toLong, many, 600L))
      .toDF("doc_id", "text", "n_chars")
    assert(TextOps.cohensKappaScreens(allPass).head().isNullAt(5))
  }

  test("qlmTopK: higher query-term density outranks longer diluted docs; " +
       "docs without any query term never enter the shortlist") {
    val docs = Seq(
      (1L, "spark query spark window"),              // dense in query terms
      (2L, "spark and a lot of other words " + ("filler " * 50)), // diluted
      (3L, "completely unrelated text here"),        // background only
      (4L, "query window merge spark query"))        // densest
      .toDF("doc_id", "text")
    val got = TextOps.qlmTopK(docs).collect()
    assert(!got.map(_.getLong(0)).contains(3L), "background-only doc excluded")
    // scores strictly ordered desc with doc_id tiebreak
    val scores = got.map(_.getLong(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // the densest doc outranks the diluted one
    val rank = got.map(_.getLong(0)).zipWithIndex.toMap
    assert(rank(4L) < rank(2L), got.mkString(";"))
    assert(rank(1L) < rank(2L), got.mkString(";"))
  }

  test("classifierPrAuc: AP = 1e6 when the classifier ranks every " +
       "positive first, and degrades when a junk doc outranks them") {
    import spark.implicits._
    // quality label: long docs with stopwords are positives (quality >= .5)
    val long = "the a of and to in " * 40 // high stopword share + length
    val docs = Seq(
      (1L, "s1", long + "alpha"), (2L, "s1", long + "beta"),
      (3L, "s1", "qq zz xx"), (4L, "s1", "ww vv uu yy")
    ).toDF("doc_id", "source", "text")
    val got = TextOps.classifierPrAuc(docs).collect()
    assert(got.length == 1, got.mkString(";"))
    val r = got.head
    assert(r.getLong(1) == 4L, "all four docs scored: " + r)
    val nPos = r.getLong(2)
    assert(nPos >= 1L, "the long stopworded docs are labeled positive: " + r)
    val ap = r.getAs[Long]("ap_ppm")
    assert(ap > 0L && ap <= 1000000L, r.toString)
    // AP is exactly 1e6 iff every positive precedes every negative in
    // (score desc, doc_id) order — verify against a brute replay
    val scored = TextOps.qualityClassifier(docs)
      .join(TextOps.qualityScore(docs).select(col("doc_id"),
        (expr("cast(round(quality * 1000000) as bigint)") >= 500000L).as("pos")), "doc_id")
      .select(col("doc_id"), expr("cast(round(clf_score * 1000000) as bigint)").as("s"), col("pos"))
      .collect().sortBy(r => (-r.getLong(1), r.getLong(0)))
    var rel = 0L; var terms = Vector.empty[Long]
    scored.zipWithIndex.foreach { case (row, i) =>
      if (row.getBoolean(2)) { rel += 1; terms :+= (rel * 1000000L + (i + 1) / 2) / (i + 1) }
    }
    val expected = (terms.sum + nPos / 2) / nPos
    assert(ap == expected, s"AP replay mismatch: $ap vs $expected")
  }

  test("burrowsDelta: style twins read 0, a two-source frequency flip " +
       "reads exactly 2e6 per differing token, zero-SD tokens are inert") {
    import spark.implicits._
    // s1/s2 identical style, s3 flips the aa/bb balance
    val docs = Seq(
      (1L, "s1", "aa aa bb cc"), (2L, "s2", "aa aa bb cc"),
      (3L, "s3", "aa bb bb cc")
    ).toDF("doc_id", "source", "text")
    val got = TextOps.burrowsDelta(docs, topK = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.size == 3, got.toString)
    assert(got(("s1", "s2")) == 0L, "identical sources: " + got)
    assert(got(("s1", "s3")) == got(("s2", "s3")) && got(("s1", "s3")) > 0L, got.toString)
    // k = 3 sources, two sharing a style: per differing token
    // z_twin = ±1/sqrt(2) = ±707107 micros, z_odd = ∓sqrt(2) = ∓1414214,
    // gap 2121321 on aa and bb, 0 on the evenly-shared cc ->
    // delta = (2*2121321 + 1) div 3 = 1414214
    assert(got(("s1", "s3")) == 1414214L, got.toString)
  }

  test("classifierGains: buckets partition the ranked docs, capture ends " +
       "at 1e6, and a working classifier's top bucket lifts above 1e6") {
    import spark.implicits._
    val long = "the a of and to in " * 40
    val docs = Seq(
      (1L, "s1", long + "alpha"), (2L, "s1", long + "beta"),
      (3L, "s1", "qq zz xx"), (4L, "s1", "ww vv uu yy"),
      (5L, "s1", "kk jj hh gg mm nn")
    ).toDF("doc_id", "source", "text")
    val got = TextOps.classifierGains(docs, buckets = 2).collect().sortBy(_.getLong(0))
    assert(got.map(_.getLong(1)).sum == 5L, "every doc in exactly one bucket")
    assert(got.last.getAs[Long]("capture_ppm") == 1000000L,
      "cumulative capture ends at 100%: " + got.mkString(";"))
    // rank arithmetic: ((r-1)*2) div 5 buckets 5 docs as 3 + 2
    assert(got.map(_.getLong(1)).toSeq == Seq(3L, 2L), got.mkString(";"))
    // the full-corpus bucket is definitionally lift = 1
    assert(got.last.getAs[Long]("lift_ppm") == 1000000L, got.mkString(";"))
    // capture is nondecreasing across buckets
    val caps = got.map(_.getAs[Long]("capture_ppm"))
    assert(caps.zip(caps.tail).forall { case (a, b) => b >= a }, caps.toSeq.toString)
  }

  test("bm25PrfTopK: expansion terms mined from seed hits retrieve the " +
       "vocabulary-mismatched doc plain BM25 cannot see") {
    import spark.implicits._
    // docs 1-3 match the seed and all talk about 'shuffle'; doc 4 never
    // uses a seed term but is dense in 'shuffle' -> only PRF finds it
    val docs = Seq(
      (1L, "spark merge shuffle shuffle pipeline"),
      (2L, "spark window shuffle shuffle stage"),
      (3L, "query merge shuffle shuffle executor"),
      (4L, "shuffle shuffle shuffle shuffle shuffle"),
      (5L, "completely unrelated text about nothing")
    ).toDF("doc_id", "text")
    val plain = TextOps.bm25TopK(docs).collect().map(_.getLong(0)).toSet
    assert(!plain.contains(4L), "plain BM25 misses the mismatched doc")
    val prf = TextOps.bm25PrfTopK(docs).collect()
    val ids = prf.map(_.getLong(0)).toSet
    assert(ids.contains(4L), "PRF recovers it: " + prf.mkString(";"))
    assert(!ids.contains(5L), "still no free match for unrelated text")
    // integer ranking key is strictly ordered with the doc_id tiebreak
    val sc = prf.map(_.getLong(1))
    assert(sc.zip(sc.tail).forall { case (a, b) => a >= b }, sc.toSeq.toString)
  }

  test("corpusMixTemperature: tau = 1 is the identity, tau < 1 flattens " +
       "toward the low-resource source, shares renormalize to ~1e6") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big", "a b c d e f g h i j a b c d e f g h i j"), // 20 tokens
      (2L, "big", "a b c d e f g h i j a b c d e f g h i j"),
      (3L, "small", "a b c d e")                               // 5 tokens
    ).toDF("doc_id", "source", "text")
    val t1 = TextOps.corpusMixTemperature(docs, tauPpm = 1000000L).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(t1("big").getAs[Long]("q_ppm") == t1("big").getAs[Long]("p_ppm"),
      "tau=1 identity: " + t1)
    val t07 = TextOps.corpusMixTemperature(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(t07("small").getAs[Long]("boost_ppm") > 1000000L,
      "low-resource source is boosted: " + t07)
    assert(t07("big").getAs[Long]("boost_ppm") < 1000000L,
      "dominant source gives up share: " + t07)
    val qsum = t07.values.map(_.getAs[Long]("q_ppm")).sum
    assert(math.abs(qsum - 1000000L) <= 2L, s"shares renormalize: $qsum")
  }

  test("cmsPlanner: the standard sizing table — width ceil(e/eps), " +
       "depth ceil(ln 1/delta), 6 rows") {
    val got = TextOps.cmsPlanner(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.size == 6, got.toString)
    assert(got((10000L, 10000L)) == ((272L, 5L, 272L * 5 * 8)), got.toString)
    assert(got((100L, 1000L)) == ((27183L, 7L, 27183L * 7 * 8)), got.toString)
  }
}
