package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators._

/** Degenerate-input behavior: empty corpora, sub-shingle docs, unicode,
  * empty strings. Every operator must return empty/safe results, never
  * throw — at 100 TB some partition somewhere will always be degenerate.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def docsOf(rows: Seq[(Long, String, String, String, Long)]) =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")

  private val emptyDocs =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema)

  test("empty corpus: every dedup/text operator returns empty, not error") {
    assert(DedupOps.exactDedup(emptyDocs).count() == 0)
    assert(DedupOps.minhashSignatures(emptyDocs).count() == 0)
    assert(DedupOps.minhashCandidatePairs(emptyDocs).count() == 0)
    assert(DedupOps.jaccardPairs(emptyDocs, 0.5).count() == 0)
    assert(DedupOps.jaccardPairsPrefix(emptyDocs, 0.5).count() == 0)
    assert(DedupOps.simhash(emptyDocs).count() == 0)
    assert(DedupOps.simhashCandidatePairs(emptyDocs).count() == 0)
    assert(TextOps.tokenCounts(emptyDocs).count() == 0)
    assert(TextOps.langId(emptyDocs).count() == 0)
    assert(TextOps.qualityScore(emptyDocs).count() == 0)
    assert(TextOps.chunks(emptyDocs).count() == 0)
    assert(TextOps.termFrequencies(emptyDocs).count() == 0)
    assert(TextOps.tfIdf(emptyDocs).count() == 0)
    assert(TextOps.deterministicSample(emptyDocs, "doc_id", 10).count() == 0)
    assert(TextOps.approxDistinctWithinTol(emptyDocs).count() == 0)
    // r6 operator families
    assert(TextOps.gopherQuality(emptyDocs).count() == 0)
    assert(TextOps.repetitionStats(emptyDocs).count() == 0)
    assert(TextOps.redactPii(emptyDocs).count() == 0)
    assert(TextOps.packChunks(emptyDocs).count() == 0)
    assert(DedupOps.contaminationScreen(emptyDocs, emptyDocs).count() == 0)
    assert(Pipelines.runCorpusPipelineFull(emptyDocs).count() == 0)
    // r9 operator families
    assert(DedupOps.shingleNovelty(emptyDocs).count() == 0)
    assert(DedupOps.containmentPairs(emptyDocs).count() == 0)
    assert(TextOps.winnowFingerprints(emptyDocs).count() == 0)
    assert(TextOps.winnowOverlapPairs(emptyDocs).count() == 0)
    assert(TextOps.balancedSample(emptyDocs).count() == 0)
    assert(TextOps.keywordsTopK(emptyDocs).count() == 0)
    assert(TextOps.sourceKeywords(emptyDocs).count() == 0)
    assert(TextOps.zipfSlope(emptyDocs).collect()(0).isNullAt(1),
      "zero-variance regression reads NULL, never a divide error")
    assert(GraphOps.docPagerank(emptyDocs).count() == 0)
  }

  test("single-doc corpus: keyword/novelty/regression ops stay defined") {
    val one = docsOf(Seq((1L, "alpha beta gamma alpha", "en", "s", 22L)))
    // every shingle is unique to the only doc -> novelty exactly 1e6
    assert(DedupOps.shingleNovelty(one).collect()(0).getLong(3) == 1000000L)
    // idf = ln(1/df) = 0 for every token -> scores 0, ties token-asc
    val kw = TextOps.keywordsTopK(one).collect()
    assert(kw.length == 3 && kw.forall(_.getLong(3) == 0L))
    assert(TextOps.balancedSample(one).count() == 1)
    // 3 distinct tf values -> regression defined; 1 doc -> corr NULL only
    // if variance is zero (it isn't here)
    assert(TextOps.zipfSlope(one).collect()(0).getLong(0) == 3L)
    assert(TextOps.lengthCorr(one).collect()(0).isNullAt(3),
      "single point has zero variance -> NULL")
  }

  test("sub-shingle and empty texts: signature ops skip, scalar ops stay safe") {
    val tiny = docsOf(Seq(
      (1L, "two words", "en", "s", 9L),
      (2L, "", "en", "s", 0L),
      (3L, "one two three four", "en", "s", 18L)))
    // only doc 3 has >= 3 tokens → only it gets signatures
    assert(DedupOps.minhashSignatures(tiny).select("doc_id").distinct()
      .as[Long].collect().toSeq == Seq(3L))
    assert(DedupOps.simhash(tiny).count() == 1)
    // scalar ops cover all rows; empty text → 0 tokens, quality defined (no NaN)
    val tc = TextOps.tokenCounts(tiny).collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(tc(2L) == 0 && tc(1L) == 2)
    val q = TextOps.qualityScore(tiny).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!q.values.exists(_.isNaN))
    // chunking: empty text → no chunks; 2-token text → one short chunk
    val ch = TextOps.chunks(tiny).collect().map(r => (r.getLong(0), r.getString(2)))
    assert(!ch.exists(_._1 == 2L))
    assert(ch.count(_._1 == 1L) == 1)
  }

  test("unicode and punctuation tokenize safely") {
    val uni = docsOf(Seq(
      (1L, "héllo wörld 模型 data!!! data??? the the the a a", "xx", "s", 40L)))
    val toks = TextOps.tokenCounts(uni).collect()(0).getInt(2)
    assert(toks > 0) // ascii alnum runs survive; non-ascii just doesn't tokenize
    assert(TextOps.langId(uni).collect()(0).getString(2) == "en") // 3×the + 2×a
    assert(TextOps.fingerprints(uni).count() == 1)
  }

  test("empty embeddings: similarity ops return empty") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(SimilarityOps.cosineTopK(empty, 10, 5).count() == 0)
    assert(SimilarityOps.embeddingDupPairs(empty, 0.8).count() == 0)
    assert(SimilarityOps.embeddingDupPairsLsh(empty, 0.8).count() == 0)
    assert(SimilarityOps.lshBucketedTopK(empty, 10, 5).count() == 0)
    assert(SimilarityOps.ivfTrainCentroids(empty, 4, 1).count() == 0)
    assert(SimilarityOps.ivfTopK(empty, 4, 10, 5).count() == 0)
  }

  test("asOfJoin with empty right side: left rows survive with NULL asof values") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, 10L, ts("2024-01-01 10:00:00"))).toDF("id", "k", "ts")
    val right = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("k", "ts", "v")
    val got = RelationalOps.asOfJoin(left, right, Seq("k"), "ts", Seq("v")).collect()
    assert(got.length == 1 && got(0).isNullAt(got(0).fieldIndex("asof_v")))
  }

  test("r7 operators on degenerate input: empty, not error") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // banded as-of, empty right: same NULL-fill contract as the plain path
    val left = Seq((1L, 10L, ts("2024-01-01 10:00:00"))).toDF("id", "k", "ts")
    val right = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("k", "ts", "v")
    val banded = RelationalOps.asOfJoinBanded(left, right, Seq("k"), "ts", Seq("v"),
      c => date_trunc("day", c)).collect()
    assert(banded.length == 1 && banded(0).isNullAt(banded(0).fieldIndex("asof_v")))
    // components of empty pairs at both caps (an empty residual fits even 0)
    val emptyPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DedupOps.dupComponents(emptyPairs).count() == 0)
    assert(DedupOps.dupComponents(emptyPairs, localCap = 0).count() == 0)
    // incremental screen: empty delta → empty; empty corpus → delta passes
    val docs = Seq((1L, "the quick brown fox jumps over the lazy old dog")).toDF("doc_id", "text")
    val emptyDelta = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(DedupOps.screenDeltaAgainstCorpus(emptyDelta,
      DedupOps.corpusFingerprintIndex(docs), DedupOps.corpusBandIndex(docs)).count() == 0)
    assert(DedupOps.screenDeltaAgainstCorpus(docs,
      DedupOps.corpusFingerprintIndex(emptyDelta),
      DedupOps.corpusBandIndex(emptyDelta)).count() == 1)
    // int8 quantization on empty embeddings
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val emptyEmb = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(SimilarityOps.quantizeInt8(emptyEmb).count() == 0)
    assert(SimilarityOps.cosineTopKInt8(emptyEmb, 10, 5).count() == 0)
    // distributed fetch with an empty series frame: no files, no error
    val emptySeries = Seq.empty[(String, String)].toDF("series_id", "url")
    val dir = java.nio.file.Files.createTempDirectory("graft-efetch").toString
    assert(Pipelines.fetchSeriesToRaw(identity, emptySeries, dir, distributeAbove = 0).isEmpty)
  }

  test("artifact cache paths are salted by code and params fingerprint") {
    // r10 verdict item 3: a persisted-artifact dir must change when the
    // operator params change, so a stale artifact from an older config can
    // never feed a newer oracle. Same params → stable (cache key works
    // across calls); different params → different dir component.
    assert(SparkEntry.artifactSalt("rounds=10") == SparkEntry.artifactSalt("rounds=10"))
    assert(SparkEntry.artifactSalt("rounds=10") != SparkEntry.artifactSalt("rounds=12"))
    assert(SparkEntry.artifactSalt("") != SparkEntry.artifactSalt("rounds=10"))
  }
}
