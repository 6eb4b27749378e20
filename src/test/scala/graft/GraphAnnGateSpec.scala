package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilarityOps

/** The graph-ANN tier's scale-contract gate (r12 verdict task 3): recall@5
  * vs brute must hold a pinned floor at ALL THREE fixture SFs under the
  * shipping knob rule (beam = 6·lg n, seeds = 2·lg n, rounds = 3,
  * graphK = 16). r12 shipped fixed knobs whose recall decayed
  * 0.50/0.34/0.22 across the SFs; the rule measured 0.98/1.00/0.96
  * (r13 knob probe, SCALE.md r19), and this spec fails the suite if either the rule
  * or the graph build regresses below 0.90 anywhere on the ladder —
  * recall-vs-scale is a structural property here, like the plan shapes
  * in PlanShapeSpec.
  */
class GraphAnnGateSpec extends SparkSpec {

  private val floor = 0.90

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"graph-ANN scale contract: mean recall@5 >= $floor at $sf") {
      val dir = s"/root/testdata/$sf"
      val emb = graft.sources.Tables.load(spark, dir, "embeddings").persist()
      try {
        val brute = SimilarityOps.cosineTopK(emb, 10, 5)
          .select(col("q_id"), col("vec_id"))
        val hits = SimilarityOps.graphAnnTopK(emb, 10, 5)
          .select(col("q_id"), col("vec_id")).withColumn("hit", lit(1L))
        val recall = brute.join(hits, Seq("q_id", "vec_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1))).as("r"))
          .head().getDouble(0)
        assert(recall >= floor,
          s"graph-ANN recall@5 $recall below contract floor $floor at $sf")
      } finally {
        emb.unpersist()
        spark.catalog.clearCache()
      }
    }

  test("knob rule scales: beam/seeds grow with lg n, rounds and graphK fixed") {
    val (b1, r1, g1, s1) = SimilarityOps.graphKnobs(500L)
    val (b2, r2, g2, s2) = SimilarityOps.graphKnobs(2000L)
    val (b3, r3, g3, s3) = SimilarityOps.graphKnobs(1L << 40)
    assert((b1, s1) == ((54, 18)) && (b2, s2) == ((66, 22)) && (b3, s3) == ((246, 82)))
    assert(r1 == r2 && r2 == r3 && g1 == g2 && g2 == g3)
    // exact integer log2: no float-log edge case at powers of two
    assert(SimilarityOps.graphKnobs(512L)._1 == 60 &&
      SimilarityOps.graphKnobs(511L)._1 == 54)
  }

  test("beam-search output ranks on the ROUND-4 score with vec_id " +
       "tie-break — a round-6 winner with a larger id loses a round-4 tie " +
       "(the oracle's gtop ordering, r14 ADVICE)") {
    import spark.implicits._
    // node 2 and node 3 tie at round-4 (both 0.1234) but node 3 wins at
    // round-6 (0.123448 > 0.123412): a round-6-ranked output would order
    // 3 before 2; the contract (and the DuckDB gtop CTE) orders 2 first
    def unit(c: Double) = Array(c.toFloat, math.sqrt(1 - c * c).toFloat)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), // the query
      (1L, unit(0.9)),
      (2L, unit(0.123412)),
      (3L, unit(0.123448))).toDF("vec_id", "embedding")
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val got = SimilarityOps.graphAnnTopKOver(emb, edges, nQueries = 1, k = 3,
        beam = 8, rounds = 2, entrySeeds = 2)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getInt(3), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 1), (2L, 2), (3L, 3)),
      s"round-4 tie at the boundary must break on vec_id: ${got.mkString(", ")}")
    assert(got(1)._3 == 0.1234 && got(2)._3 == 0.1234,
      s"both boundary candidates surface the round-4 score: ${got.mkString(", ")}")
  }

  test("multi-arm beam chain: each arm returns exactly what a one-arm call " +
       "over its graph returns, and an arm with no edges returns its scored " +
       "entry seeds") {
    import spark.implicits._
    // two direction clusters with distinguishing noise (distinct scores);
    // the arms share corpus, queries and knobs and differ in the graph:
    // the descent build, its intra-cluster half, and no edges at all
    val emb = (0 until 40).map { i =>
      val e = Array.fill(8)(0.0f)
      e((i % 2) * 4) = 1.0f
      e(1) = 0.01f * ((i * 7) % 11); e(3) = 0.01f * ((i * 5) % 13)
      (i.toLong, e, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val full = SimilarityOps.symmetrize(SimilarityOps.knnGraphDescent(emb, 8))
      .localCheckpoint()
    val arms = Seq("full" -> full,
      "intra" -> full.filter(col("src") % 2 === col("dst") % 2),
      "none" -> Seq.empty[(Long, Long)].toDF("src", "dst"))
    val (nQueries, k, beam, rounds, seeds) = (6, 5, 4, 2, 4)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSet
    val chained = SimilarityOps.graphAnnSearchArms(emb, arms, nQueries, k, beam,
      rounds, seeds).localCheckpoint()
    assert(chained.select("arm").distinct().as[String].collect().toSet == arms.map(_._1).toSet)
    for ((arm, g) <- arms) {
      val alone = rows(SimilarityOps.graphAnnTopKOver(emb, g, nQueries, k, beam,
        rounds, seeds))
      assert(rows(chained.filter(col("arm") === arm).drop("arm")) == alone,
        s"arm $arm differs from its one-arm call")
    }
    // no edges: the beam never expands, so each query gets exactly the
    // entry seeds other than itself (k covers them all), ranked by score
    val seedsOnly = rows(chained.filter(col("arm") === "none").drop("arm"))
    val expected = for (q <- 0L until nQueries; v <- 0L until seeds if v != q) yield (q, v)
    assert(seedsOnly.map(r => (r._1, r._2)) == expected.toSet,
      s"edgeless arm returns only its entry seeds: $seedsOnly")
    seedsOnly.groupBy(_._1).values.foreach { q =>
      val ranked = q.toSeq.sortBy(_._4)
      assert(ranked.map(_._4) == (1 to ranked.size) &&
        ranked.map(_._3) == ranked.map(_._3).sorted(Ordering[Double].reverse),
        s"edgeless arm ranks its seeds by score: $ranked")
    }
  }

  test("graphTopKRescored: the 20-wide shortlist + exact rescore never " +
       "recalls worse than the plain 5-beam graph tier, and its scores " +
       "are exact round-4 cosines of the brute frame") {
    val dir = "/root/testdata/sf0.01"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings").persist()
    try {
      val brute = SimilarityOps.cosineTopK(emb, 10, 5)
        .select(col("q_id"), col("vec_id"), col("score"))
      def recallOf(df: org.apache.spark.sql.DataFrame): Double =
        brute.select(col("q_id"), col("vec_id"))
          .join(df.select(col("q_id"), col("vec_id")).withColumn("hit", lit(1L)),
            Seq("q_id", "vec_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1))).as("r"))
          .head().getDouble(0)
      val plain = SimilarityOps.graphAnnTopK(emb, 10, 5)
      val rescored = SimilarityOps.graphTopKRescored(emb, 10, 5)
      assert(recallOf(rescored) >= recallOf(plain),
        "rescored stack must not recall below the plain graph tier")
      // every rescored hit that IS a true neighbor carries the brute score
      val mismatch = rescored.join(brute.withColumnRenamed("score", "bscore"),
        Seq("q_id", "vec_id")).filter(col("score") =!= col("bscore")).count()
      assert(mismatch == 0L, s"$mismatch rescored rows disagree with brute scores")
    } finally { emb.unpersist(); spark.catalog.clearCache() }
  }

  test("graphAppendDrift: stale-attach recall never exceeds fresh rebuild " +
       "by contract, rows carry the three growth factors") {
    val dir = "/root/testdata/sf0.01"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val got = SimilarityOps.graphAppendDrift(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet == Set(1L, 5L, 10L), got.toString)
    got.foreach { case (f, (stale, fresh, drift)) =>
      assert(drift == fresh - stale, s"factor $f: drift must be fresh-stale")
      assert(stale >= 0L && stale <= 1000000L && fresh >= 0L && fresh <= 1000000L)
    }
    spark.catalog.clearCache()
  }
}
