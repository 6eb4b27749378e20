package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SimilarityOps

/** Binary (sign) quantization tier + matryoshka truncation audit.
  *
  * The recall VALUES on the isotropic fixture corpus are the oracle gate's
  * job (`ann_recall_binary`, `binary_shortlist_sweep`, `matryoshka_recall`);
  * these specs pin the structural invariants that hold on ANY corpus:
  * packing layout, Hamming-zero for sign-identical vectors, the
  * rescored ≥ Hamming-only dominance, shortlist-capture identity, nested-cut
  * monotonicity, and full-width truncation as the identity.
  */
class BinaryAnnSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic 64-dim pseudo-random corpus: component (i, j) =
    * sin(1 + i * 64 + j) — fixed, engine-independent, no Math.random. */
  private def corpus(n: Int): DataFrame =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(64)(j => math.sin(1.0 + i * 64 + j).toFloat), i % 3)
    }.toDF("vec_id", "embedding", "label")

  test("packSignBits: 64 dims -> 2 non-negative words, bits match signs") {
    val v = Seq((0L, Array.tabulate(64)(j => if (j % 3 == 0) 1.0f else -1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val sig = SimilarityOps.packSignBits(v).collect()(0).getSeq[Long](1)
    assert(sig.length == 2, s"64 dims must pack to 2 words, got ${sig.length}")
    assert(sig.forall(w => w >= 0L), "bits 0..31 only — words stay non-negative")
    for (j <- 0 until 64) {
      val bit = (sig(j / 32) >> (j % 32)) & 1L
      assert(bit == (if (j % 3 == 0) 1L else 0L), s"dim $j sign bit wrong")
    }
  }

  test("an exact duplicate has Hamming 0 and rescores to rank 1, score 1.0") {
    val base = Array.tabulate(64)(j => math.sin(1.0 + j).toFloat)
    val emb = (Seq((0L, base, 0), (7L, base, 0)) ++
      (1 until 7).map(i =>
        (i.toLong, Array.tabulate(64)(j => math.sin(100.0 + i * 64 + j).toFloat), 1)))
      .toDF("vec_id", "embedding", "label")
    val top = SimilarityOps.cosineTopKBinaryRescored(emb, nQueries = 1, k = 3, shortlist = 5)
      .orderBy("rank").collect()
    assert(top(0).getLong(1) == 7L && top(0).getDouble(2) == 1.0,
      s"duplicate must rescore to rank 1 at score 1.0: ${top.mkString(",")}")
  }

  test("rescored recall dominates Hamming-only recall per query, and equals " +
       "brute∩shortlist capture (the sweep identity)") {
    val emb = corpus(60).cache()
    val brute = SimilarityOps.cosineTopK(emb, 5, 5)
      .select(col("q_id"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val sig = SimilarityOps.packSignBits(emb)
    val ham5 = SimilarityOps.hammingShortlist(sig, 5, 5)
      .select(col("q_id"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val sl20 = SimilarityOps.hammingShortlist(sig, 5, 20)
      .select(col("q_id"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rs = SimilarityOps.cosineTopKBinaryRescored(emb, 5, 5)
      .select(col("q_id"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    for (q <- 0L until 5L) {
      val hamHits = (brute(q) intersect ham5(q)).size
      val rsHits = (brute(q) intersect rs(q)).size
      val capture = (brute(q) intersect sl20(q)).size
      assert(rsHits >= hamHits, s"q=$q: rescored $rsHits < ham-only $hamHits")
      assert(rsHits == capture,
        s"q=$q: rescored recall $rsHits must equal shortlist capture $capture")
    }
  }

  test("binaryShortlistSweep: recall is monotone in width; a corpus-covering " +
       "width reaches 1.0") {
    val emb = corpus(40).cache()
    val sweep = SimilarityOps.binaryShortlistSweep(emb, nQueries = 4, k = 5,
      widths = Seq(5, 10, 39)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val byQ = sweep.groupBy(_._2)
    for ((q, rows) <- byQ) {
      val ordered = rows.sortBy(_._1).map(_._3)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b },
        s"q=$q: recall not monotone in width: ${ordered.mkString(",")}")
      assert(ordered.last == 1.0,
        s"q=$q: width 39 covers all 39 candidates — recall must be 1.0")
    }
  }

  test("filteredAnnPolicy: post-filter survivors are a PREFIX of the " +
       "pre-filter truth — recall_post == n_post / n_true; an all-match " +
       "filter recovers full recall") {
    val emb = corpus(50).cache()
    val got = SimilarityOps.filteredAnnPolicy(emb, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 5)
    val truth = SimilarityOps.cosineTopKFiltered(emb, 5, 5)
      .select(col("q_id")).groupBy("q_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((q, nPost, recall) <- got) {
      val nTrue = truth(q)
      assert(math.abs(recall - math.round(nPost.toDouble / nTrue * 100) / 100.0) < 1e-9,
        s"q=$q: prefix identity broken — recall $recall vs n_post/n_true $nPost/$nTrue")
    }
    // single-label corpus: the filter matches everything → post-filter
    // top-5 of top-20 IS the unfiltered top-5 → full recall, no deficit
    val oneLabel = corpus(50).withColumn("label", lit(0)).cache()
    val full = SimilarityOps.filteredAnnPolicy(oneLabel, nQueries = 5, k = 5).collect()
    assert(full.forall(r => r.getLong(1) == 5L && r.getDouble(2) == 1.0),
      s"all-match filter must return k with recall 1.0: ${full.mkString(",")}")
  }

  test("graphDeleteDrift: the zero-fraction row degenerates to the plain " +
       "tier (tomb == hard, gain 0, n_alive = n); n_alive follows the " +
       "vec_id arithmetic") {
    val emb = corpus(60).cache()
    val z = SimilarityOps.graphDeleteDrift(emb, delTenths = Seq(0),
      nQueries = 4, k = 3).collect()(0)
    assert(z.getLong(0) == 0L && z.getLong(1) == 60L,
      s"zero fraction: del_pct 0, n_alive 60 — got $z")
    assert(z.getLong(2) == z.getLong(3) && z.getLong(3) == z.getLong(4) &&
      z.getLong(5) == 0L && z.getLong(6) == 0L,
      s"no deletes → all three arms are the plain tier: $z")
    val r = SimilarityOps.graphDeleteDrift(emb, delTenths = Seq(2),
      nQueries = 4, k = 3).collect()(0)
    val expected = 4 + (4 until 60).count(i => i % 10 >= 2)
    assert(r.getLong(0) == 20L && r.getLong(1) == expected,
      s"n_alive must be the exact survivor count $expected: $r")
  }

  test("ivfDeleteDrift: the zero-fraction row degenerates (stale == fresh " +
       "centroids on the same corpus → drift 0); n_alive follows the " +
       "vec_id arithmetic") {
    val emb = corpus(60).cache()
    val z = SimilarityOps.ivfDeleteDrift(emb, delTenths = Seq(0),
      nQueries = 4, k = 3).collect()(0)
    assert(z.getLong(0) == 0L && z.getLong(1) == 60L, s"zero fraction: $z")
    assert(z.getLong(2) == z.getLong(3) && z.getLong(4) == 0L,
      s"identical corpus → identical train → drift 0: $z")
    val r = SimilarityOps.ivfDeleteDrift(emb, delTenths = Seq(2),
      nQueries = 4, k = 3).collect()(0)
    val expected = 4 + (4 until 60).count(i => i % 10 >= 2)
    assert(r.getLong(0) == 20L && r.getLong(1) == expected,
      s"n_alive must be the exact survivor count $expected: $r")
  }

  test("graphDeleteRepair: a deleted waypoint is bridged (a→d→b becomes " +
       "a↔b) and no deleted endpoint survives") {
    val emb = Seq(
      (0L, Array(1.0f, 0.1f) ++ Array.fill(62)(0.0f), 0),
      (1L, Array(1.0f, 0.5f) ++ Array.fill(62)(0.0f), 0),
      (2L, Array(1.0f, 0.9f) ++ Array.fill(62)(0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val deleted = Seq(Tuple1(1L)).toDF("vec_id")
    val rep = SimilarityOps.graphDeleteRepair(emb, edges, deleted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rep == Set((0L, 2L), (2L, 0L)),
      s"repair must bridge across the deleted waypoint, symmetrized: $rep")
  }

  test("hammingShortlist / topKOverQuantized: the bounded TopKAggregator " +
       "selection equals the row_number-window formulation row for row — " +
       "ranks, distances and tie-breaks included (r16 task 1)") {
    import org.apache.spark.sql.expressions.Window
    val emb = corpus(80).cache()
    // Hamming: ties are the NORM at 64 bits, so this corpus exercises the
    // vec_id tie-break on nearly every rank boundary
    val sig = SimilarityOps.packSignBits(emb).cache()
    val qs = sig.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("sig").as("q_sig"))
    val ham = sig.join(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ham",
        expr("aggregate(zip_with(sig, q_sig, (a, b) -> bit_count(a ^ b)), 0, (acc, x) -> acc + x)"))
    val wHam = Window.partitionBy("q_id").orderBy(col("ham").asc, col("vec_id"))
    val refHam = ham
      .select(col("q_id"), col("vec_id"), col("ham"),
        row_number().over(wHam).as("srank"))
      .filter(col("srank") <= 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val gotHam = SimilarityOps.hammingShortlist(sig, 5, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(gotHam == refHam,
      s"aggregated shortlist diverges from the window reference: " +
        s"missing=${refHam -- gotHam} extra=${gotHam -- refHam}")
    // int8: round-4 scores collide too, same tie-break contract
    val q8 = SimilarityOps.quantizeInt8(emb).cache()
    val q8qs = q8.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
    val scored = q8.select(col("vec_id"), col("qv")).join(broadcast(q8qs))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score",
        round(graft.functions.GraftFunctions.cosineSim(col("qv"), col("q_qv")), 4))
    val wSc = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))
    val refInt8 = scored
      .select(col("q_id"), col("vec_id"), col("score"),
        row_number().over(wSc).as("rank"))
      .filter(col("rank") <= 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val gotInt8 = SimilarityOps.topKOverQuantized(q8, 5, 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(gotInt8 == refInt8,
      s"aggregated int8 top-k diverges from the window reference: " +
        s"missing=${refInt8 -- gotInt8} extra=${gotInt8 -- refInt8}")
  }

  test("matryoshkaRecall at full width is the identity (recall 1.0 everywhere)") {
    val emb = corpus(40).cache()
    val rec = SimilarityOps.matryoshkaRecall(emb, nQueries = 4, k = 5, dims = Seq(64))
      .collect()
    assert(rec.length == 4)
    assert(rec.forall(_.getDouble(2) == 1.0),
      s"64-dim truncation of 64-dim vectors must agree with brute: ${rec.mkString(",")}")
  }

  test("perQueryRecall: |brute ∩ approx| / k per query at 2 dp, and a query " +
       "the approximate tier missed reads 0.0, not absent") {
    // k = 3: q0's approx holds its whole brute top-3 (plus a stray), q1
    // hits 2 of 3 (0.666… rounds to 0.67), q2 is absent from approx
    val brute = Seq((0L, 10L), (0L, 11L), (0L, 12L), (1L, 20L), (1L, 21L), (1L, 22L),
        (2L, 30L), (2L, 31L), (2L, 32L))
      .toDF("q_id", "vec_id")
    val approx = Seq((0L, 12L, 1), (0L, 10L, 2), (0L, 11L, 3), (0L, 99L, 4),
        (1L, 22L, 1), (1L, 98L, 2), (1L, 20L, 3))
      .toDF("q_id", "vec_id", "rank")
    val got = SimilarityOps.perQueryRecall(brute, approx, 3)
    assert(got.columns.toSeq == Seq("q_id", "recall"))
    assert(got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(0L -> 1.0, 1L -> 0.67, 2L -> 0.0))
  }
}
