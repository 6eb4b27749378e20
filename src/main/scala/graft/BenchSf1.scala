package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Committed sf1 bench for the HEAVY query tier (r13 verdict task 2): the
  * "survives 10×" evidence as a tracked per-round artifact. `expand` grows
  * the sf0.1 fixture 10× with key-shifted copies: FK consistency preserved
  * (order/cust/part/supp keys shift together), documents get a per-copy
  * token suffix so exact duplicates across copies become near-duplicates
  * (the realistic crawl-growth shape, same methodology as the r6
  * df-growth ladder in SCALE.md), embeddings get a per-copy
  * micro-perturbation on dim 0. It then runs the heavy tier under the SAME
  * protocol as `graft.Bench`: pass A (warm-up + timed) ascending, pass B
  * timed descending, suspect tie-break pass C, per-query min. Each row
  * also carries one timed sf0.1 reading and the decade exponent
  * e = log10(sf1/sf0.1), so the artifact is self-contained: a consumer
  * checks "no query above ~2× its ladder-predicted time" as
  * e ≲ 1.3 without reaching for SCALE.md history.
  *
  * Usage: runMain graft.BenchSf1 [query,query,...] — with no argument it
  * runs `HeavyTier` and writes BENCH_sf1.json in the repo root (committed
  * at round close); a subset names any registered queries (a one-query
  * ladder row) and writes BENCH_sf1_subset.json.
  */
object BenchSf1 {
  /** The heavy tier: the bench's slowest ~30 by sf0.1 cost plus recent
    * rounds' additions — the queries whose scale behavior is worth a
    * tracked number. Static so the tier is stable round over round;
    * refreshed at close when the bench top-30 changes. r15: dropped the
    * retired inline `dup_evidence` control (verdict task 4) and added
    * the six r14 top-30 absentees (verdict task 5).
    */
  val HeavyTier: Seq[String] = Seq(
    "graph_append_drift", "dup_evidence_budgeted",
    "dup_evidence_stored", "ivf_append_drift", "ann_recall_graph",
    "ann_recall_pq_opq", "cosine_topk_graph", "cosine_topk_graph_stored",
    "graph_topk_rescored", "hits_customer_part", "corpus_full",
    "dup_components", "bootstrap_ci", "corpus_pipeline",
    "pca_top_component", "abc_xyz_matrix", "wordpiece_holdout", "bpe_oov",
    "classifier_pr_auc", "classifier_gains", "ann_recall",
    "lsh_recall_audit", "jaccard_pairs_prefix", "eigenvector_centrality",
    "containment_pairs", "jaccard_threshold_sweep", "bm25_prf",
    "span_dedup_recall_audit", "unigram_holdout",
    "fuzzy_canonicalize", "containment_pairs_prefix",
    "quantile_sketch_rollup", "classifier_reliability", "jaccard_pairs",
    "jaccard_pairs_unguarded",
    "dup_evidence_incremental", "dup_evidence_staleness",
    "graph_topk_rescored_drift",
    // r15 second session: the delete-maintenance family + the heavier
    // new ANN faces
    "graph_delete_drift", "ivf_delete_drift",
    "dup_evidence_shrunk", "dup_components_shrunk")

  private def expand(spark: SparkSession, srcDir: String, outDir: String,
                     factor: Int = 10): Unit = {
    val done = new java.io.File(s"$outDir/_LADDER_DONE")
    if (done.exists()) return
    def tbl(n: String) = graft.sources.Tables.load(spark, srcDir, n)
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1
    val copies = (0 until factor).map(_.toLong)
    def shifted(df: DataFrame, shifts: Map[String, Long],
                extra: (DataFrame, Long) => DataFrame = (d, _) => d): DataFrame =
      copies.map { k =>
        val s = shifts.foldLeft(df) { case (acc, (c, m)) =>
          acc.withColumn(c, col(c) + lit(k * m))
        }
        extra(s, k)
      }.reduce(_ unionByName _)

    val (cust, ord, li, part, supp) =
      (tbl("customer"), tbl("orders"), tbl("lineitem"), tbl("part"), tbl("supplier"))
    val (mc, mo, mp, ms) = (maxOf(cust, "c_custkey"), maxOf(ord, "o_orderkey"),
      maxOf(part, "p_partkey"), maxOf(supp, "s_suppkey"))
    new java.io.File(outDir).mkdirs()
    shifted(cust, Map("c_custkey" -> mc))
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    shifted(ord, Map("o_orderkey" -> mo, "o_custkey" -> mc))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    shifted(li, Map("l_orderkey" -> mo, "l_partkey" -> mp, "l_suppkey" -> ms))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    shifted(part, Map("p_partkey" -> mp))
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")
    shifted(supp, Map("s_suppkey" -> ms))
      .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")
    Seq("region", "nation").foreach(n =>
      tbl(n).write.mode("overwrite").parquet(s"$outDir/$n.parquet"))
    tbl("events").write.mode("overwrite").parquet(s"$outDir/events.parquet")
    val docs = tbl("documents")
    val md = maxOf(docs, "doc_id")
    // copy 0 stays byte-identical to the source corpus (no suffix) so the
    // sf0.1-vs-sf1 comparison is a strict superset expansion for document
    // queries (r12 advice); only the shifted copies get the near-dup suffix
    shifted(docs, Map("doc_id" -> md), (d, k) =>
      if (k == 0) d
      else d.withColumn("text",
        concat(col("text"), lit(s" copy$k v"), pmod(col("doc_id"), lit(97L)))))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = tbl("embeddings")
    val mv = maxOf(emb, "vec_id")
    shifted(emb, Map("vec_id" -> mv), (d, k) =>
      d.withColumn("embedding", expr(
        s"transform(embedding, (x, i) -> if(i = 0, x + cast($k as float) * 0.0001f, x))")))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    done.createNewFile(): Unit
  }

  def main(args: Array[String]): Unit = {
    val only = Bench.parseArgs(args.toSeq, SparkEntry.queries.keySet).fold(Verify.exitWith, identity)
    val tier = only.fold(HeavyTier)(_.toSeq.sorted)
    val spark = GraftSession.getOrCreate("graft-bench-sf1")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1 = "/tmp/graft_sf1_ladder"
    expand(spark, src, sf1)
    def once(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench-sf1] $name failed: $e"); -1.0
      } finally spark.catalog.clearCache()
    }
    def timedPass(pass: String, names: Seq[String], dir: String,
                  warmup: Boolean): Map[String, Double] =
      names.map { n =>
        System.err.println(s"[bench-sf1] $pass $n")
        if (warmup) once(n, dir)
        n -> once(n, dir)
      }.toMap
    // one clean sf0.1 reading per query (after a warm-up) — the exponent
    // denominator, measured in THIS JVM so JIT state matches the sf1 runs
    val base01 = timedPass("base-sf0.1", tier, src, warmup = true)
    val passA = timedPass("A", tier, sf1, warmup = false)
    val passB = timedPass("B", tier.reverse, sf1, warmup = false)
    def disagree(a: Double, b: Double): Boolean =
      a >= 0 && b >= 0 && math.max(a, b) > 0.5 && math.max(a, b) > 3.0 * math.min(a, b)
    val suspects0 = tier.filter(n => disagree(passA(n), passB(n)))
    val passC =
      if (suspects0.isEmpty) Map.empty[String, Double]
      else timedPass("C", suspects0, sf1, warmup = false)
    def fmt4(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    def full(v: Double): String = if (v < 0) "null" else fmt4(v)
    def samplesOf(n: String): Seq[Double] = (Seq(passA(n), passB(n)) ++ passC.get(n)).filter(_ >= 0)
    val bestOf: Map[String, Double] = tier.map { n =>
      val s = samplesOf(n)
      n -> (if (s.isEmpty) -1.0 else s.min)
    }.toMap
    val eOf: Map[String, Double] = tier.flatMap { n =>
      val b = bestOf(n)
      if (b > 0 && base01(n) > 0) Some(n -> math.log10(b / base01(n))) else None
    }.toMap
    val rows = tier.map { n =>
      val samples = samplesOf(n)
      // max-gated sub-half-second escape, same rationale as Bench.scala:
      // a tiny outlier min outvoted by two large samples must stay suspect
      val corroborated = samples.nonEmpty &&
        (samples.max <= 0.5 || samples.count(_ <= 3.0 * samples.min) >= 2)
      val susp = samples.size >= 2 && !corroborated
      // format the exponent directly: `full`'s v < 0 → null convention is
      // the FAILED-TIMING sentinel, and reusing it here silently swallowed
      // legitimate NEGATIVE exponents (sf1 faster than sf0.1 — constant
      // artifact-replay paths) as null in the committed artifact
      val e = eOf.get(n).map(fmt4).getOrElse("null")
      "\"" + n + "\":{\"sec_sf01\":" + full(base01(n)) +
        ",\"sec_sf1\":" + full(bestOf(n)) +
        ",\"pass_a\":" + full(passA(n)) + ",\"pass_b\":" + full(passB(n)) +
        passC.get(n).map(c => ",\"pass_c\":" + full(c)).getOrElse("") +
        ",\"e\":" + e + ",\"suspect\":" + susp + "}"
    }.mkString("{", ",", "}")
    val nFailed = tier.count(n => passA(n) < 0 && passB(n) < 0)
    // Cross-round regression gate (r15 verdict task 7): Bench self-diffs
    // against the prior BENCH_local.json, but BENCH_sf1.json did not — a
    // 3× jump in a heavy-tier reading (or a silent drift in a decade
    // exponent) would ship unflagged. Read the PRIOR committed artifact
    // before this run overwrites it and apply the same >3×-above-0.5 s
    // rule to sec_sf1, plus a drift check on e: |Δe| > 0.30 decades means
    // the sf1/sf0.1 ratio itself moved ~2× on unchanged code — exactly the
    // scale-shape change the artifact exists to track. Regex parse of our
    // own fixed format (no JSON dependency), as Bench.scala does.
    val priorEntries: Map[String, (Double, Option[Double])] =
      if (only.nonEmpty) Map.empty // subset runs have no comparable prior
      else scala.util.Try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_sf1.json")), "UTF-8")
        """"([A-Za-z0-9_]+)":\{([^{}]*)\}""".r.findAllMatchIn(txt).flatMap { m =>
          val body = m.group(2)
          val sec = """"sec_sf1":([0-9.]+)""".r.findFirstMatchIn(body)
            .map(_.group(1).toDouble)
          val e = """"e":(-?[0-9.]+)""".r.findFirstMatchIn(body)
            .map(_.group(1).toDouble)
          sec.map(s => m.group(1) -> (s, e))
        }.toMap
      }.getOrElse(Map.empty)
    val regressions = tier.collect {
      case n if bestOf(n) > 0.5 &&
        priorEntries.get(n).exists { case (p, _) => p > 0 && bestOf(n) > 3.0 * p } =>
        n -> (priorEntries(n)._1, bestOf(n))
    }
    val eDrift = tier.collect {
      case n if eOf.contains(n) &&
        priorEntries.get(n).flatMap(_._2).exists(pe => math.abs(eOf(n) - pe) > 0.30) =>
        n -> (priorEntries(n)._2.get, eOf(n))
    }
    val regStr = regressions.map { case (n, (p, v)) =>
      "\"" + n + "\":{\"prior\":" + full(p) + ",\"now\":" + full(v) + "}"
    }.mkString("{", ",", "}")
    val driftStr = eDrift.map { case (n, (p, v)) =>
      "\"" + n + "\":{\"prior_e\":" + fmt4(p) + ",\"now_e\":" + fmt4(v) + "}"
    }.mkString("{", ",", "}")
    val json = s"""{"tier":"heavy","n_queries":${tier.size},"n_failed":$nFailed,""" +
      s""""n_regressions":${regressions.size},"regressions":$regStr,""" +
      s""""n_e_drift":${eDrift.size},"e_drift":$driftStr,""" +
      s""""expand_factor":10,"src_sf":0.1,"queries":$rows}"""
    println(json)
    // subset runs (diagnosis) must not clobber the committed full-tier
    // artifact — the same guard Bench.scala applies to BENCH_metric.json/
    // BENCH_local.json (r14: a one-query diagnostic overwrote the
    // committed metric line)
    val outName = if (only.isEmpty) "BENCH_sf1.json" else "BENCH_sf1_subset.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outName),
      json + "\n")
    spark.stop()
  }
}
