package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 spot-ladder for the heavy query tier (round-12 verdict task): the
  * sf0.1 fixture expanded 10× with key-shifted copies — FK consistency
  * preserved (order/cust/part/supp keys shift together), documents get a
  * per-copy token suffix so exact duplicates across copies become
  * near-duplicates (the realistic crawl-growth shape, same methodology as
  * the r6 df-growth ladder in SCALE.md), embeddings get a per-copy
  * micro-perturbation on dim 0. Each requested registered query then runs through the SAME
  * noop-write harness at sf0.1 and at the expanded sf1, printing both
  * times and the decade exponent e = log10(t1/t01) — e ≈ 1 is linear
  * scaling, e > 1.2 flags a superlinear stage.
  *
  * Usage: runMain graft.Sf1Ladder [comma-separated query names]
  */
object Sf1Ladder {
  private val DefaultQueries =
    "pca_top_component,pca_components,hits_customer_part,bootstrap_ci," +
    "corpus_full,classifier_pr_auc,abc_xyz_matrix,dup_components," +
    "jaccard_pairs,ann_recall," +
    // tranche 3 (r13): the r12/r13 heavy tier, previously unladdered
    "ivf_append_drift,ann_recall_pq_opq,unigram_vocab,unigram_holdout," +
    "cosine_topk_graph,cosine_topk_graph_stored,ann_recall_graph," +
    "graph_append_drift,span_dedup_recall_audit,dup_evidence," +
    "dup_evidence_budgeted"

  def expand(spark: SparkSession, srcDir: String, outDir: String,
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
    val names = args.headOption.getOrElse(DefaultQueries).split(",").toSeq
    val spark = GraftSession.getOrCreate("graft-sf1-ladder")
    val src = "/root/testdata/sf0.1"
    val sf1 = "/tmp/graft_sf1_ladder"
    expand(spark, src, sf1)
    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      finally spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { n =>
      run(n, src) // warm-up (JIT + codegen) on the small side
      val t01 = run(n, src)
      val t1 = run(n, sf1)
      val e = math.log10(t1 / t01)
      println(f"[sf1-ladder] $n%-24s sf0.1=$t01%7.2f s  sf1=$t1%8.2f s  e=$e%5.2f")
    }
    spark.stop()
  }
}
