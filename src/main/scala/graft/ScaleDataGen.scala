package graft

import org.apache.spark.sql.functions._

/** Stress-corpus generator for the scaling-exponent measurements in
  * SCALE.md: N vocabulary-disjoint shards, each structurally identical to
  * the source `documents` table.
  *
  * Shard k ≥ 1 offsets doc_id by k·(max(doc_id)+1) and suffixes every
  * whitespace-token with the alphanumeric tag `q<k>`. Under the engine's
  * `[a-z0-9]+` tokenizer that is (for clean tokens) a BIJECTIVE token
  * relabeling, so within-shard Jaccard/MinHash/SimHash similarity is
  * exactly preserved — every dup family recurs once per shard — while
  * cross-shard similarity is zero (disjoint vocabularies). Expected
  * output volume (dup pairs, components, survivors) therefore scales
  * exactly ×N, which is what makes runtime exponents attributable to the
  * ENGINE rather than to data-structure drift. Known deviation from a
  * real ×N corpus: no cross-shard near-dups exist, so LSH bucket sizes
  * stay flat instead of creeping — documented next to the measurements.
  *
  * Usage: runMain graft.ScaleDataGen [srcSfDir] [outDir] [copies]
  */
object ScaleDataGen {
  /** `(srcSfDir, outDir, copies)` of the arguments, or the message the
    * main exits with: at most three arguments, `copies` a positive integer.
    */
  def parseArgs(args: Seq[String]): Either[String, (String, String, Int)] =
    if (args.size > 3) Left("usage: graft.ScaleDataGen [srcSfDir] [outDir] [copies]")
    else args.lift(2).fold[Either[String, Int]](Right(10)) { c =>
      c.toIntOption.filter(_ > 0).toRight(s"copies must be a positive integer, got '$c'")
    }.map(copies => (args.headOption.getOrElse("/root/testdata/sf0.1"),
      args.lift(1).getOrElse("/tmp/graft_sf1"), copies))

  def main(args: Array[String]): Unit = {
    val (src, out, copies) = parseArgs(args.toSeq).fold(Verify.exitWith, identity)
    val spark = GraftSession.getOrCreate("graft-scale-gen")
    val docs = graft.sources.Tables.load(spark, src, "documents")
    // Shard stride from the data, not a constant: a fixed 10⁶ would make
    // shard id ranges overlap for any source corpus with doc_id ≥ 10⁶,
    // silently merging shards and corrupting the exact-×N output
    // invariant every SCALE.md exponent relies on.
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val shards = (0 until copies).map { k =>
      if (k == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(k * stride))
        .withColumn("text",
          expr(s"array_join(transform(split(text, ' '), t -> concat(t, 'q$k')), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    shards.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // Embeddings stress shards (the ANN ×N corpus): shard k rotates every
    // vector's components by k mod dim positions. Rotation is an orthogonal
    // transform — norms and the isotropic coordinate distribution are
    // preserved exactly (bucket balance and centroid geometry stay
    // representative) — while decorrelating shard k from shard 0, so the
    // corpus grows ×N without stacking exact duplicates under the fixed
    // query set (queries stay vec_id < 10, i.e. shard 0). Same 32-file
    // layout discipline as documents.
    if (new java.io.File(s"$src/embeddings.parquet").exists) {
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val strideV = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
      val eShards = (0 until copies).map { k =>
        val r = k % dim
        if (r == 0 && k == 0) emb
        else emb
          .withColumn("vec_id", col("vec_id") + lit(k * strideV))
          .withColumn("embedding",
            expr(s"concat(slice(embedding, ${r + 1}, $dim - $r), slice(embedding, 1, $r))"))
      }
      eShards.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    spark.stop()
  }
}
