package graft

import java.nio.file.{Files, Path}

/** `BenchSf1.expand` reuses an expansion only when it was made from the
  * same source dir by the same factor. */
class BenchSf1Spec extends SparkSpec {
  import spark.implicits._

  /** A source dir holding every table `expand` reads, `n` rows each. */
  private def source(root: Path, name: String, n: Int): String = {
    val dir = root.resolve(name).toString
    val ids = (1L to n.toLong)
    def write(df: org.apache.spark.sql.DataFrame, table: String): Unit =
      df.write.parquet(s"$dir/$table.parquet")
    write(ids.toDF("c_custkey"), "customer")
    write(ids.map(i => (i, i)).toDF("o_orderkey", "o_custkey"), "orders")
    write(ids.map(i => (i, i, i)).toDF("l_orderkey", "l_partkey", "l_suppkey"), "lineitem")
    write(ids.toDF("p_partkey"), "part")
    write(ids.toDF("s_suppkey"), "supplier")
    write(ids.toDF("r_regionkey"), "region")
    write(ids.toDF("n_nationkey"), "nation")
    write(ids.map(i => (i, new java.sql.Timestamp(i * 1000L))).toDF("user_id", "ts"), "events")
    write(ids.map(i => (i, s"doc $i of $name")).toDF("doc_id", "text"), "documents")
    write(ids.map(i => (i, Seq(i.toFloat, 0f))).toDF("vec_id", "embedding"), "embeddings")
    dir
  }

  test("expand: a second source or factor expands again into the same dir; " +
       "the same source and factor reuse the expansion") {
    val root = Files.createTempDirectory("graft-expand")
    val (a, b) = (source(root, "a", 3), source(root, "b", 5))
    val out = root.resolve("out").toString
    def nDocs: Long = graft.sources.Tables.load(spark, out, "documents").count()
    BenchSf1.expand(spark, a, out, 2)
    assert(nDocs == 6L)
    BenchSf1.expand(spark, b, out, 2)
    assert(nDocs == 10L, "an expansion of another source must not be reused")
    val docsFile = Path.of(out, "documents.parquet")
    val written = Files.getLastModifiedTime(docsFile)
    BenchSf1.expand(spark, b, out, 2)
    assert(Files.getLastModifiedTime(docsFile) == written,
      "the same source and factor reuse the expansion")
    BenchSf1.expand(spark, b, out, 3)
    assert(nDocs == 15L, "an expansion by another factor must not be reused")
  }
}
