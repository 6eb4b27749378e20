package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.DedupOps
import graft.sources.Tables

/** Results must not depend on the physical layout. AQE sizes cached and
  * checkpointed frames from the data it observes, so the partition count
  * an operator sees inside a fixpoint varies with data and settings; the
  * rows may not. Each entry of `queries` runs
  * over sf0.001 at every shuffle-partition count in `partitionCounts`, and
  * the sorted rows must be identical. Extend `queries` to widen the check.
  */
class LayoutInvarianceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val partitionCounts = Seq(1, 7, 256)

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dupComponents(minhashCandidatePairs)" -> ((s, d) =>
      DedupOps.dupComponents(DedupOps.minhashCandidatePairs(Tables.load(s, d, "documents")))),
    "dupComponents(minhashCandidatePairs, localCap = 0)" -> ((s, d) =>
      DedupOps.dupComponents(DedupOps.minhashCandidatePairs(Tables.load(s, d, "documents")),
        localCap = 0)),
    "runCorpusPipelineFull" -> ((s, d) =>
      Pipelines.runCorpusPipelineFull(Tables.load(s, d, "documents"))))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  for ((name, build) <- queries)
    test(s"$name: identical rows at shuffle.partitions ${partitionCounts.mkString(", ")}") {
      val key = "spark.sql.shuffle.partitions"
      val prior = spark.conf.get(key)
      val results = try {
        partitionCounts.map { n =>
          spark.conf.set(key, n.toString)
          try n -> sortedRows(build(spark, sf))
          finally spark.catalog.clearCache()
        }
      } finally spark.conf.set(key, prior)
      val (n0, base) = results.head
      assert(base.nonEmpty, s"$name returned no rows at $n0 partitions")
      for ((n, rows) <- results.tail) {
        assert(rows.size == base.size, s"$name: ${rows.size} rows at $n partitions, ${base.size} at $n0")
        val diff = rows.zip(base).find { case (a, b) => a != b }
        assert(diff.isEmpty, s"$name: first differing row at $n vs $n0 partitions: $diff")
      }
    }
}
