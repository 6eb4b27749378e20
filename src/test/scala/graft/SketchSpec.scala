package graft

import org.apache.spark.sql.functions._
import graft.functions.QuantileSketch

/** QuantileSketch (log-bucketed mergeable quantile sketch): the properties
  * that make it usable as a gated engine primitive — exact merge
  * commutativity (bit-identical buffers under any grouping/order) and the
  * bounded relative-error guarantee vs exact percentiles.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private val qs = new QuantileSketch(Seq(0.5, 0.9), gamma = 1.02)

  test("merge is exactly commutative/associative: any partitioning and merge order " +
       "yields an identical buffer") {
    val xs = (1 to 1000).map(i => (i * 37 % 991) + 1.0)
    val direct = xs.foldLeft(qs.zero)(qs.reduce)
    // partials over arbitrary chunkings, merged in reversed order
    val chunked = xs.grouped(7).toSeq.map(_.foldLeft(qs.zero)(qs.reduce))
      .reverse.foldLeft(qs.zero)(qs.merge)
    val rechunked = xs.reverse.grouped(131).toSeq.map(_.foldLeft(qs.zero)(qs.reduce))
      .foldLeft(qs.zero)(qs.merge)
    assert(direct == chunked && direct == rechunked,
      "integer-add merges must be order-insensitive EXACTLY")
  }

  test("relative error bounded by the gamma guarantee") {
    val xs = (1 to 10000).map(_.toDouble)
    val buf = xs.foldLeft(qs.zero)(qs.reduce)
    val Seq(p50, p90) = qs.finish(buf)
    val bound = math.sqrt(1.02) - 1 + 1e-9 // log-midpoint guarantee
    assert(math.abs(p50 - 5000.0) / 5000.0 <= bound, s"p50=$p50")
    assert(math.abs(p90 - 9000.0) / 9000.0 <= bound, s"p90=$p90")
  }

  test("positive-domain contract fails loudly") {
    intercept[IllegalArgumentException](qs.reduce(qs.zero, 0.0))
    intercept[IllegalArgumentException](qs.reduce(qs.zero, -3.2))
  }

  test("streams with exact batch parity: multi-batch state merges are integer adds") {
    val in = java.nio.file.Files.createTempDirectory("graft-qs-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-qs-ckpt").toString
    val data = (1 to 500).map(i => ((i % 3).toString, ((i * 37) % 991) + 1.0)).toDF("grp", "v")
    // several input files + maxFilesPerTrigger=1 → the sketch state is
    // built across MANY micro-batches, exercising merge() in streaming
    data.repartition(5).write.mode("overwrite").parquet(in)
    val agg = udaf(qs, org.apache.spark.sql.Encoders.scalaDouble)
    val stream = spark.readStream.schema(data.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = stream.groupBy(col("grp")).agg(agg(col("v")).as("est"))
      .writeStream.format("memory").queryName("qs_stream").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    awaitBounded(q, 120000)
    val streamed = spark.table("qs_stream").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val batch = data.groupBy(col("grp")).agg(agg(col("v")).as("est")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(streamed == batch,
      "stream and batch sketches must agree EXACTLY — merges are order-insensitive integer adds")
  }

  test("as a grouped udaf: estimates track exact percentiles within the 2x gate") {
    val df = (1 to 2000).map(i => (if (i % 2 == 0) "A" else "B", (i % 997) + 1.0))
      .toDF("grp", "v")
    val agg = udaf(qs, org.apache.spark.sql.Encoders.scalaDouble)
    val rows = df.groupBy(col("grp"))
      .agg(agg(col("v")).as("est"),
        expr("percentile(v, 0.5)").as("ex50"), expr("percentile(v, 0.9)").as("ex90"))
      .collect()
    assert(rows.length == 2)
    for (r <- rows) {
      val est = r.getSeq[Double](1)
      assert(math.abs(est(0) - r.getDouble(2)) / r.getDouble(2) <= 0.02)
      assert(math.abs(est(1) - r.getDouble(3)) / r.getDouble(3) <= 0.02)
    }
  }

  // ---- KMV k-minimum-values sketch ----

  test("kmv: sketch is the k smallest DISTINCT hashes, invariant under " +
       "partitioning and duplication") {
    import graft.functions.KmvAggregator
    val agg = KmvAggregator.column(8)
    // values with heavy duplication; hash column is just the value itself
    // (the aggregator is hash-agnostic — it sketches whatever longs arrive)
    val vals = Seq(5L, 3L, 9L, 3L, 5L, 14L, 2L, 9L, 77L, 41L, 2L, 8L, 6L, 1L, 12L)
    val expected = vals.distinct.sorted.take(8)
    for (parts <- Seq(1, 4)) {
      val got = vals.toDF("h").repartition(parts)
        .agg(agg(col("h")).as("s")).head().getSeq[Long](0)
      assert(got == expected, s"parts=$parts: $got vs $expected")
    }
  }

  test("kmv: below-k groups estimate EXACTLY; estimate tracks exact within " +
       "30% at 8x k cardinality") {
    import graft.functions.KmvAggregator
    val k = 64
    val agg = KmvAggregator.column(k)
    def h(c: org.apache.spark.sql.Column) =
      expr(s"cast(conv(substr(md5(cast(${c.toString} as string)), 1, 8), 16, 10) as bigint)")
    // group "small": 40 distinct (< k)  |  group "big": 512 distinct (8k)
    val df = ((1 to 40).map(i => ("small", i.toLong)) ++
      (1 to 512).map(i => ("big", i.toLong + 1000))).toDF("g", "v")
    val est = df.groupBy(col("g"))
      .agg(agg(h(col("v"))).as("s"))
      .select(col("g"),
        expr(s"""cast(case when size(s) < $k then size(s)
                |  else cast(${k - 1} as bigint) * cast(4294967296 as bigint)
                |       div greatest(element_at(s, $k), cast(1 as bigint)) end as bigint)""".stripMargin)
          .as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("small") == 40L, s"below-k group must be exact: ${est("small")}")
    assert(math.abs(est("big") - 512.0) / 512.0 <= 0.30,
      s"KMV estimate ${est("big")} strays >30% from 512")
  }

  test("kmv streams with exact batch parity: the sketch is a pure " +
       "function of the distinct set, so multi-batch merges change nothing") {
    import graft.functions.KmvAggregator
    val in = java.nio.file.Files.createTempDirectory("graft-kmv-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kmv-ckpt").toString
    val data = (1 to 400).map(i => ((i % 3).toString, ((i * 131) % 997).toLong)).toDF("grp", "h")
    data.repartition(5).write.mode("overwrite").parquet(in)
    val agg = KmvAggregator.column(32)
    val stream = spark.readStream.schema(data.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = stream.groupBy(col("grp")).agg(agg(col("h")).as("s"))
      .writeStream.format("memory").queryName("kmv_stream").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    awaitBounded(q, 120000)
    val streamed = spark.table("kmv_stream").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val batch = data.groupBy(col("grp")).agg(agg(col("h")).as("s")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed == batch,
      "stream and batch KMV sketches must agree EXACTLY")
  }

  test("kmvRollingDistinct: trailing-window union over daily sketches — " +
       "below-k windows read EXACT distinct users") {
    import graft.operators.RelationalOps
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // day1 {1,2}, day2 {2,3}, day9 {9}: day2's window unions day1+day2;
    // day9 is beyond day2+6 so it stands alone
    val ev = Seq(
      (ts(1), 1L), (ts(1), 2L), (ts(1), 2L),
      (ts(2), 2L), (ts(2), 3L),
      (ts(9), 9L)).toDF("ts", "user_id")
    val got = RelationalOps.kmvRollingDistinct(ev).collect()
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "2024-01-01" -> ((1L, 2L)),  // 1 member day, users {1,2}
      "2024-01-02" -> ((2L, 3L)),  // day1 ∪ day2 = {1,2,3}
      "2024-01-09" -> ((1L, 1L))), s"got $got")
  }

  test("kmv join estimate: disjoint key sets read 0 overlap; identical " +
       "sets read overlap == union; partial overlap lands between") {
    import graft.operators.RelationalOps
    val a = (1L to 300L).toDF("x")
    val bDisjoint = (1001L to 1300L).toDF("y")
    val dis = RelationalOps.kmvJoinEstimate(a, "x", bDisjoint, "y", k = 64).head()
    assert(dis.getAs[Long]("exact_overlap") == 0L)
    assert(dis.getAs[Long]("kmv_overlap_est") == 0L,
      "disjoint sketches must estimate zero overlap")
    val same = RelationalOps.kmvJoinEstimate(a, "x", a.toDF("y"), "y", k = 64).head()
    assert(same.getAs[Long]("exact_overlap") == 300L)
    assert(same.getAs[Long]("both_in_k") == 64L,
      "identical sketches: every union-sketch value is in both sides")
    assert(same.getAs[Long]("kmv_overlap_est") == same.getAs[Long]("kmv_union_est"),
      "identical sets: overlap estimate must equal union estimate")
    val bHalf = (151L to 450L).toDF("y") // 150 shared of 450 union
    val half = RelationalOps.kmvJoinEstimate(a, "x", bHalf, "y", k = 64).head()
    assert(half.getAs[Long]("exact_overlap") == 150L)
    val est = half.getAs[Long]("kmv_overlap_est")
    assert(est > 0L && est < half.getAs[Long]("kmv_union_est"),
      s"partial overlap estimate $est must land strictly between 0 and the union")
  }
}
