package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{DedupOps, RelationalOps}

/** Property-based invariants (SURVEY.md §5.3): results must be independent
  * of physical layout — the property that makes answers trustworthy on a
  * 1000-executor cluster where partitioning is arbitrary. Uses raw
  * ScalaCheck generators with fixed seeds (the scalatest-plus bridge isn't
  * in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("moneySum/moneyAvg invariant under repartition and row order") {
    val priceGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 999999L).map(_ / 100.0))
    for (prices <- samples(priceGen, 5)) {
      val df = prices.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "price")
      def agg(d: org.apache.spark.sql.DataFrame) =
        d.agg(RelationalOps.moneySum(col("price")).as("s"), RelationalOps.moneyAvg(col("price")).as("a"))
          .collect()(0)
      val base = agg(df)
      val shuffled = agg(df.repartition(7).sortWithinPartitions(desc("price")))
      assert(base.getDecimal(0) == shuffled.getDecimal(0))
      assert(base.getDouble(1) == shuffled.getDouble(1))
    }
  }

  test("exactDedup: output has no duplicate texts and is invariant under partitioning") {
    val textGen = Gen.listOfN(5, Gen.oneOf("a b c", "d e f", "g h i")).map(_.mkString(" "))
    for (texts <- samples(Gen.nonEmptyListOf(textGen), 5)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val d1 = DedupOps.exactDedup(df).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val d2 = DedupOps.exactDedup(df.repartition(5)).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(d1 == d2)
      assert(d1.map(_._2).size == d1.size) // one representative per text
    }
  }

  test("prefix-filtered Jaccard equals plain Jaccard on random corpora") {
    val docGen = Gen.chooseNum(3, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("red", "blue", "green", "fox", "dog", "cat", "run"))
        .map(_.mkString(" ")))
    for (texts <- samples(Gen.listOfN(6, docGen), 4)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def pairs(f: (org.apache.spark.sql.DataFrame, Double) => org.apache.spark.sql.DataFrame) =
        f(df, 0.4).collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(pairs(DedupOps.jaccardPairsPrefix) ==
        pairs((d, t) => DedupOps.jaccardPairs(d, t)))
    }
  }

  test("dupComponents is invariant under pair order and partitioning; labels are fixpoints") {
    val pairGen = Gen.listOfN(8,
      for { a <- Gen.chooseNum(1L, 12L); b <- Gen.chooseNum(1L, 12L) if a != b }
        yield (math.min(a, b), math.max(a, b)))
    for (pairs <- samples(pairGen, 4) if pairs.nonEmpty) {
      val df = pairs.toDF("doc_a", "doc_b")
      def comps(d: org.apache.spark.sql.DataFrame) =
        DedupOps.dupComponents(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val base = comps(df)
      assert(base == comps(df.orderBy(desc("doc_b")).repartition(5)))
      // fixpoint: every component label is itself labeled with itself
      assert(base.forall { case (_, c) => base(c) == c })
    }
  }

  test("asOfJoinBanded equals asOfJoin for any band granularity on random event sets") {
    import graft.operators.RelationalOps
    val evGen = for {
      n <- Gen.chooseNum(5, 25)
      evs <- Gen.listOfN(n, for {
        u <- Gen.chooseNum(1L, 4L)
        d <- Gen.chooseNum(0, 300) // days across ~10 months
        s <- Gen.chooseNum(0, 86399)
      } yield (u, new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + d * 86400000L + s * 1000L)))
    } yield evs
    for ((evs, i) <- samples(evGen, 3).zipWithIndex) {
      val left = evs.zipWithIndex.map { case ((u, ts), j) => (j.toLong, u, ts) }
        .toDF("event_id", "user_id", "ts")
      // right side: a sparse subset of the same user/ts space
      val right = evs.take(evs.size / 3).map { case (u, ts) => (u, ts, ts.getTime.toDouble) }
        .toDF("user_id", "ts", "score")
      def res(df: org.apache.spark.sql.DataFrame) =
        df.select("event_id", "asof_score").collect()
          .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      val base = res(RelationalOps.asOfJoin(left, right, Seq("user_id"), "ts", Seq("score")))
      // the equality must hold whatever monotone band the caller picks —
      // coarse (one band swallows everything) through fine (every event
      // its own band); granularity is a pure performance knob
      for (g <- Seq("year", "quarter", "month", "week", "day", "hour")) {
        val banded = res(RelationalOps.asOfJoinBanded(
          left, right, Seq("user_id"), "ts", Seq("score"), c => date_trunc(g, c)))
        assert(banded == base, s"sample $i, band granularity $g")
      }
    }
  }

  test("dupComponents star rounds are invariant under pair order and partitioning; labels are fixpoints") {
    val pairGen = Gen.listOfN(10,
      for { a <- Gen.chooseNum(1L, 14L); b <- Gen.chooseNum(1L, 14L) } yield (a, b))
    for (pairs <- samples(pairGen, 3) if pairs.nonEmpty) {
      val df = pairs.toDF("doc_a", "doc_b")
      def comps(d: org.apache.spark.sql.DataFrame) =
        DedupOps.dupComponents(d, localCap = 0).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val base = comps(df)
      assert(base == comps(df.orderBy(desc("doc_b")).repartition(5)))
      assert(base.forall { case (_, c) => base(c) == c })
    }
  }

  test("minhash signatures are permutation-invariant") {
    val docGen = Gen.listOfN(8, Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon")).map(_.mkString(" "))
    for (texts <- samples(Gen.listOfN(4, docGen), 3)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def sig(d: org.apache.spark.sql.DataFrame) =
        DedupOps.minhashSignatures(d).collect()
          .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(sig(df) == sig(df.repartition(3)))
    }
  }

  test("packChunks is invariant under input partitioning and row order") {
    val docGen = Gen.listOfN(30, Gen.oneOf("alpha", "beta", "gamma", "delta")).map(_.mkString(" "))
    for (texts <- samples(Gen.listOfN(6, docGen), 3)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def pack(d: org.apache.spark.sql.DataFrame) =
        graft.operators.TextOps.packChunks(d, seqBudget = 40, shards = 4).collect()
          .map(r => (r.getLong(1), r.getInt(2)) -> (r.getInt(0), r.getLong(4))).toMap
      val base = pack(df)
      assert(base == pack(df.orderBy(desc("doc_id")).repartition(7)))
    }
  }

  test("RewriteL2Distance: the SQL fold spelling optimizes to the native kernel, " +
       "values and degenerate NULL semantics preserved") {
    val foldSql = graft.operators.SimilarityOps.pqDistExpr
    // parquet-backed: ConvertToLocalRelation would otherwise evaluate the
    // projection eagerly and leave no expression to inspect
    val p = java.nio.file.Files.createTempDirectory("graft-l2rw").toString + "/t"
    Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(1.5, 0.5, 3.0)),
      (2L, Array(0.0, 0.0), Array(0.0, 0.0)))
      .toDF("id", "v_sub", "c_sub").write.parquet(p)
    val q = spark.read.parquet(p).select(col("id"), expr(foldSql).as("d"))
    // the injected optimizer rule must replace the interpreted fold
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("l2_dist") && !opt.contains("aggregate("),
      s"fold spelling should optimize to the native kernel:\n$opt")
    val got = q.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == math.sqrt(0.25 + 2.25) && got(2L) == 0.0)
    // degenerate semantics survive the rewrite: zip_with null-pads a
    // length mismatch and a null element poisons the sum → NULL out
    val pd = java.nio.file.Files.createTempDirectory("graft-l2rw-deg").toString + "/t"
    Seq(
      (1L, Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](1.0)),
      (2L, Array[java.lang.Double](1.0, null), Array[java.lang.Double](1.0, 2.0)))
      .toDF("id", "v_sub", "c_sub").write.parquet(pd)
    val deg = spark.read.parquet(pd).select(col("id"), expr(foldSql).as("d"))
    assert(deg.queryExecution.optimizedPlan.toString.contains("l2_dist"),
      "rewrite must fire on the degenerate frame too")
    assert(deg.collect().forall(_.isNullAt(1)),
      "mismatched lengths and null elements must stay NULL after the rewrite")
  }

  test("native l2_dist equals the SQL fold bit-for-bit on random vectors") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-1000, 1000).map(_ / 250.0))
    for (pairs <- samples(Gen.listOfN(50, Gen.zip(vecGen, vecGen)), 4)) {
      val df = pairs.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a.toArray, b.toArray) }
        .toDF("id", "v_sub", "c_sub")
      val rows = df.select(col("id"),
        graft.functions.GraftFunctions.l2Dist(col("v_sub"), col("c_sub")).as("native"),
        expr(graft.operators.SimilarityOps.pqDistExpr).as("fold")).collect()
      for (r <- rows)
        assert(r.getDouble(1) == r.getDouble(2),
          s"row ${r.getLong(0)}: native ${r.getDouble(1)} != fold ${r.getDouble(2)} " +
            "(left-to-right accumulation must match exactly)")
    }
  }

  test("substringDedup invariants on random corpora: counts consistent, clean text = " +
       "kept tokens, partition-invariant") {
    val docGen = Gen.listOfN(12, Gen.oneOf("aa", "bb", "cc", "dd", "ee")).map(_.mkString(" "))
    for (texts <- samples(Gen.listOfN(8, docGen), 4)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = DedupOps.substringDedup(df, k = 4).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      for ((_, (nTok, nKept, clean)) <- out) {
        assert(nKept <= nTok, "cannot keep more tokens than exist")
        val cleanCount = if (clean.isEmpty) 0 else clean.split(" ").length
        assert(cleanCount == nKept, s"clean_text must hold exactly n_kept tokens: '$clean' vs $nKept")
      }
      val re = DedupOps.substringDedup(df.repartition(7), k = 4).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      assert(out.toMap == re.toMap, "keep-first is (doc_id, pos)-decided, not layout-decided")
    }
  }

  test("upsertByKey invariants: key set is union, updates always win, no duplicate keys") {
    val kvGen = Gen.listOfN(10, Gen.zip(Gen.chooseNum(0L, 6L), Gen.chooseNum(0, 999)))
      .map(_.distinctBy(_._1))
    for ((ex, up) <- samples(Gen.zip(kvGen, kvGen), 5)) {
      val existing = ex.toDF("k", "v")
      val updates = up.toDF("k", "v")
      val got = RelationalOps.upsertByKey(existing, updates, Seq("k")).collect()
        .map(r => r.getLong(0) -> r.getInt(1))
      assert(got.map(_._1).distinct.length == got.length, "one row per key")
      assert(got.map(_._1).toSet == (ex.map(_._1) ++ up.map(_._1)).toSet, "key union")
      val (upMap, exMap) = (up.toMap, ex.toMap)
      for ((k, v) <- got)
        assert(upMap.get(k).map(_ == v).getOrElse(exMap(k) == v), s"wrong winner for $k")
    }
  }

  test("cohortRetention / bm25TopK invariant under partitioning; retention bounded by 1") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val evGen = Gen.listOfN(60, Gen.zip(Gen.chooseNum(1L, 9L), Gen.chooseNum(0L, 27L)))
    for (evs <- samples(evGen, 4)) {
      val df = evs.zipWithIndex.map { case ((u, day), i) =>
        (i.toLong, new java.sql.Timestamp(ts0 + day * 86400000L), u, "view", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      def run(d: org.apache.spark.sql.DataFrame) =
        graft.operators.EventOps.cohortRetention(d).collect()
          .map(r => (r.getDate(0).toString, r.getInt(1)) -> ((r.getLong(2), r.getDouble(4)))).toMap
      val base = run(df)
      assert(base == run(df.repartition(7)), "cohort cells must not depend on layout")
      assert(base.values.forall { case (_, ret) => ret > 0.0 && ret <= 1.0 },
        "retention is a fraction of the cohort")
      assert(base.keys.forall(_._2 >= 0), "no negative offsets: first week IS the cohort week")
    }
    val docGen = Gen.listOfN(20, Gen.oneOf("spark", "merge", "pad", "filler", "query"))
      .map(_.mkString(" "))
    for (texts <- samples(Gen.listOfN(12, docGen), 3)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s1", 20L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      def run(d: org.apache.spark.sql.DataFrame) =
        graft.operators.TextOps.bm25TopK(d).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(run(df) == run(df.repartition(5)),
        "integer-quantized scores + (score, doc_id) order must be layout-proof")
    }
  }

  test("pointInTimeJoin: at most one version per fact for non-overlapping windows") {
    def d(day: Int) = java.sql.Date.valueOf(f"2024-01-$day%02d")
    // random non-overlapping version breakpoints per key
    val bpGen = Gen.listOfN(2, Gen.chooseNum(2, 27)).map(_.distinct.sorted)
    for (bps <- samples(bpGen, 6)) {
      val bounds = (1 +: bps.map(identity)) :+ 28
      val dim = bounds.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if a < b => (1L, s"v$i", d(a), d(b))
      }.toSeq.toDF("k", "ver", "valid_from", "valid_to")
      val facts = (1 to 27).map(day => (day.toLong, 1L, d(day))).toDF("fid", "k", "ts")
      val got = RelationalOps.pointInTimeJoin(facts, dim, Seq("k"), "ts").collect()
      assert(got.map(_.getLong(0)).distinct.length == got.length,
        "non-overlapping windows must yield at most one version per fact")
    }
  }

  test("triangleStats: corner-count sum is divisible by 3 and invariant " +
       "under edge-list partitioning, on random graphs") {
    val edgeGen = Gen.listOfN(12,
      for { a <- Gen.chooseNum(1L, 8L); b <- Gen.chooseNum(1L, 8L) if a != b }
        yield (math.min(a, b), math.max(a, b)))
    for (edges <- samples(edgeGen, 5); if edges.distinct.nonEmpty) {
      val df = edges.distinct.toDF("doc_a", "doc_b")
      val r1 = graft.operators.GraphOps.triangleStats(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(r1.values.sum % 3 == 0, s"each triangle has 3 corners: $r1")
      val r2 = graft.operators.GraphOps.triangleStats(df.repartition(5)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(r1 == r2, "layout-invariant")
    }
  }

  test("mvMerge: merging an empty delta is the identity; sourceDrift of a " +
       "single-source corpus is exactly zero") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val orders = Seq((1L, 1L, "O", 10.5, ts("1998-01-01 00:00:00"), "x"),
      (2L, 2L, "F", 20.25, ts("1998-02-01 00:00:00"), "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val st = RelationalOps.mvState(orders)
    val merged = RelationalOps.mvMerge(st, RelationalOps.mvState(orders.limit(0)))
    assert(RelationalOps.mvRead(merged).collect().map(_.toString).sorted.toSeq ==
      RelationalOps.mvRead(st).collect().map(_.toString).sorted.toSeq)
    // one source: P_source == P_corpus termwise -> ln(1) = 0 -> exact zero
    val docs = Seq((1L, "alpha beta gamma", "en", "only", 16L),
      (2L, "alpha alpha beta", "en", "only", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val kl = graft.operators.TextOps.sourceDrift(docs).collect()
    assert(kl.length == 1 && kl(0).getLong(2) == 0L, s"${kl.toSeq}")
  }

  test("spanCorruption: target spans + unmasked input tokens reassemble the " +
       "original stream; sentinels numbered in appearance order") {
    val docGen = Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
        .map(_.mkString(" ")))
    for (texts <- samples(Gen.listOfN(8, docGen), 3)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.operators.TextOps.spanCorruption(df).collect()
      assert(out.length == texts.length)
      val sentRe = "<extra_id_(\\d+)>".r
      for (r <- out) {
        val (id, input, target) = (r.getLong(0), r.getString(1), r.getString(2))
        val (nSpans, nMasked) = (r.getInt(3), r.getInt(4))
        val spans = scala.collection.mutable.Map.empty[Int, Vector[String]]
        var cur = -1
        if (target.nonEmpty) target.split(" ").foreach {
          case sentRe(k) => cur = k.toInt; spans(cur) = Vector.empty
          case w         => spans(cur) = spans(cur) :+ w
        }
        assert(spans.size == nSpans && spans.values.map(_.size).sum == nMasked)
        val inToks = if (input.isEmpty) Array.empty[String] else input.split(" ")
        val rebuilt = inToks.flatMap {
          case sentRe(k) => spans(k.toInt)
          case w         => Vector(w)
        }
        assert(rebuilt.toVector == texts(id.toInt).split(" ").filter(_.nonEmpty).toVector,
          s"doc $id: $input / $target")
        val ks = inToks.collect { case sentRe(k) => k.toInt }
        assert(ks.toList == (0 until nSpans).toList)
      }
    }
  }

  test("pmiCollocations: closed form on a constructed corpus; invariant " +
       "under repartition") {
    // "x y z" x6 -> bigrams (x,y) and (y,z) each 6; N=12, marginals all 6
    // -> PMI = ln(6*12/36) = ln 2 for both pairs
    val df = (0 until 6).map(i => (i.toLong, "x y z")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.pmiCollocations(df, minCount = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == Set(
      ("x", "y", 6L, math.round(math.log(2.0) * 1e6)),
      ("y", "z", 6L, math.round(math.log(2.0) * 1e6))), out.toSeq.toString)
    val out2 = graft.operators.TextOps.pmiCollocations(df.repartition(7), minCount = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out2.toSet == out.toSet)
  }

  test("KMV estimate tracks exact cardinality within 35% (2.7 sigma at k=64) on " +
       "random multisets; histogram counts always sum to n with bins in " +
       "range — both invariant under repartitioning") {
    import graft.functions.KmvAggregator
    val k = 64
    val agg = KmvAggregator.column(k)
    def h(c: org.apache.spark.sql.Column) =
      expr(s"cast(conv(substr(md5(cast(${c.toString} as string)), 1, 8), 16, 10) as bigint)")
    val setGen = Gen.chooseNum(300, 1500).flatMap(n =>
      Gen.listOfN(n * 3, Gen.chooseNum(0L, n.toLong)))
    for ((vals, i) <- samples(setGen, 4).zipWithIndex) {
      val exact = vals.distinct.size
      val df = vals.map(v => v + i * 100000L).toDF("v")
      def est(d: org.apache.spark.sql.DataFrame): Long =
        d.agg(agg(h(col("v"))).as("s"))
          .select(expr(s"""cast(case when size(s) < $k then size(s)
            |  else cast(${k - 1} as bigint) * cast(4294967296 as bigint)
            |       div greatest(element_at(s, $k), cast(1 as bigint)) end as bigint)""".stripMargin))
          .head().getLong(0)
      val e1 = est(df)
      assert(e1 == est(df.repartition(9)), "sketch estimate is layout-free")
      assert(math.abs(e1 - exact.toDouble) / exact <= 0.35,
        s"KMV estimate $e1 strays >35% from $exact (k=$k)")
    }
    val valGen = Gen.nonEmptyListOf(Gen.chooseNum(-50000L, 50000L).map(_ / 100.0))
    for (vals <- samples(valGen, 4)) {
      val df = vals.toDF("v")
      val rows = graft.operators.StatsOps.histogram(df, "v", bins = 8).collect()
      assert(rows.map(_.getLong(1)).sum == vals.size, "every value binned once")
      assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 8))
      val rows2 = graft.operators.StatsOps.histogram(df.repartition(5), "v", bins = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows2 == rows.map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
  }

  test("snapshotDiff reconstruction: applying the diff to the old snapshot " +
       "reproduces the new snapshot exactly, on random keyed mutations") {
    val rowGen = Gen.listOfN(40,
      for {
        k <- Gen.chooseNum(1L, 25L) // collisions exercised via dedup below
        v <- Gen.option(Gen.chooseNum(0L, 99L).map(_.toDouble))
      } yield (k, v))
    for (rows <- samples(rowGen, 5)) {
      val oldRows = rows.distinctBy(_._1)
      // mutate: drop k%5==0, change k%3==0, add shifted keys for k%7==0
      val newRows = oldRows.filterNot(_._1 % 5 == 0)
        .map { case (k, v) => if (k % 3 == 0) (k, v.map(_ + 1)) else (k, v) } ++
        oldRows.filter(_._1 % 7 == 0).map { case (k, v) => (k + 1000L, v) }
      val oldDf = oldRows.toDF("k", "v")
      val newDf = newRows.toDF("k", "v")
      val diff = RelationalOps.snapshotDiff(oldDf, newDf, Seq("k")).collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.get(3)).map(_.toString)))
      // replay: start from old, apply removals/changes/adds
      val oldMap = oldRows.toMap
      val applied = scala.collection.mutable.Map(oldMap.toSeq: _*)
      for ((k, typ, newV) <- diff) typ match {
        case "removed" => applied.remove(k)
        case "changed" => applied(k) = newV.map(_.toDouble)
        case "added"   => applied(k) = newV.map(_.toDouble)
      }
      assert(applied.toMap == newRows.toMap,
        s"diff replay must reconstruct the new snapshot\n$diff")
    }
  }
}
