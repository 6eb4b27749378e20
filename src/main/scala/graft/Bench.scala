package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * Each query is forced through a `noop`-format write — full computation
  * and materialization of every output row/column, zero sink cost. A bare
  * `.count()` would let Catalyst prune projections/casts away and time an
  * empty scan (round-1 verdict, "What's wrong" #3).
  */
object Bench {
  /** The optional query subset of Bench's (and BenchSf1's) arguments, or
    * the message the main exits with. */
  def parseArgs(args: Seq[String], registered: collection.Set[String])
      : Either[String, Option[Set[String]]] = args match {
    case Seq() => Right(None)
    case Seq(names) => Verify.querySubset(names, registered).map(Some(_))
    case _ => Left("usage: graft.Bench | graft.BenchSf1 [query,query,...]")
  }

  def main(args: Array[String]): Unit = {
    // optional arg: comma-separated query names — isolate one query's
    // timing outside the full suite (suite-state A/B diagnosis)
    val only = parseArgs(args.toSeq, SparkEntry.queries.keySet).fold(Verify.exitWith, identity)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-bench")
    // Session-wide warm-up on the smallest table, exercising the plan
    // shapes the suite leans on — window, broadcast join, HOF lambda,
    // hash aggregate, sort — not just a bare scan: first-plan JIT/codegen
    // compilation otherwise lands on the alphabetically-first query
    // (r8: ann_recall read ~2× its solo time even with its own per-query
    // warm-up, because each run still paid residual whole-stage-codegen
    // class compilation the simple scan warm-up never triggered).
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      val w = Window.partitionBy(col("r_regionkey")).orderBy(col("r_name"))
      r.crossJoin(broadcast(r.select(col("r_regionkey").as("k"))))
        .withColumn("rn", row_number().over(w))
        .withColumn("h",
          expr("aggregate(transform(sequence(1, 64), x -> x * 1.0d), 0d, (a, x) -> a + x)"))
        .groupBy(col("r_name")).agg(sum(col("rn")).as("s"), max(col("h")).as("m"))
        .orderBy(col("s"))
        .write.format("noop").mode("overwrite").save()
    }
    // Protocol (r12 verdict task 1): TWO temporally separated passes —
    // pass A alphabetical (untimed warm-up + 1 timed run per query), pass
    // B in REVERSE order (1 timed run) — and the reported number is the
    // per-query MIN across passes. The old warm-up+min-of-2 ran all three
    // executions back to back, so sustained host interference (I/O storm,
    // GC churn) spanning a few minutes contaminated every sample of the
    // adjacent queries: BENCH_r12 shipped q17 at 51.9 s where a standalone
    // re-run read 1.2 s, a 43x phantom. With the suite itself (~6 min)
    // between a query's two timed samples, an interference window would
    // have to persist across the whole run to poison both. Queries whose
    // two passes still disagree by >3x are flagged "suspect": true in
    // BENCH_local.json so a round artifact can't silently ship a phantom.
    val registry = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Janino compiles so far in this JVM (one per compiled-class cache miss)
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // (seconds, compiles) of one run
    def once(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val c0 = compiles()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, compiles() - c0)
      } finally {
        // queries that persist sub-frames (ann_recall, trained IVF) hand
        // cache lifecycle to the caller: drop them even on failure so
        // runs are independent and cached frames can't accumulate.
        // localCheckpoint blocks are not in the cache manager; they stay
        // until the context cleaner collects their RDD
        spark.catalog.clearCache()
      }
    }
    def timedPass(pass: String, qs: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)],
                  warmup: Boolean): Map[String, (Double, Long)] =
      qs.map { case (name, fn) =>
        // stderr marker so JVM warnings (task-binary size, GC) between two
        // markers attribute to a query — the r11 hygiene pass had to guess
        System.err.println(s"[bench] $pass $name")
        val t =
          try { if (warmup) once(name, fn); once(name, fn) }
          catch { case e: Throwable => System.err.println(s"[bench] $name failed ($pass): $e"); (-1.0, -1L) }
        name -> t
      }.toMap
    val runA = timedPass("A", registry, warmup = true)
    val passA = runA.map { case (k, v) => k -> v._1 }
    val passB = timedPass("B", registry.reverse, warmup = false).map { case (k, v) => k -> v._1 }
    // cross-pass disagreement >3x on a non-trivial reading (>0.5 s floor:
    // sub-half-second queries jitter 3x on scheduler noise alone and are
    // not what the flag exists to catch)
    def disagree(a: Double, b: Double): Boolean =
      a >= 0 && b >= 0 && math.max(a, b) > 0.5 && math.max(a, b) > 3.0 * math.min(a, b)
    // Tie-break pass C (r13 verdict task 4): a min over one clean and one
    // poisoned sample is still a single clean sample — re-run ONLY the
    // flagged queries after the suite's load has drained, so the committed
    // reading rests on 2+ mutually corroborating samples. A query stays
    // suspect only if, after C, no second sample lands within 3x of its min.
    val suspects0 = registry.map(_._1).filter(n => disagree(passA(n), passB(n)))
    val passC: Map[String, Double] =
      if (suspects0.isEmpty) Map.empty
      else timedPass("C", registry.filter(q => suspects0.contains(q._1)), warmup = false)
        .map { case (k, v) => k -> v._1 }
    val results = registry.map { case (name, _) =>
      val samples = Seq(passA(name), passB(name)) ++ passC.get(name)
      val ok = samples.filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // corroborated = a second sample within 3x of the min, OR every
    // sample sub-half-second (pure scheduler jitter). The escape must be
    // on ok.MAX, not ok.min: a 0.45 s min next to two 40 s samples is a
    // possibly cache-contaminated outlier outvoted by two large readings
    // — exactly what the flag exists to catch (r14 ADVICE).
    val suspect: Map[String, Boolean] = registry.map { case (name, _) =>
      val ok = (Seq(passA(name), passB(name)) ++ passC.get(name)).filter(_ >= 0)
      val corroborated = ok.nonEmpty &&
        (ok.max <= 0.5 || ok.count(_ <= 3.0 * ok.min) >= 2)
      name -> (ok.size >= 2 && !corroborated)
    }.toMap
    // 1-decimal (0.1 s) timings on the printed line: the driver keeps only
    // the last 2000 chars of output (plus sbt's trailing success line), so
    // the JSON line must stay short enough to survive that tail capture
    // whole or it is never machine-parsed. Full-precision per-query numbers
    // go to BENCH_local.json below for round-over-round regression reads.
    def fmt(v: Double): String =
      if (v < 0) "null" // failed query: null, never summed into the total
      else {
        // 0.1 s resolution: per-query values exist to flag outliers (the
        // suite median is ~0.3 s and run-to-run variance is ±2x); finer
        // A/B reads come from local runs. What the resolution buys is ~80
        // chars of line length — the difference between the driver's 2000-
        // char tail capture holding the whole line or truncating its head
        val s = BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.stripTrailingZeros.toPlainString
        if (s.isEmpty || s.startsWith("0E")) "0" else s
      }
    // The printed line must survive the driver's 2000-char tail capture
    // WHOLE or it is never machine-parsed — r7's full 92-query map
    // overflowed and the driver recorded parsed: null. Per-query values
    // exist to flag outliers, so the line carries the SLOWEST 30 (a fixed
    // count → bounded line length at any registry size) plus an aggregate
    // of the omitted fast tail; every query's full-precision number is in
    // BENCH_local.json below.
    // Cross-round regression gate (r14 verdict task 2): fuzzy_canonicalize
    // shipped a silent 4.8x wall-time regression because nothing compared
    // the new artifact to the previous round's. Read the PRIOR committed
    // BENCH_local.json (before this run overwrites it) and list every
    // query whose new min exceeds 3x its prior reading above the 0.5 s
    // noise floor — the close protocol requires the list empty or each
    // entry explained in SCALE.md. Regex parse: the file is our own
    // fixed format, and the build must not add a JSON dependency.
    val priorSecs: Map[String, Double] =
      if (only.nonEmpty) Map.empty // subset runs have no comparable prior
      else scala.util.Try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_local.json")), "UTF-8")
        """"([A-Za-z0-9_]+)":\{"sec":([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
    val regressions = results.collect {
      case (name, v) if v > 0.5 && priorSecs.get(name).exists(p => p > 0 && v > 3.0 * p) =>
        name -> (priorSecs(name), v)
    }
    // Canary drift normalizer (r14 verdict task 7): ~57 s of the r14
    // round-over-round delta was diffuse host drift, which makes raw
    // total comparisons weak evidence. Five stable, cheap, code-frozen
    // queries spanning the suite's plan shapes (agg, window, join+topn,
    // text join, event window) act as canaries; canary_ratio = this
    // run's canary total over the prior artifact's, so a consumer can
    // drift-adjust any cross-round comparison mechanically.
    val canaries = Seq("mart_yearly_avg", "rolling_avg", "tf_idf",
      "cohort_retention", "q3_revenue_topn")
    val canaryRatio: Option[Double] = {
      val pairs = canaries.flatMap(n =>
        results.collectFirst { case (`n`, v) if v > 0 => v }
          .zip(priorSecs.get(n).filter(_ > 0)))
      if (pairs.size == canaries.size)
        Some(pairs.map(_._1).sum / pairs.map(_._2).sum)
      else None
    }
    val ok = results.filter(_._2 >= 0)
    val slow = ok.sortBy(-_._2).take(30).sortBy(_._1)
    val rest = ok.sortBy(-_._2).drop(30)
    val qs = (slow.map { case (k, v) => "\"" + k + "\":" + fmt(v) } :+
      s""""_rest":{"n":${rest.size},"total":${fmt(rest.map(_._2).sum)}}""")
      .mkString("{", ",", "}")
    val total = fmt(ok.map(_._2).sum)
    // n_queries: the registered-query count grows round over round (56 in
    // r4 vs 52 in r3), so compare totals normalized, not raw. n_failed
    // makes the normalization honest: `total` sums only succeeded queries,
    // so total / (n_queries - n_failed) is the comparable per-query mean.
    val nFailed = results.count(_._2 < 0)
    val sfNum = "sf([0-9.]+)$".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("\"" + sfDir + "\"")
    val canaryStr = canaryRatio
      .map(r => String.format(java.util.Locale.ROOT, "%.3f", Double.box(r)))
      .getOrElse("null")
    val metricLine =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"n_suspect":${suspect.values.count(identity)},"n_regressions":${regressions.size},"canary_ratio":$canaryStr,"queries":$qs,"sf":$sfNum}"""
    println(metricLine)
    // The stdout line reaches the driver wrapped in sbt log prefixes, and
    // its tail capture has recorded parsed: null in r10/r11. Also write the
    // exact metric line as a clean, unprefixed JSON file so any driver that
    // looks for a sibling artifact can parse it directly. Subset runs
    // (diagnosis) must not clobber the committed full-suite artifact —
    // the same guard BENCH_local.json already has (r14: a one-query
    // diagnostic overwrote the round's metric line).
    val metricName = if (only.isEmpty) "BENCH_metric.json" else "BENCH_metric_subset.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(metricName),
      metricLine + "\n")
    // Full-precision artifact: the printed line is capped at 0.1 s for the
    // driver's tail capture, which blinds regression detection for the ~60
    // sub-0.5 s queries (a 0.2 s -> 0.4 s doubling rounds invisibly).
    // Keep the unrounded numbers in-repo for local round-over-round diffs.
    // Locale.ROOT: f"" interpolates through the JVM default locale, so a
    // comma-decimal locale would emit 0,1234 — invalid JSON
    def full(v: Double): String =
      if (v < 0) "null"
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    // Per query: the cross-pass min (sec) plus both raw pass readings and
    // the suspect flag — a consumer can both trust `sec` (min of two
    // temporally separated samples) and see WHY a number was flagged.
    // `compiles`: Janino compiles of the timed pass-A run (null: failed).
    // After its warm-up run this reads 0 unless the run generated a source
    // the warm-up did not, or one the compiled-class cache had evicted. It
    // follows `sec`, so the prior-artifact regex above still parses.
    val fullQs = results.map { case (k, v) =>
      val c = runA(k)._2
      "\"" + k + "\":{\"sec\":" + full(v) +
        ",\"compiles\":" + (if (c < 0) "null" else c.toString) +
        ",\"pass_a\":" + full(passA(k)) + ",\"pass_b\":" + full(passB(k)) +
        passC.get(k).map(c => ",\"pass_c\":" + full(c)).getOrElse("") +
        ",\"suspect\":" + suspect(k) + "}"
    }.mkString("{", ",", "}")
    // subset runs (diagnosis) must not clobber the full-suite artifact
    val localName = if (only.isEmpty) "BENCH_local.json" else "BENCH_local_subset.json"
    val nSuspect = suspect.values.count(identity)
    val regStr = regressions.map { case (n, (p, v)) =>
      "\"" + n + "\":{\"prior\":" + full(p) + ",\"now\":" + full(v) + "}"
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(localName),
      s"""{"n_queries":${results.size},"n_failed":$nFailed,"n_suspect":$nSuspect,"n_regressions":${regressions.size},"canary_ratio":$canaryStr,"regressions":$regStr,"sf":$sfNum,"queries":$fullQs}""" + "\n")
    spark.stop()
  }
}
