package graft

import java.nio.file.Files

/** End-to-end golden pipeline tests (SURVEY.md §5.4): fixture JSON/CSV in,
  * materialized marts out — the full E1/E2 paths through one SparkSession.
  */
class PipelinesSpec extends SparkSpec {

  test("E1 FRED pipeline: landing JSON → flatten → cast → yearly mart table") {
    val dir = Files.createTempDirectory("graft-fred").toString
    val payload =
      """{"realtime_start":"2024-01-01","realtime_end":"2024-01-01","units":"lin","count":4,
        |"observations":[
        | {"realtime_start":"x","realtime_end":"x","date":"2021-01-01","value":"100.00"},
        | {"realtime_start":"x","realtime_end":"x","date":"2021-07-01","value":"102.00"},
        | {"realtime_start":"x","realtime_end":"x","date":"2022-01-01","value":"."},
        | {"realtime_start":"x","realtime_end":"x","date":"2022-07-01","value":"110.00"}]}"""
        .stripMargin.replace("\n", "")
    Files.writeString(java.nio.file.Paths.get(s"$dir/gdp.json"), payload)

    val mart = Pipelines.runFredPipeline(spark, s"$dir/gdp.json", "GDP", "pspec_mart")
    val byYear = mart.collect().map(r => r.getDate(0).toString -> Option(r.get(1))).toMap
    assert(byYear("2021-01-01").contains(101.0))
    // "." is FRED's missing marker → NULL after lenient cast; AVG skips NULLs
    assert(byYear("2022-01-01").contains(110.0))
    assert(spark.catalog.tableExists("pspec_mart"))
    spark.sql("DROP TABLE pspec_mart")
  }

  test("fetchToRaw: injected transport with retry + pacing; landed files feed E1 (S1/S2)") {
    val dir = Files.createTempDirectory("graft-fetch").toString
    val payload =
      """{"realtime_start":"2024-01-01","realtime_end":"2024-01-01","units":"lin","count":1,
        |"observations":[
        | {"realtime_start":"x","realtime_end":"x","date":"2021-01-01","value":"100.00"}]}"""
        .stripMargin.replace("\n", "")
    var calls = 0
    val flakyFetch: String => String = { url =>
      calls += 1
      if (calls == 1) throw new RuntimeException("transient 429")
      assert(url.contains("series_id=GDP"))
      payload
    }
    val landed = Pipelines.fetchToRaw(flakyFetch,
      Seq("https://api.example.test/fred?series_id=GDP"), dir, backoffMs = 1)
    assert(calls == 2 && landed.size == 1) // first attempt failed, retry landed
    // the landed file is the exact payload — and drives the E1 pipeline
    val mart = Pipelines.runFredPipeline(spark, landed.head, "GDP", "pspec_fetch_mart")
    assert(mart.count() == 1)
    spark.sql("DROP TABLE pspec_fetch_mart")
  }

  test("fetchSeriesToRaw: distributed mapPartitions tier lands files identical to the driver tier") {
    import spark.implicits._
    // 100-series fan-out — the scale at which a driver loop stops being the
    // right tier (SURVEY S1 scale note). Same injected transport through
    // both tiers; landing layout must be byte-identical.
    val series = (1 to 100).map(i => (f"S$i%03d", f"https://api.example.test/fred?series_id=S$i%03d"))
    val df = series.toDF("series_id", "url")
    val fetch: String => String = url => s"""{"fetched":"$url"}"""
    val distDir = Files.createTempDirectory("graft-dfetch").toString
    val drvDir = Files.createTempDirectory("graft-sfetch").toString
    val dist = Pipelines.fetchSeriesToRaw(fetch, df, distDir, distributeAbove = 0, parallelism = 8)
    val drv = Pipelines.fetchSeriesToRaw(fetch, df, drvDir, distributeAbove = 1000)
    assert(dist.size == 100 && drv.size == 100)
    def land(dir: String): Map[String, String] =
      new java.io.File(dir).listFiles.map(f => f.getName -> Files.readString(f.toPath)).toMap
    val (a, b) = (land(distDir), land(drvDir))
    assert(a == b, "distributed landing must match the driver tier byte-for-byte")
    assert(a.keySet == series.map { case (sid, _) => s"payload_$sid.json" }.toSet)
    // returned paths are the landed files, deterministically ordered
    assert(dist == dist.sorted && dist.map(p => new java.io.File(p).getName).toSet == a.keySet)
  }

  test("E2 fundamentals pipeline: raw CSV → staging join → KPI mart table") {
    val dir = Files.createTempDirectory("graft-fund").toString
    val csv =
      """symbol,report_type,fiscal_date,currency,total_revenue,gross_profit,operating_income,net_income,total_assets,total_liabilities,total_equity,created_at
        |AAPL,income_statement,2024-01-01,USD,100.00,40.00,30.00,20.00,,,,
        |AAPL,balance_sheet,2024-01-01,USD,,,,,500.00,300.00,200.00,""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$dir/fund.csv"), csv)

    val kpis = Pipelines.runFundamentalsPipeline(spark, s"$dir/fund.csv", "pspec_kpis")
    val r = kpis.collect()(0)
    assert(r.getString(0) == "AAPL")
    assert(r.getDouble(r.fieldIndex("gross_margin")) == 0.4)
    assert(r.getDouble(r.fieldIndex("return_on_equity")) == 0.1)
    spark.sql("DROP TABLE pspec_kpis")
  }

  test("withRetries: succeeds after transient failures, rethrows when exhausted") {
    var calls = 0
    val got = Pipelines.withRetries(3, backoffMs = 1) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(got == 42 && calls == 3)
    intercept[RuntimeException] {
      Pipelines.withRetries(1, backoffMs = 1)(() => throw new RuntimeException("always"))
    }
  }

  test("runCorpusPipeline: dups collapse to one survivor, junk filtered, survivors chunked") {
    import spark.implicits._
    val stopdense = "the a of and to in " * 8 // stopword-dense: high quality, 48 tokens
    val docs = Seq(
      (1L, stopdense), (2L, stopdense), // exact dups → doc 1 survives
      (9L, "zz qq ww zz qq ww zz qq")   // stopword-free junk → quality-filtered
    ).map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Pipelines.runCorpusPipeline(docs)
    val byDoc = out.collect().groupBy(_.getLong(0))
    assert(!byDoc.contains(2L)) // exact dup gone
    assert(!byDoc.contains(9L)) // junk gone
    assert(byDoc.contains(1L) && byDoc(1L).nonEmpty) // survivor chunked
  }

  test("runCorpusPipelineFull: the fused keep predicate keeps exactly the docs " +
       "all three filter faces keep") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{DedupOps, TextOps}
    // content words unique per doc (so no two docs are near-dups), every
    // third token the stopword "the": quality 0.5 + 1/6, all Gopher rules
    // pass, no repeated trigram
    def plain(doc: Int)(i: Int): String = f"d$doc%02dw$i%03d"
    def words(n: Int, w: Int => String): Seq[String] =
      (0 until n).map(i => if (i % 3 == 0) "the" else w(i))
    def text(ws: Seq[String], perLine: Int = 1000): String =
      ws.grouped(perLine).map(_.mkString(" ")).mkString("\n")
    val minQ = 0.508
    val docs = Seq(
      1 -> text(words(60, plain(1))),                // keeps; one line
      2 -> text(words(60, plain(2)), perLine = 12),  // keeps; five lines
      // quality 0.5 + 2/400 < minQ: two stopwords in 200 tokens
      3 -> text((0 until 200).map(i => if (i < 2) "the" else f"d03w$i%03d")),
      4 -> text(words(30, i => f"d04word$i%03d")),   // n_tokens < 50
      5 -> text(words(60, i => f"d05${"x" * 20}$i%03d")), // mean word length > 10
      6 -> (text(words(60, plain(6))) + " #" * 8),   // symbol ratio ≥ 0.1
      7 -> words(60, plain(7)).grouped(10)           // every line a bullet
        .map("- " + _.mkString(" ")).mkString("\n"),
      8 -> words(60, plain(8)).grouped(10).zipWithIndex // half the lines end in "..."
        .map { case (l, i) => l.mkString(" ") + (if (i % 2 == 0) "..." else "") }.mkString("\n"),
      9 -> text(words(60, i => if (i % 3 == 1) f"${9000 + i}" else plain(9)(i))), // alpha ratio
      // one stopword in 50 tokens: quality 0.5 + 1/100 ≥ minQ, stop_hits < 2
      10 -> text((0 until 50).map(i => if (i == 0) "the" else f"d10w$i%03d")),
      11 -> text(Seq.fill(20)(Seq("the", "alpha", "beta")).flatten), // dup trigram ratio > 0.5
      12 -> "")                                      // empty text
      .map { case (id, t) => (id.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(DedupOps.minhashCandidatePairs(docs).isEmpty, "fixture docs must not be near-dups")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val all = (1L to 12L).toSet
    val failQ = all -- ids(TextOps.qualityScore(docs).filter(col("quality") >= minQ))
    val failG = all -- ids(TextOps.gopherQuality(docs).filter(col("keep")))
    val failR = all -- ids(TextOps.repetitionStats(docs).filter(col("dup_trigram_ratio") <= 0.5))
    // each doc 3–11 fails exactly one family; the empty doc fails quality and Gopher
    assert(failQ == Set(3L, 12L), s"quality: $failQ")
    assert(failG == Set(4L, 5L, 6L, 7L, 8L, 9L, 10L, 12L), s"gopher: $failG")
    assert(failR == Set(11L), s"repetition: $failR")
    val fused = ids(Pipelines.runCorpusPipelineFull(docs, minQuality = minQ))
    assert(fused == all -- failQ -- failG -- failR)
    assert(fused == Set(1L, 2L))
  }

  test("corpus pipelines leave no cached data behind") {
    import spark.implicits._
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val stopdense = "the a of and to in " * 10
    val docs = Seq((1L, stopdense), (2L, stopdense), (3L, stopdense + "again"),
        (9L, "zz qq ww zz qq ww zz qq"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    spark.catalog.clearCache()
    // compared by id, not count: the context cleaner may free blocks
    // other tests left behind while this one runs
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Pipelines.runCorpusPipelineFull(docs).collect()
    Pipelines.runCorpusPipeline(docs).collect()
    assert(cacheManager.isEmpty, "a corpus pipeline left cached data behind")
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"blocks still cached: $left")
  }
}
