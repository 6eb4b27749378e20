package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, FinanceOps, TextOps}
import graft.sources.{IngestOps, Tables}

/** The reference's two end-to-end pipelines as linear driver programs
  * (SURVEY.md §3 E1–E3, §2.8 O1): Spark's lazy plan subsumes intra-query
  * ordering, so "orchestration" is just function composition — the dbt
  * `ref()` graph is the Scala val graph (O5).
  */
object Pipelines {

  /** O3: source-fetch retry with backoff — the Airflow `retries: 1` analog
    * (reference dags/etl_dag.py:9). Compute-side retries are Spark's own
    * task retries; this guards the driver-side fetch only.
    */
  def withRetries[A](n: Int, backoffMs: Long = 1000)(f: () => A): A = {
    var attempt = 0
    var delay = backoffMs
    while (true) {
      try return f()
      catch {
        case e: Exception =>
          if (attempt >= n) throw e
          attempt += 1
          Thread.sleep(delay)
          delay *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** S1/S2: the fan-out fetch driver with the transport injected — the
    * library owns per-request retry/backoff (O3), rate-limit pacing (O4,
    * the reference's `time.sleep(15)` for Alpha Vantage's 5 req/min,
    * README.md:367-369), and verbatim landing (S3 habit: re-parses are
    * free, re-fetches are not; reference data_loader/fetch_data.py:13-14
    * writes the payload straight to disk). The HTTP GET itself is a
    * caller-supplied `fetch` function: the engine carries no transport
    * dependency (and this environment has no egress), while a real
    * deployment passes `url => requests-equivalent(url)`. Landing is
    * driver-side by design, exactly like the reference and any Airflow
    * task — API payloads are KBs; scale lives downstream of the landing
    * zone.
    *
    * @return the landed file paths, ready for `Tables.readFredJson`
    */
  def fetchToRaw(fetch: String => String, urls: Seq[String], landingDir: String,
                 rateLimitMs: Long = 0, retries: Int = 2,
                 backoffMs: Long = 1000): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landingDir))
    urls.zipWithIndex.map { case (url, i) =>
      if (rateLimitMs > 0 && i > 0) Thread.sleep(rateLimitMs)
      val payload = withRetries(retries, backoffMs)(() => fetch(url))
      val path = java.nio.file.Paths.get(landingDir, f"payload_$i%05d.json")
      java.nio.file.Files.writeString(path, payload)
      path.toString
    }
  }

  /** S1/S2 at scale (SURVEY.md:110): the distributed fetch tier — a
    * `mapPartitions` fetcher over a (series_id, url) DataFrame, for when
    * the series universe outgrows a driver loop (the reference fetches 3
    * series; a real backfill fetches every FRED series × vintage). Routing:
    *  - ≤ `distributeAbove` rows → the sequential driver path (same
    *    per-series landing layout), which is also the only path that can
    *    enforce a STRICT global request interval — one clock, one loop.
    *  - above it → repartition by series_id and fetch inside each
    *    partition with per-partition pacing. `rateLimitMs` is the MINIMUM
    *    INTERVAL PER PARTITION, so the aggregate rate is up to
    *    `parallelism / rateLimitMs` req/ms — right when the quota is
    *    per-connection/per-key-shard or generous; a single hard global
    *    quota (Alpha Vantage's 5 req/min) belongs on the driver path,
    *    which is why the router exists instead of one code path.
    *
    * Landing names are keyed by series_id (not arrival index): re-runs
    * overwrite in place idempotently and the layout is identical whichever
    * tier fetched. On a cluster `landingDir` must be shared storage (the
    * raw zone); executors write through `java.nio.file` exactly like the
    * driver tier, so local-mode tests exercise the real write path.
    * `fetch` is shipped to executors — it must be serializable and
    * self-contained (a pure `url => body` closure; per-partition client
    * init belongs inside it, the mapPartitions analog of
    * MultimodalOps' per-partition codec init).
    *
    * @return landed file paths, sorted (driver-collected: one KB-scale
    *         path string per series — the payloads themselves never
    *         transit the driver on the distributed tier)
    */
  def fetchSeriesToRaw(fetch: String => String, series: DataFrame, landingDir: String,
                       rateLimitMs: Long = 0, retries: Int = 2, backoffMs: Long = 1000,
                       distributeAbove: Int = 32, parallelism: Int = 0): Seq[String] = {
    val spark = series.sparkSession
    import spark.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landingDir))
    val pairs = series.select(col("series_id").cast("string"), col("url").cast("string"))
    val n = pairs.count()
    if (n <= distributeAbove) {
      // small set: sequential, strictly globally paced — the quota-safe tier
      pairs.as[(String, String)].collect().sortBy(_._1).zipWithIndex.map {
        case ((sid, url), i) =>
          if (rateLimitMs > 0 && i > 0) Thread.sleep(rateLimitMs)
          val payload = withRetries(retries, backoffMs)(() => fetch(url))
          val path = java.nio.file.Paths.get(landingDir, s"payload_$sid.json")
          java.nio.file.Files.writeString(path, payload)
          path.toString
      }.toSeq
    } else {
      val parts = if (parallelism > 0) parallelism
                  else spark.sparkContext.defaultParallelism
      pairs
        .repartition(parts, col("series_id"))
        .as[(String, String)]
        .mapPartitions { it =>
          var first = true
          it.map { case (sid, url) =>
            if (rateLimitMs > 0 && !first) Thread.sleep(rateLimitMs)
            first = false
            val payload = withRetries(retries, backoffMs)(() => fetch(url))
            val path = java.nio.file.Paths.get(landingDir, s"payload_$sid.json")
            java.nio.file.Files.writeString(path, payload)
            path.toString
          }
        }
        .collect().toSeq.sorted
    }
  }

  /** E1/E3: the FRED pipeline — landed JSON payload → flatten → staging
    * cast → yearly mart, materialized as a table. Mirrors
    * extract >> create_tables >> load >> dbt (reference README.md:288)
    * collapsed into one SparkSession.
    *
    * @param payloadPath raw-zone JSON (the fetcher's landing file, S1/S3)
    * @return the materialized mart
    */
  def runFredPipeline(spark: SparkSession, payloadPath: String, seriesId: String,
                      martTable: String = "mart_financial_summary"): DataFrame = {
    val payload = Tables.readFredJson(spark, payloadPath)
    val raw = FinanceOps.flattenFredPayload(payload, seriesId)
    val stg = FinanceOps.stgFinancialData(raw)
    FinanceOps.materializeView(stg, "stg_financial_data")        // S9: staging = view
    val mart = FinanceOps.martFinancialSummary(stg)
    FinanceOps.materializeTable(mart, martTable)                 // S10: mart = table
    spark.table(martTable)
  }

  /** [EXT] The LLM training-data pipeline end-to-end, one call: exact
    * dedup → near-dup collapse (MinHash LSH pairs → connected components,
    * keep each cluster's min doc) → quality floor → fixed-window chunking.
    * Returns the chunked training corpus. Every stage is an operator from
    * DedupOps/TextOps, so the whole chain stays a declarative plan (the
    * one iterative step, dupComponents, runs O(log²) star rounds at most,
    * and none once the pair graph fits its driver-side cap) — and the
    * full composition is DuckDB-oracled as the `corpus_pipeline` query.
    */
  def runCorpusPipeline(docs: DataFrame, minQuality: Double = 0.3): DataFrame =
    TextOps.chunks(dedupSurvivors(docs).filter(TextOps.quality >= minQuality))

  /** [EXT] The corpus pipeline at full width — every filter family a
    * modern training-data pipeline runs, composed in the standard order:
    * exact dedup → near-dup collapse → quality floor → Gopher rule gate →
    * repetition cap → PII scrub → chunking. Deduplication runs FIRST
    * (cheapest way to shrink everything downstream); per-doc filters run
    * before redaction so their signals see the original text; redaction
    * precedes chunking so no chunk straddles a scrubbed span. All stages
    * are declarative single passes except dupComponents (O(log²) star
    * rounds at most, none once the pair graph fits its driver-side cap)
    * — and the whole composition is DuckDB-oracled as ONE query
    * (`corpus_full`).
    *
    * The three filter families are one per-row predicate
    * ([[TextOps.corpusKeep]]) and one Filter: none of them aggregates, so
    * nothing is branched, joined back or persisted. The predicate reads
    * only `text`, so Catalyst pushes it below the exact-dedup aggregate
    * to the scan, where it tokenizes each row once for all three.
    */
  def runCorpusPipelineFull(docs: DataFrame, minQuality: Double = 0.3,
                            maxDupTrigram: Double = 0.5): DataFrame = {
    val kept = dedupSurvivors(docs).filter(TextOps.corpusKeep(minQuality, maxDupTrigram))
    TextOps.chunks(TextOps.redactPii(kept).withColumnRenamed("redacted", "text"))
  }

  /** (doc_id, text) after exact dedup and near-dup collapse: every doc
    * outside a duplicate component, plus each component's min doc_id.
    */
  private def dedupSurvivors(docs: DataFrame): DataFrame = {
    val exact = DedupOps.exactDedup(docs)
    val comps = DedupOps.dupComponents(DedupOps.minhashCandidatePairs(exact))
    exact.join(comps, Seq("doc_id"), "left")
      .filter(col("component").isNull || col("component") === col("doc_id"))
      .select(col("doc_id"), col("text"))
  }

  /** E2: the fundamentals pipeline — raw-zone CSV → ingest defaults →
    * staging join → KPI mart (reference README.md:421-495).
    *
    * @param rawCsvPath raw-zone CSV (the S3→warehouse load input, S6)
    */
  def runFundamentalsPipeline(spark: SparkSession, rawCsvPath: String,
                              kpiTable: String = "mart_financial_kpis"): DataFrame = {
    val raw = IngestOps.withIngestTimestamp(          // F5: created_at default
      Tables.readFundamentalsCsv(spark, rawCsvPath))
    val stg = FinanceOps.stgFundamentals(raw)
    FinanceOps.materializeView(stg, "stg_fundamentals")
    val kpis = FinanceOps.financialKpis(stg)
    FinanceOps.materializeTable(kpis, kpiTable)
    spark.table(kpiTable)
  }
}
