package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Readers for the harness testdata plus the reference's canonical schemas.
  *
  * The reference's raw zone is loosely typed ("schema-on-load, type-on-read",
  * /root/reference/sql/init_db.sql:1-5): we mirror that by reading parquet
  * with the on-disk schema and casting in staging (FinanceOps.stgFinancialData).
  */
object Tables {
  /** Read one testdata table. Column pruning + predicate pushdown reach the
    * parquet scan because we keep this a plain declarative read.
    *
    * `events.ts` has shipped as TIMESTAMP(NANOS) in some testdata drops and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) in others, so we branch on the
    * inferred type: NANOS cannot be represented by Spark's TimestampType
    * (µs) — read it as a long (nanosAsLong) and floor-divide, the same
    * truncation DuckDB's ns→µs cast applies; MICROS arrives as
    * TIMESTAMP_NTZ — cast to the session-zone TimestampType (session zone
    * is pinned UTC, so wall-clock values are unchanged) to keep every
    * downstream operator and oracle hash identical across both layouts.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case _ =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  // --- Reference canonical schemas (SURVEY.md §1.3, FIXTURES.md §A) ---

  /** raw_financial_data — reference README.md:253-266 (company fundamentals,
    * wide). NUMERIC(18,2) → DecimalType(18,2) for finance-report fidelity.
    */
  val rawFundamentalsSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("report_type", StringType),
    StructField("fiscal_date", DateType),
    StructField("currency", StringType),
    StructField("total_revenue", DecimalType(18, 2)),
    StructField("gross_profit", DecimalType(18, 2)),
    StructField("operating_income", DecimalType(18, 2)),
    StructField("net_income", DecimalType(18, 2)),
    StructField("total_assets", DecimalType(18, 2)),
    StructField("total_liabilities", DecimalType(18, 2)),
    StructField("total_equity", DecimalType(18, 2)),
    StructField("created_at", TimestampType)))

  /** FRED `series/observations` payload shape (FIXTURES.md §A1): the nested
    * JSON the reference dumps verbatim (/root/reference/data_loader/
    * fetch_data.py:12-14). `value` is a string ("." means missing).
    */
  val fredPayloadSchema: StructType = StructType(Seq(
    StructField("realtime_start", StringType),
    StructField("realtime_end", StringType),
    StructField("units", StringType),
    StructField("count", LongType),
    StructField("observations", ArrayType(StructType(Seq(
      StructField("realtime_start", StringType),
      StructField("realtime_end", StringType),
      StructField("date", StringType),
      StructField("value", StringType)))))))

  // --- Typed readers (SURVEY.md §1.1): Dataset[T] views of the tables ---

  import org.apache.spark.sql.Dataset
  import graft.model._

  def ordersDs(spark: SparkSession, dir: String): Dataset[Order] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Order]
    load(spark, dir, "orders").as[Order]
  }

  def documentsDs(spark: SparkSession, dir: String): Dataset[Document] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Document]
    load(spark, dir, "documents").as[Document]
  }

  def eventsDs(spark: SparkSession, dir: String): Dataset[Event] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    load(spark, dir, "events").as[Event]
  }

  /** S7: DDL-style table creation — the Spark spelling of
    * `CREATE TABLE IF NOT EXISTS raw.financial_data(...)` (reference
    * sql/init_db.sql:1-5). Idempotent like the reference's IF NOT EXISTS.
    */
  def createRawFinancialTable(spark: SparkSession, name: String = "raw_financial_data_tbl"): Unit =
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $name (
         |  series_id STRING,
         |  observation_date DATE,
         |  value STRING
         |) USING parquet""".stripMargin)

  /** Read a raw FRED JSON landing file into the nested payload shape (S1). */
  def readFredJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(fredPayloadSchema).json(path)

  /** Read a raw-zone fundamentals CSV (S6: the S3→warehouse load). Explicit
    * schema, never inferSchema — at 100 TB an inference pass is a full extra
    * scan.
    */
  def readFundamentalsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(rawFundamentalsSchema).csv(path)
}
