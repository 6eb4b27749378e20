package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry, Verify}

/** Benchmark JVM: one closed-loop client issuing registered queries
  * one at a time, each written to parquet so its output can be checked.
  *
  * Modes (`--mode`):
  *  - `run`: set up once, then issue passes over `--queries` in an order
  *    drawn from `--seed` until `--seconds` have elapsed at a pass
  *    boundary; every call's output lands in `--out/<pass>/<query>`. With
  *    `--trace 1` a listener records per-call Spark counters. Results go
  *    to `--result`.
  *  - `oracle-sql`: write `SparkEntry.oracleSql` for `--queries` to
  *    `--result` (no session).
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val queries = opt.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq
    opt("mode") match {
      case "oracle-sql" =>
        val sql = SparkEntry.oracleSql
        write(opt("result"), Json.obj(queries.map(q => q -> Json.str(sql(q)))))
      case "run" =>
        val spark = setUp(opt("data"), opt("warehouse"))
        // cold: from JVM start, so class loading and first codegen count
        val setup = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
        val (calls, passes) = run(spark, queries, opt("data"), opt("out"), opt("seed").toLong,
          opt("seconds").toDouble, opt("trace") == "1")
        write(opt("result"), Json.obj(Seq("calls" -> calls.mkString("[", ",", "]"),
          "passes" -> passes.mkString("[", ",", "]"), "setup_s" -> Json.num(setup))))
        spark.stop()
    }
  }

  private def write(path: String, json: String): Unit =
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))

  /** Session start plus the warm-up `graft.Bench` uses: a window, a
    * broadcast join, a higher-order lambda, a hash aggregate and a sort on
    * the smallest table, so first-plan codegen does not land on the first
    * timed query.
    */
  def setUp(data: String, warehouse: String): SparkSession = {
    val spark = GraftSession.builder("graftbench")
      .config("spark.sql.warehouse.dir", warehouse).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val r = spark.read.parquet(s"$data/region.parquet")
    val w = Window.partitionBy(col("r_regionkey")).orderBy(col("r_name"))
    r.crossJoin(broadcast(r.select(col("r_regionkey").as("k"))))
      .withColumn("rn", row_number().over(w))
      .withColumn("h",
        expr("aggregate(transform(sequence(1, 64), x -> x * 1.0d), 0d, (a, x) -> a + x)"))
      .groupBy(col("r_name")).agg(sum(col("rn")).as("s"), max(col("h")).as("m"))
      .orderBy(col("s"))
      .write.format("noop").mode("overwrite").save()
    spark
  }

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private lazy val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  def run(spark: SparkSession, queries: Seq[String], data: String, out: String,
          seed: Long, seconds: Double, trace: Boolean): (Seq[String], Seq[String]) = {
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val rng = new scala.util.Random(seed)
    val calls = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[String]
    val t00 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t00) / 1e9 < seconds) {
      val order = rng.shuffle(queries)
      heapPools.foreach(_.resetPeakUsage())
      tracer.foreach(_.startPass())
      val cpu0 = osBean.getProcessCpuTime
      val p0 = System.nanoTime()
      order.foreach { q =>
        val path = s"$out/$pass/$q"
        val before = tracer.map(_.snapshot())
        val t0 = System.nanoTime()
        var t1 = t0; var t2 = t0
        val err = try {
          val df = SparkEntry.queries(q)(spark, data)
          t1 = System.nanoTime()
          if (trace) df.queryExecution.executedPlan
          t2 = System.nanoTime()
          Verify.decimalsAsDouble(df).write.mode("overwrite").parquet(path)
          None
        } catch { case e: Throwable => Some(e.toString) }
        val t3 = System.nanoTime()
        val counts = tracer.map { tr =>
          tr.recordLeaked()
          val after = tr.snapshot()
          after.map { case (k, v) => k -> (v - before.get.getOrElse(k, 0L)) }
        }
        spark.catalog.clearCache()
        calls += Json.obj(Seq(
          "query" -> Json.str(q), "pass" -> pass.toString,
          "wall_s" -> Json.num((t3 - t0) / 1e9),
          "build_s" -> Json.num((t1 - t0) / 1e9),
          "plan_s" -> Json.num((t2 - t1) / 1e9),
          "sink_s" -> Json.num((t3 - t2) / 1e9),
          "error" -> err.map(Json.str).getOrElse("null")) ++
          counts.map(c => "counts" -> Json.obj(c.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })))
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      passes += Json.obj(Seq(
        "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu),
        "heap_peak_mb" -> Json.num(heapPeak)) ++
        tracer.map(tr => "trace" -> tr.passSummary()))
      pass += 1
    }
    tracer.foreach(_.close())
    (calls.toSeq, passes.toSeq)
  }

  /** Counts Spark work from outside the engine: scheduler and task metrics
    * from a listener, operator counts from every executed plan. Counters
    * are cumulative; the caller drains the bus and diffs snapshots around
    * each call, which is exact because calls never overlap.
    */
  final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    private val sc = spark.sparkContext
    private val counters = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val jobStarts = mutable.Map.empty[Int, Long]
    private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    private val rddBlocks = mutable.Map.empty[String, Long]
    private var cacheBytes = 0L
    private var cachePeak = 0L
    sc.addSparkListener(this)
    spark.listenerManager.register(this)

    private def add(k: String, v: Long): Unit = counters(k) += v

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      add("jobs", 1)
      val props = Option(e.properties).map(_.asScala.values.mkString(" ")).getOrElse("")
      if (props.contains("broadcast exchange")) add("broadcast_jobs", 1)
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      add("tasks", 1)
      if (e.reason != org.apache.spark.Success) add("failed_tasks", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      add("stages", 1)
      Option(e.stageInfo.taskMetrics).foreach { m =>
        add("input_bytes", m.inputMetrics.bytesRead)
        add("input_records", m.inputMetrics.recordsRead)
        add("output_bytes", m.outputMetrics.bytesWritten)
        add("output_records", m.outputMetrics.recordsWritten)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_read_records", m.shuffleReadMetrics.recordsRead)
        add("spill_disk_bytes", m.diskBytesSpilled)
        add("executor_cpu_ns", m.executorCpuTime)
        add("executor_run_ms", m.executorRunTime)
        add("gc_ms", m.jvmGCTime)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cacheBytes += size - rddBlocks.getOrElse(id, 0L)
        if (size > 0) rddBlocks(id) = size else rddBlocks.remove(id)
        cachePeak = math.max(cachePeak, cacheBytes)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
      add("queries_executed", 1)
      walk(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** Operators of the plan that ran: AQE's final plan, query stages and
      * subqueries included, reused exchanges counted once at their source.
      */
    private def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec => add("exchanges", 1)
        case _: BroadcastExchangeExec => add("broadcasts", 1)
        case _: SortExec => add("sorts", 1)
        case _: WindowExec => add("windows", 1)
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ReusedExchangeExec =>
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }

    /** Bytes of RDD blocks still stored when a call returns; added to the
      * counters so the caller's diff attributes them to that call.
      */
    def recordLeaked(): Unit = {
      BenchBus.drain(sc)
      val held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      synchronized { add("cache_leaked_bytes", held) }
    }

    def snapshot(): Map[String, Long] = { BenchBus.drain(sc); synchronized(counters.toMap) }

    def startPass(): Unit = synchronized { jobSpans.clear(); cachePeak = cacheBytes }

    /** Job-interval union and cache peak over one pass. */
    def passSummary(): String = {
      BenchBus.drain(sc)
      synchronized {
        var busy = 0L; var s = Long.MinValue; var e = Long.MinValue
        jobSpans.sortBy(_._1).foreach { case (a, b) =>
          if (a > e) { busy += e - s; s = a; e = b } else e = math.max(e, b)
        }
        busy += e - s
        Json.obj(Seq("job_busy_s" -> Json.num(busy / 1e3),
          "cache_peak_mb" -> Json.num(cachePeak / 1048576.0)))
      }
    }

    def close(): Unit = {
      BenchBus.drain(sc)
      sc.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
  }

  /** Just enough JSON writing for the result file. */
  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String = java.lang.Double.toString(d)
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  }
}
