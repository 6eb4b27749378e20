package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.concurrent.TrieMap

/** Job-count profiler: runs one registered query under a listener that
  * records every Spark job's wall-clock span and call site, then prints
  * per-job lines plus the busy/gap split — the direct measurement of
  * "job-count-bound vs task-bound" (guide §1 measure-first; §5 driver
  * synchronization). A query whose wall time is dominated by many small
  * jobs (or by gaps between them) is paying driver barriers, not task
  * work, and the fix is checkpoint cadence / job batching, not partitioning.
  * Each job also reports the tasks it ran: many near-empty tasks per job
  * mean the stage is over-partitioned for its data.
  *
  * Usage: runMain graft.JobProfile [sfDir] <query>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val (sfDir, name) = args match {
      case Array(q) => ("/root/testdata/sf0.1", q)
      case Array(d, q) => (d, q)
      case _ =>
        System.err.println("usage: runMain graft.JobProfile [sfDir] <query>")
        sys.exit(2)
    }
    val spark = GraftSession.getOrCreate("graft-job-profile")
    val starts = TrieMap.empty[Int, (Long, String)]
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    val stageJob = TrieMap.empty[Int, Int]
    val tasks = TrieMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the result stage's name carries the action's call site
        // ("localCheckpoint at SimilarityOps.scala:1302")
        val desc = js.stageInfos.lastOption.map(_.name).getOrElse("")
        starts.put(js.jobId, (js.time, desc))
        js.stageIds.foreach(stageJob.put(_, js.jobId))
      }
      // the listener bus delivers events on one thread, so this
      // read-modify-write does not race
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        stageJob.get(te.stageId).foreach(j => tasks.put(j, tasks.getOrElse(j, 0) + 1))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, d) =>
          spans.add((je.jobId, t0, je.time, d))
        }
    }
    val fn = SparkEntry.queries(name)
    // untimed warm-up: artifact builds + codegen land here, same as Bench
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    Thread.sleep(500) // let the listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = spans.asScala.toSeq.sortBy(_._2)
    val base = all.headOption.map(_._2).getOrElse(0L)
    all.foreach { case (id, s, e, d) =>
      println(f"[job] id=$id%4d start=${(s - base) / 1e3}%7.2f dur=${(e - s) / 1e3}%7.3f " +
        f"tasks=${tasks.getOrElse(id, 0)}%5d  $d")
    }
    // union of job intervals = time at least one job was running; the
    // remainder of the wall is pure driver time (planning, barriers)
    val sorted = all.map(j => (j._2, j._3)).sortBy(_._1)
    var busyMs = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) { busyMs += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busyMs += math.max(0L, curE - curS)
    val sumMs = all.map(j => j._3 - j._2).sum
    val taskTotal = all.map(j => tasks.getOrElse(j._1, 0)).sum
    println(f"[job-profile] query=$name jobs=${all.size} tasks=$taskTotal wall=$wall%.2fs " +
      f"sumJobs=${sumMs / 1e3}%.2fs busy=${busyMs / 1e3}%.2fs gap=${wall - busyMs / 1e3}%.2fs")
    spark.stop()
  }
}
