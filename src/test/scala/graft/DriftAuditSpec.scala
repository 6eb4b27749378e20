package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.SimilarityOps

/** The drift audits' shared harness: `factorSweep`'s failure path (first
  * error propagates, sibling jobs cancelled, corpora released) and its
  * row order; the IVF audits' centroid lifecycle; and the structural
  * invariants of `graphTopKRescoredDrift`, whose values the
  * `graph_topk_rescored_drift` oracle gates.
  */
class DriftAuditSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic 64-dim corpus: component (i, j) = sin(1 + i * 64 + j). */
  private def corpus(n: Int): DataFrame =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(64)(j => math.sin(1.0 + i * 64 + j).toFloat), i % 3)
    }.toDF("vec_id", "embedding", "label")

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** Records (job group, submission time) of every factorSweep job;
    * `running` opens at factor 2's first job (each factor also runs a
    * corpus-build job of its own, so any job of the group is not enough).
    */
  private final class SweepJobs extends SparkListener {
    val starts = new ConcurrentLinkedQueue[(String, Long)]()
    val running = new CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        Option(p.getProperty("spark.jobGroup.id")).filter(_.startsWith("factorSweep-")).foreach { g =>
          starts.add(g -> e.time)
          if (p.getProperty("spark.job.description") == "drift factor 2") running.countDown()
        }
      }
  }

  test("factorSweep: a failing factor propagates its error, cancels the " +
       "sibling's jobs and releases every corpus") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val jobs = new SweepJobs
    sc.addSparkListener(jobs)
    val corpora = new ConcurrentLinkedQueue[DataFrame]()
    val siblingJobs = new java.util.concurrent.atomic.AtomicInteger()
    try {
      val err = intercept[IllegalStateException] {
        SimilarityOps.factorSweep(Seq(1, 2), { f =>
          val c = spark.range(0, 1000L * f).toDF("vec_id"); corpora.add(c); c
        }) { (f, c) =>
          if (f == 1) {
            // fail only once the sibling has a Spark job running
            assert(jobs.running.await(60, TimeUnit.SECONDS), "sibling never started a job")
            throw new IllegalStateException("factor 1 failed")
          }
          // the sibling: a stream of jobs whose tasks each sleep 300 ms —
          // 40 of them would run for 12 s if nothing cancelled them
          for (_ <- 1 to 40) {
            siblingJobs.incrementAndGet()
            c.rdd.foreachPartition(_ => Thread.sleep(300))
          }
          c
        }
      }
      val returned = System.currentTimeMillis()
      assert(err.getMessage == "factor 1 failed")
      assert(siblingJobs.get() < 40, "the sibling's job stream was not cut short")
      val groups = jobs.starts.asScala.map(_._1).toSet
      assert(groups.size == 1, s"one job group per sweep: $groups")
      val group = groups.head
      // job-end events reach the status tracker through the async bus
      val deadline = System.currentTimeMillis() + 10000
      def active = sc.statusTracker.getJobIdsForGroup(group).toSet
        .intersect(sc.statusTracker.getActiveJobIds().toSet)
      while (active.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(active.isEmpty, s"jobs of $group still active after the call returned")
      Thread.sleep(1000)
      val late = jobs.starts.asScala.filter { case (g, t) => g == group && t > returned }
      assert(late.isEmpty, s"jobs of $group started after the call returned: $late")
      assert(corpora.size == 2)
      corpora.asScala.foreach(c => assert(c.storageLevel == StorageLevel.NONE))
      assert(cacheManager.isEmpty, "the sweep left cached data behind")
    } finally {
      sc.removeSparkListener(jobs)
      spark.catalog.clearCache()
    }
  }

  test("factorSweep: a successful sweep returns its rows in factor order and " +
       "releases every corpus") {
    spark.catalog.clearCache()
    val rows = SimilarityOps.factorSweep(Seq(3, 1, 2), f => spark.range(0, 10L * f).toDF("vec_id")) {
      (f, c) =>
        // the first factor finishes last
        if (f == 3) Thread.sleep(500)
        spark.range(1).select(lit(f).as("f"), lit(c.count()).as("n"))
    }.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(rows == Seq(3 -> 30L, 1 -> 10L, 2 -> 20L))
    assert(cacheManager.isEmpty, "the sweep left cached data behind")
  }

  test("ivfAppendDrift and ivfDeleteDrift release the centroids they train " +
       "and leave a caller's prebuilt centroids cached") {
    val emb = corpus(110)
    spark.catalog.clearCache()
    val app = SimilarityOps.ivfAppendDrift(emb, factors = Seq(1, 2),
      nQueries = 4, k = 3).collect()
    assert(app.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(cacheManager.isEmpty, "ivfAppendDrift left cached data behind")
    val del = SimilarityOps.ivfDeleteDrift(emb, delTenths = Seq(1, 2),
      nQueries = 4, k = 3).collect()
    assert(del.map(_.getLong(0)).toSeq == Seq(10L, 20L))
    assert(cacheManager.isEmpty, "ivfDeleteDrift left cached data behind")
    val mine = SimilarityOps.ivfTrainCentroids(emb, 16)
    try {
      SimilarityOps.ivfDeleteDrift(emb, delTenths = Seq(1), nQueries = 4, k = 3,
        prebuiltStale = Some(mine)).collect()
      SimilarityOps.ivfAppendDrift(emb, factors = Seq(1), nQueries = 4, k = 3,
        prebuiltStale = Some(mine)).collect()
      assert(mine.storageLevel != StorageLevel.NONE,
        "an audit unpersisted the caller's centroids")
    } finally spark.catalog.clearCache()
  }

  test("graphTopKRescoredDrift: rows for factors 5 and 10, rescored recall " +
       "never below plain, lift = rescored - plain, prebuilt base ≡ inline") {
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings").persist()
    val dir = java.nio.file.Files.createTempDirectory("graph-base11").toString + "/base"
    try {
      def rows(df: DataFrame): Seq[Seq[Long]] =
        df.collect().map(r => (0 until r.length).map(r.getLong)).toSeq
      val inline = rows(SimilarityOps.graphTopKRescoredDrift(emb))
      assert(inline.map(_.head) == Seq(5L, 10L), inline.toString)
      inline.foreach { case Seq(f, _, _, plain, resc, lift) =>
        assert(resc >= plain, s"factor $f: rescored $resc below plain $plain")
        assert(lift == resc - plain, s"factor $f: lift must be rescored - plain")
        assert(plain >= 0L && resc <= 1000000L)
      }
      SimilarityOps.writeGraphBase11(emb, dir)
      val stored = rows(SimilarityOps.graphTopKRescoredDrift(emb,
        prebuiltBase = Some(spark.read.parquet(dir))))
      assert(stored == inline, "prebuilt base must reproduce the inline build")
    } finally {
      emb.unpersist()
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
    }
  }
}
