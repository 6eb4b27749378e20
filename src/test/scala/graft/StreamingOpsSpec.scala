package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** Streaming suite (SURVEY.md §2.10 / §5.5): the same StreamingOps
  * transforms driven both as batch frames and as real file streams with
  * AvailableNow catch-up semantics (the reference's daily-append analog).
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def eventsDf = Seq(
    (1L, ts("2024-01-01 00:10:00"), 10L, "purchase", 5.0),
    (2L, ts("2024-01-01 05:00:00"), 10L, "purchase", 7.0),
    (3L, ts("2024-01-02 00:01:00"), 11L, "signup", 0.0),
    (1L, ts("2024-01-01 00:10:00"), 10L, "purchase", 5.0)) // duplicate event_id
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("tumblingCounts (batch surface): day windows aggregate counts + exact totals") {
    val got = StreamingOps.tumblingCounts(eventsDf)
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) -> (r.getLong(2), r.getDecimal(3).toString)).toMap
    assert(got(("2024-01-01 00:00:00.0", "purchase")) == (3L, "17.00"))
    assert(got(("2024-01-02 00:00:00.0", "signup")) == (1L, "0.00"))
  }

  test("userSessions: events split into sessions by 30min gap") {
    val got = StreamingOps.userSessions(eventsDf).collect()
    // user 10: two sessions (00:10 and 05:00 are > 30min apart), user 11: one
    assert(got.count(_.getLong(2) == 10L) == 2)
    assert(got.count(_.getLong(2) == 11L) == 1)
  }

  test("file stream end-to-end: watermark + tumbling agg + AvailableNow writes parquet") {
    val in = Files.createTempDirectory("graft-stream-in")
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    // Three files processed one per micro-batch: append mode only emits a
    // window once the watermark (computed from *prior* batches) passes its
    // end, so closing the 01-01 day window takes a batch with later data
    // plus one more batch to flush — exactly the semantics worth pinning.
    eventsDf.write.parquet(in.resolve("f1").toString)
    Seq((10L, ts("2024-01-02 02:00:00"), 12L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(in.resolve("f2").toString)
    Seq((11L, ts("2024-01-03 12:00:00"), 12L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(in.resolve("f3").toString)

    val stream = spark.readStream.schema(eventsDf.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(in.toString)
    val agg = StreamingOps.tumblingCounts(StreamingOps.withEventTimeBounds(stream))
    val q = StreamingOps.availableNowWriter(agg, out, ckpt).start()
    awaitBounded(q, 180000)

    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(rows(("2024-01-01 00:00:00.0", "purchase")) == 3L)
    // the 01-03 window stayed open at shutdown → append mode never emitted it
    assert(!rows.keys.exists(_._1.startsWith("2024-01-03")))
  }

  test("purchaseAttribution: batch semantics — signups within the window only") {
    val purchases = Seq((1L, ts("2024-01-10 00:00:00"), 10L),
      (2L, ts("2024-01-20 00:00:00"), 10L))
      .toDF("event_id", "ts", "user_id")
    val signups = Seq((3L, ts("2024-01-08 00:00:00"), 10L),  // within 7d of p1 only
      (4L, ts("2023-12-01 00:00:00"), 10L),                  // too old for both
      (5L, ts("2024-01-09 00:00:00"), 11L))                  // other user
      .toDF("event_id", "ts", "user_id")
    val got = StreamingOps.purchaseAttribution(purchases, signups)
      .collect().map(r => (r.getLong(0), r.getTimestamp(3).toString))
    assert(got.toSeq == Seq((1L, "2024-01-08 00:00:00.0")))
  }

  test("stream-stream interval join end-to-end with watermark-bounded state") {
    val pin = Files.createTempDirectory("graft-attr-p").toString
    val sin = Files.createTempDirectory("graft-attr-s").toString
    val out = Files.createTempDirectory("graft-attr-out").toString
    val ckpt = Files.createTempDirectory("graft-attr-ckpt").toString
    val schema = Seq((0L, ts("2024-01-01 00:00:00"), 0L)).toDF("event_id", "ts", "user_id").schema
    Seq((1L, ts("2024-01-10 00:00:00"), 10L)).toDF("event_id", "ts", "user_id").write.parquet(pin + "/f1")
    Seq((3L, ts("2024-01-08 00:00:00"), 10L), (4L, ts("2023-12-01 00:00:00"), 10L))
      .toDF("event_id", "ts", "user_id").write.parquet(sin + "/f1")
    val p = spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(pin)
    val s = spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(sin)
    val q = StreamingOps.availableNowWriter(
      StreamingOps.purchaseAttribution(p, s), out, ckpt).start()
    awaitBounded(q, 180000)
    val got = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getTimestamp(3).toString))
    assert(got.toSeq == Seq((1L, "2024-01-08 00:00:00.0")))
  }

  test("purchaseAttributionOuter: batch semantics — matched rows carry " +
       "signup_ts, orphan purchases null-pad") {
    val purchases = Seq((1L, ts("2024-01-10 00:00:00"), 10L),
      (2L, ts("2024-01-20 00:00:00"), 10L))
      .toDF("event_id", "ts", "user_id")
    val signups = Seq((3L, ts("2024-01-08 00:00:00"), 10L),
      (4L, ts("2023-12-01 00:00:00"), 10L))
      .toDF("event_id", "ts", "user_id")
    val got = StreamingOps.purchaseAttributionOuter(purchases, signups)
      .collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(3)).map(_.toString))).toMap
    assert(got(1L).contains("2024-01-08 00:00:00.0"))
    assert(got(2L).isEmpty, "orphan purchase null-pads")
  }

  test("stream-stream LEFT OUTER join: matched row emits promptly; the " +
       "orphan's null-padded row emits ONLY once the watermark passes its " +
       "expiry, and a still-open purchase emits nothing") {
    val pin = Files.createTempDirectory("graft-oattr-p").toString
    val sin = Files.createTempDirectory("graft-oattr-s").toString
    val out = Files.createTempDirectory("graft-oattr-out").toString
    val ckpt = Files.createTempDirectory("graft-oattr-ckpt").toString
    val schema = Seq((0L, ts("2024-01-01 00:00:00"), 0L))
      .toDF("event_id", "ts", "user_id").schema
    // batch 1: a matched purchase (signup within 7d) and an orphan
    Seq((1L, ts("2024-01-10 00:00:00"), 10L),
        (2L, ts("2024-01-10 06:00:00"), 20L))
      .toDF("event_id", "ts", "user_id").write.parquet(pin + "/f1")
    Seq((3L, ts("2024-01-08 00:00:00"), 10L))
      .toDF("event_id", "ts", "user_id").write.parquet(sin + "/f1")
    // batch 2: a far-future purchase on BOTH sides' clock advances the
    // watermark past the orphan's expiry (purchase_ts + 1h delay) --> its
    // null-padded row flushes; the 2099 purchase itself stays open
    Seq((9L, ts("2099-01-01 00:00:00"), 99L))
      .toDF("event_id", "ts", "user_id").write.parquet(pin + "/f2")
    Seq((8L, ts("2099-01-01 00:00:00"), 98L))
      .toDF("event_id", "ts", "user_id").write.parquet(sin + "/f2")
    val p = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(pin)
    val s = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(sin)
    val q = StreamingOps.availableNowWriter(
      StreamingOps.purchaseAttributionOuter(p, s), out, ckpt).start()
    awaitBounded(q, 180000)
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(3)).map(_.toString))).toMap
    assert(got.get(1L).exists(_.contains("2024-01-08 00:00:00.0")),
      s"matched purchase emits with its signup: $got")
    assert(got.contains(2L) && got(2L).isEmpty,
      s"orphan null-pads after watermark expiry: $got")
    assert(!got.contains(9L),
      s"a purchase whose expiry the watermark never crossed stays in state: $got")
  }

  test("dedupWithinWatermark on a stream drops duplicate event_ids") {
    val in = Files.createTempDirectory("graft-dedup-in").toString
    val out = Files.createTempDirectory("graft-dedup-out").toString
    val ckpt = Files.createTempDirectory("graft-dedup-ckpt").toString
    eventsDf.write.mode("overwrite").parquet(in)

    val stream = spark.readStream.schema(eventsDf.schema).parquet(in)
    val deduped = StreamingOps.dedupWithinWatermark(StreamingOps.withEventTimeBounds(stream))
    val q = StreamingOps.availableNowWriter(deduped, out, ckpt).start()
    awaitBounded(q, 120000)

    val got = spark.read.parquet(out)
    assert(got.count() == 3)
    assert(got.filter($"event_id" === 1L).count() == 1)
  }

  test("jdbcSinkWriter: micro-batches land in the warehouse via foreachBatch, restart resumes") {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graftstream;create=true"
    val in = Files.createTempDirectory("graft-jdbc-in").toString
    val ckpt = Files.createTempDirectory("graft-jdbc-ckpt").toString
    def readBack() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "stream_mart").load()

    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(in)
      val q = StreamingOps.jdbcSinkWriter(stream, url, "stream_mart", "app", "app",
          ckpt, numPartitions = 2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      awaitBounded(q, 120000)
    }
    runOnce()
    assert(readBack().count() == 2)
    assert(readBack().columns.contains("batch_id"), "at-least-once provenance column")
    // second run with the SAME checkpoint and no new files: nothing re-lands
    runOnce()
    assert(readBack().count() == 2, "checkpoint must prevent re-processing committed batches")
    // new file arrives -> only the delta lands
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(in)
    runOnce()
    assert(readBack().count() == 3)
    assert(readBack().select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("jdbcSinkWriterIdempotent: forced replay (commit marker deleted) lands exactly once") {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graftreplay;create=true"
    val in = Files.createTempDirectory("graft-replay-in").toString
    val ckpt = Files.createTempDirectory("graft-replay-ckpt").toString
    def readBack() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "replay_mart").load()

    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    def runOnce(table: String, ckptPath: String, idempotent: Boolean): Unit = {
      val stream = spark.readStream.schema(schema).parquet(in)
      val writer =
        if (idempotent)
          StreamingOps.jdbcSinkWriterIdempotent(stream, url, table, "app", "app",
            ckptPath, numPartitions = 2)
        else
          StreamingOps.jdbcSinkWriter(stream, url, table, "app", "app",
            ckptPath, numPartitions = 2)
      val q = writer
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      awaitBounded(q, 120000)
    }
    // Forced replay: clone the checkpoint WITHOUT the batch-0 commit
    // marker — byte-for-byte the crash window between sink write and
    // checkpoint commit. (A clone rather than deleting in place: the
    // session-level HDFSMetadataLog cache still remembers the original
    // path's commit and would flag the deletion as a concurrent writer.)
    // A query resumed from the clone re-executes batch 0 with the SAME
    // batch id — at-least-once delivery made observable.
    def cloneCkptWithoutCommit(src: String): String = {
      val dst = Files.createTempDirectory("graft-replay-ckpt2").toString
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(src))
      try s.forEach { p =>
        val rel = java.nio.file.Paths.get(src).relativize(p).toString
        // skip every FILE under commits/ (the batch-0 marker and its .crc
        // checksum shadow — a leftover .crc makes the re-commit's atomic
        // rename throw FileAlreadyExists); keep the empty dir itself
        val isCommitFile = (rel.startsWith("commits/") || rel.startsWith("commits\\")) &&
          !java.nio.file.Files.isDirectory(p)
        if (rel.nonEmpty && !isCommitFile) {
          val t = java.nio.file.Paths.get(dst, rel)
          if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
          else java.nio.file.Files.copy(p, t)
        }
      } finally s.close()
      dst
    }
    runOnce("replay_mart", ckpt, idempotent = true)
    assert(readBack().count() == 2)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt, "commits", "0")))
    runOnce("replay_mart", cloneCkptWithoutCommit(ckpt), idempotent = true)
    // the batch_id-keyed delete+insert collapses duplicate delivery to one copy
    assert(readBack().count() == 2,
      "replayed batch must not duplicate rows — delete+insert by batch_id")
    assert(readBack().select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // the non-idempotent contrast: plain append sink doubles on the same injection
    val ckpt2 = Files.createTempDirectory("graft-replay-plain-ckpt").toString
    runOnce("replay_plain", ckpt2, idempotent = false)
    runOnce("replay_plain", cloneCkptWithoutCommit(ckpt2), idempotent = false)
    val plain = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "replay_plain").load()
    assert(plain.count() == 4, "plain append sink doubles under replay — the contrast case")
  }

  test("corpus gate runs unchanged on a stream: gopherQuality is stateless row logic") {
    // stream/batch parity for the r6 text tier — the same projection
    // serves the ingest stream (filter-at-the-door) and the batch sweep
    val in = Files.createTempDirectory("graft-gq-in").toString
    val out = Files.createTempDirectory("graft-gq-out").toString
    val ckpt = Files.createTempDirectory("graft-gq-ckpt").toString
    val docs = Seq(
      (1L, ("the quick brown fox and the lazy dog of the old barn " * 5).trim),
      (2L, (1 to 10).map(i => s"- item $i").mkString("\n")))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(docs.schema).parquet(in)
    val gated = graft.operators.TextOps.gopherQuality(stream)
    val q = gated.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    awaitBounded(q, 120000)
    val got = spark.read.parquet(out).select("doc_id", "keep")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> false))
  }

  test("corpusScreenWriter: later micro-batches AND later runs screen against the " +
       "durable index — history never re-admits") {
    val in = Files.createTempDirectory("graft-screen-in").toString
    val out = Files.createTempDirectory("graft-screen-out").toString
    val idx = Files.createTempDirectory("graft-screen-idx").toString
    val ckpt = Files.createTempDirectory("graft-screen-ckpt").toString
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "completely different content with no shared shingles at all here"
    // two files appended separately + maxFilesPerTrigger=1 → two
    // micro-batches: the dup (doc 2) arrives AFTER its original's batch
    Seq((1L, textA)).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(in)
    Seq((2L, textA), (3L, textB)).toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(in)
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = StreamingOps.corpusScreenWriter(stream, idx, out, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      awaitBounded(q, 120000)
    }
    run()
    val clean1 = spark.read.parquet(out).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean1.values.toSet == Set(textA, textB),
      s"exact dup of an earlier batch must screen out: $clean1")
    // second RUN, new data: another dup of textA (from the index, not memory)
    // plus a fresh doc — only the fresh doc lands
    Seq((4L, textA), (5L, "yet another brand new document body entirely")).toDF("doc_id", "text")
      .repartition(1).write.mode("append").parquet(in)
    run()
    val clean2 = spark.read.parquet(out).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!clean2.keySet.contains(4L), "cross-RUN dup must screen against the durable index")
    assert(clean2.keySet.contains(5L), "fresh doc admitted")
    assert(spark.read.parquet(s"$idx/fp").count() == 3, "one fp per admitted doc")
  }

  test("mvStreamWriter: streamed state equals the batch full recompute; a " +
       "forced replay of the last batch rewrites its version, never " +
       "double-merges") {
    val in = Files.createTempDirectory("graft-mv-in").toString
    val state = Files.createTempDirectory("graft-mv-state").toString
    val ckpt = Files.createTempDirectory("graft-mv-ckpt").toString
    def orders(rows: (Long, String, Double, String)*) =
      rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice", "d")
        .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
    orders((1L, "O", 10.10, "1998-01-05"), (2L, "F", 20.20, "1998-01-20"))
      .repartition(1).write.mode("append").parquet(in)
    orders((3L, "O", 30.30, "1998-02-01"), (4L, "O", 40.40, "1998-01-07"))
      .repartition(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def run(ckptPath: String): Unit = {
      // one file per micro-batch -> the two appends land as two batches
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = StreamingOps.mvStreamWriter(stream, state, ckptPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      awaitBounded(q, 120000)
    }
    run(ckpt)
    assert(StreamingOps.mvVersions(state).sorted == Seq(0L, 1L),
      s"two micro-batches -> two state versions: ${StreamingOps.mvVersions(state)}")
    def latest() = graft.operators.RelationalOps
      .mvRead(StreamingOps.mvStateLatest(spark, state))
      .collect().map(_.toString).sorted.toSeq
    val full = graft.operators.RelationalOps
      .mvRead(graft.operators.RelationalOps.mvState(spark.read.parquet(in)))
      .collect().map(_.toString).sorted.toSeq
    val streamed = latest()
    assert(streamed == full, s"streamed MV\n$streamed\nvs batch recompute\n$full")
    // forced replay of batch 1: clone the checkpoint without its commit
    // marker (same injection as the JDBC replay spec); the replayed merge
    // must land v=1 from v=0 + batch 1 again — NOT v=1 + batch 1 twice
    val ckpt2 = Files.createTempDirectory("graft-mv-ckpt2").toString
    val src = java.nio.file.Paths.get(ckpt)
    val s = java.nio.file.Files.walk(src)
    try s.forEach { p =>
      val rel = src.relativize(p).toString
      val isLastCommit = (rel == "commits/1" || rel == "commits/.1.crc" ||
        rel == "commits\\1" || rel == "commits\\.1.crc") &&
        !java.nio.file.Files.isDirectory(p)
      if (rel.nonEmpty && !isLastCommit) {
        val t = java.nio.file.Paths.get(ckpt2, rel)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    } finally s.close()
    run(ckpt2)
    assert(latest() == full,
      "replayed batch must rewrite its version deterministically, not re-merge")
    assert(StreamingOps.mvVersions(state).sorted == Seq(0L, 1L),
      "replay reuses the SAME batch id / version directory")
    // retention: a third batch then prune to the newest two — the pruned
    // set is exactly the oldest version, the current state is untouched
    orders((5L, "F", 50.50, "1998-03-03")).repartition(1)
      .write.mode("append").parquet(in)
    run(ckpt)
    assert(StreamingOps.mvVersions(state).sorted == Seq(0L, 1L, 2L))
    val pruned = StreamingOps.mvPruneVersions(state, keepLast = 2)
    assert(pruned == Seq(0L), s"oldest version pruned: $pruned")
    assert(StreamingOps.mvVersions(state).sorted == Seq(1L, 2L))
    val fullNow = graft.operators.RelationalOps
      .mvRead(graft.operators.RelationalOps.mvState(spark.read.parquet(in)))
      .collect().map(_.toString).sorted.toSeq
    assert(latest() == fullNow, "pruning never touches the live state")
    intercept[IllegalArgumentException] {
      StreamingOps.mvPruneVersions(state, keepLast = 1)
    }
  }

  test("enrichWithSegments: stream-static broadcast join — streamed result " +
       "equals the batch face across multi-batch input") {
    val in = Files.createTempDirectory("graft-enrich-in").toString
    val ckpt = Files.createTempDirectory("graft-enrich-ckpt").toString
    val events = (1 to 300).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:00"),
        (i % 7).toLong, if (i % 3 == 0) "purchase" else "view", i * 1.5)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val dim = (0 to 4).map(k => (k.toLong, s"SEG${k % 2}")).toDF("c_custkey", "c_mktsegment")
    // several files + maxFilesPerTrigger=1 → the static side joins against
    // MANY micro-batches; the rollup state must merge to batch parity
    events.repartition(4).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = StreamingOps.enrichWithSegments(stream, dim)
      .writeStream.format("memory").queryName("enrich_stream").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    awaitBounded(q, 120000)
    val streamed = spark.table("enrich_stream").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val batch = StreamingOps.enrichWithSegments(events, dim).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // users 5,6 have no dimension row: inner join must drop them in both
    assert(batch.values.map(_._1).sum < 300)
  }

  test("driftMonitorWriter: per-micro-batch KS rows equal the batch " +
       "computation; the shifted batch alarms, the matching batch does not") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft-drift-in").toString
    val out = Files.createTempDirectory("graft-drift-out").toString
    val ckpt = Files.createTempDirectory("graft-drift-ckpt").toString
    val refDir = Files.createTempDirectory("graft-drift-ref").toString
    // healthy baseline: uniform on {10, 20, 30}
    val ref = Seq((10L, 5L), (20L, 5L), (30L, 5L)).toDF("v", "c")
    ref.write.mode("overwrite").parquet(refDir)
    // batch 0 mirrors the reference; batch 1 is shifted wholesale
    val b0 = Seq(10L, 20L, 30L).toDF("v")
    val b1 = Seq(100L, 110L, 120L).toDF("v")
    b0.coalesce(1).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = StreamingOps.driftMonitorWriter(stream, refDir, out, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      awaitBounded(q, 120000)
    }
    runOnce()
    b1.coalesce(1).write.mode("append").parquet(in)
    runOnce()
    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("n_batch"), Option(r.get(3)).map(_.toString.toLong)))).toMap
    assert(rows.size == 2, s"one audit row per micro-batch: $rows")
    // stream rows must EQUAL the batch-side computation per batch
    val exp0 = graft.operators.StatsOps.ksAgainstReference(b0, ref).head()
    val exp1 = graft.operators.StatsOps.ksAgainstReference(b1, ref).head()
    val got = rows.values.toSet
    assert(got == Set(
      (exp0.getLong(0), Option(exp0.get(3)).map(_.toString.toLong)),
      (exp1.getLong(0), Option(exp1.get(3)).map(_.toString.toLong))),
      s"stream $got vs batch {$exp0, $exp1}")
    assert(exp0.getLong(3) == 0L && exp1.getLong(3) == 1000000L,
      "matching batch reads 0, shifted batch alarms at 1e6")
  }

  test("seasonalMonitorWriter: an on-pattern micro-batch stays silent, an " +
       "off-pattern day alarms with the shared batch residual definition") {
    import java.nio.file.Files
    import graft.operators.EventOps
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = Files.createTempDirectory("graft-seas-in").toString
    val out = Files.createTempDirectory("graft-seas-out").toString
    val ckpt = Files.createTempDirectory("graft-seas-ckpt").toString
    val baseDir = Files.createTempDirectory("graft-seas-base").toString
    // history: Mondays run ~100, Sundays ~10 — baseline from the batch op
    val hist = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "p", 1.00, "{}"),
      (2L, ts("2024-01-08 10:00:00"), 1L, "p", 1.00, "{}"),
      (3L, ts("2024-01-07 10:00:00"), 1L, "p", 0.10, "{}"),
      (4L, ts("2024-01-14 10:00:00"), 1L, "p", 0.10, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    EventOps.seasonalBaseline(hist).write.mode("overwrite").parquet(baseDir)
    // batch 0: a NORMAL Monday (on pattern); batch 1: a 4x Monday
    val b0 = Seq((10L, ts("2024-01-15 10:00:00"), 1L, "p", 1.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val b1 = Seq((11L, ts("2024-01-22 10:00:00"), 1L, "p", 4.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    b0.coalesce(1).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = StreamingOps.seasonalMonitorWriter(stream, baseDir, out, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      awaitBounded(q, 120000)
    }
    runOnce()
    b1.coalesce(1).write.mode("append").parquet(in)
    runOnce()
    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        r.getAs[Long]("residual_ppm"))
    // on-pattern Monday emits NOTHING; the 4x Monday alarms, and the
    // stream row equals the batch-side residual on the same slice
    assert(rows.toMap.keySet == Set("2024-01-22"), rows.toSeq.toString)
    val base = spark.read.parquet(baseDir)
    val exp = EventOps.seasonalResiduals(
      EventOps.dailyCentsWithDow(b1), base).head().getLong(4)
    assert(rows.toMap.apply("2024-01-22") == exp && exp == 3000000L,
      s"stream ${rows.toMap} vs batch $exp")
  }

  test("Debounce: batch face equals the SQL window audit; a burst split " +
       "across micro-batches still collapses (state carries the chain)") {
    import spark.implicits._
    import java.nio.file.Files
    def ts(s: String) = Timestamp.valueOf(s)
    val raw = Seq(
      (1L, "view", ts("2024-01-01 00:00:00"), 1L),
      (1L, "view", ts("2024-01-01 00:00:02"), 2L),
      (1L, "view", ts("2024-01-01 00:00:04"), 3L),
      (1L, "view", ts("2024-01-01 00:00:10"), 4L),
      (1L, "click", ts("2024-01-01 00:00:01"), 5L))
      .toDF("user_id", "event_type", "ts", "event_id")
    // batch face: kept ids match the gaps-and-islands definition
    val keptBatch = graft.streaming.Debounce
      .debounce(raw.as[graft.streaming.Debounce.Event]).collect()
      .map(_.event_id).sorted
    assert(keptBatch.sameElements(Array(1L, 4L, 5L)), keptBatch.toSeq.toString)
    // streaming: events 1-2 in batch 1; 3 (same burst, new micro-batch)
    // and 4 (new burst) in batch 2 — a per-batch window would re-admit 3
    val in = Files.createTempDirectory("graft-deb-in").toString
    val out = Files.createTempDirectory("graft-deb-out").toString
    val ckpt = Files.createTempDirectory("graft-deb-ckpt").toString
    raw.filter(col("event_id") <= 2L).coalesce(1).write.parquet(s"$in/f1")
    raw.filter(col("event_id") > 2L && col("event_id") < 5L).coalesce(1)
      .write.parquet(s"$in/f2")
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(in)
      .withWatermark("ts", "1 hour")
      .as[graft.streaming.Debounce.Event]
    val kept = graft.streaming.Debounce.debounce(stream).toDF()
    val q = StreamingOps.availableNowWriter(kept, out, ckpt).start()
    awaitBounded(q, 180000)
    val got = spark.read.parquet(out).collect().map(_.getAs[Long]("event_id")).sorted
    assert(got.sameElements(Array(1L, 4L)),
      s"burst must stay collapsed across micro-batches: ${got.toSeq}")
  }

  test("Milestones (transformWithState): spend crossings match the batch " +
       "window face, and a crossing whose purchases SPAN a micro-batch " +
       "boundary still fires exactly once (ValueState carries the total)") {
    import graft.streaming.Milestones
    import graft.streaming.Milestones.{Milestone, Purchase}
    // user 1: $60, $50, $10, $90 → cum 6000/11000/12000/21000 cents:
    // crossings at 11000 (mark 10000) and 21000 (mark 20000);
    // user 2: one $250 purchase jumps two marks → ONE row at 20000
    val purchases = Seq(
      Purchase(1L, ts("2024-01-01 00:00:00"), 60.0, 1L),
      Purchase(1L, ts("2024-01-01 01:00:00"), 50.0, 2L),
      Purchase(1L, ts("2024-01-02 00:00:00"), 10.0, 3L),
      Purchase(1L, ts("2024-01-02 01:00:00"), 90.0, 4L),
      Purchase(2L, ts("2024-01-01 00:00:00"), 250.0, 5L))
    val expected = Set(
      Milestone(1L, 2L, 10000L, 11000L),
      Milestone(1L, 4L, 20000L, 21000L),
      Milestone(2L, 5L, 20000L, 25000L))

    // batch face (the registered spend_milestones query)
    val ev = purchases.map(p => (p.event_id, p.ts, p.user_id, "purchase", p.value, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batchFace = graft.operators.EventOps.spendMilestones(ev).collect()
      .map(r => Milestone(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batchFace == expected, s"batch face: $batchFace")

    // streaming: split MID-USER-1 (crossing 2 needs state from batch A);
    // transformWithState requires the RocksDB state store provider
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Purchase]
      val q = Milestones.milestones(mem.toDS())
        .writeStream.format("memory").queryName("milestone_stream")
        .outputMode("append").start()
      try {
        mem.addData(purchases.take(2): _*)
        q.processAllAvailable()
        mem.addData(purchases.drop(2): _*)
        q.processAllAvailable()
        val got = spark.table("milestone_stream").as[Milestone].collect().toSet
        assert(got == expected, s"stream ≡ batch across the split: $got")
      } finally q.stop()
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("Milestones restart-from-checkpoint: a NEW query over the same " +
       "checkpoint resumes the RocksDB ValueState — the carried cumulative " +
       "places the post-restart crossing at the right mark") {
    import graft.streaming.Milestones
    import graft.streaming.Milestones.Purchase
    val in = Files.createTempDirectory("graft-ms-in")
    val out = Files.createTempDirectory("graft-ms-out").toString
    val ckpt = Files.createTempDirectory("graft-ms-ckpt").toString
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def runOnce(): Unit = {
        val stream = spark.readStream
          .schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE, event_id BIGINT")
          .option("recursiveFileLookup", "true")
          .parquet(in.toString).as[Purchase]
        val q = Milestones.milestones(stream).toDF()
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        awaitBounded(q, 180000)
      }
      // run 1: $60 + $50 → cum 11000, crossing at mark 10000
      Seq(Purchase(1L, ts("2024-01-01 00:00:00"), 60.0, 1L),
          Purchase(1L, ts("2024-01-01 01:00:00"), 50.0, 2L))
        .toDF().write.parquet(in.resolve("f1").toString)
      runOnce()
      // run 2 — a NEW query from the same checkpoint: $10 + $90. With the
      // restored cum=11000 the crossing lands at mark 20000/cum 21000;
      // lost state would misread it as mark 10000/cum 10000
      Seq(Purchase(1L, ts("2024-01-02 00:00:00"), 10.0, 3L),
          Purchase(1L, ts("2024-01-02 01:00:00"), 90.0, 4L))
        .toDF().write.parquet(in.resolve("f2").toString)
      runOnce()
      val got = spark.read.parquet(out)
        .select("user_id", "event_id", "milestone_cents", "cum_cents")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set((1L, 2L, 10000L, 11000L), (1L, 4L, 20000L, 21000L)),
        s"checkpoint restart must carry the cumulative: $got")
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("Milestones TTL expiry: a dormant user's cumulative expires and the " +
       "next purchase counts from zero — the same mark fires again instead " +
       "of advancing") {
    import graft.streaming.Milestones
    import graft.streaming.Milestones.Purchase
    // Two AvailableNow runs against one checkpoint with a real-time gap
    // longer than the TTL — the restart-test harness with expiry in the
    // middle. (ProcessingTime mode + a continuous trigger never settles
    // for processAllAvailable: expiry work keeps every trigger busy, so
    // the bounded-run shape is the deterministic way to drive TTL.)
    // A ProcessingTime transformWithState always asks for another batch,
    // so AvailableNow ends only with no-data batches off (Milestones'
    // scaladoc); expired state still reads as absent on the next read.
    val in = Files.createTempDirectory("graft-ttl-in")
    val out = Files.createTempDirectory("graft-ttl-out").toString
    val ckpt = Files.createTempDirectory("graft-ttl-ckpt").toString
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = spark.conf.getOption(noDataKey)
    spark.conf.set(noDataKey, "false")
    try {
      def runOnce(): Unit = {
        val stream = spark.readStream
          .schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE, event_id BIGINT")
          .option("recursiveFileLookup", "true")
          .parquet(in.toString).as[Purchase]
        val q = Milestones.milestones(stream,
            ttl = org.apache.spark.sql.streaming.TTLConfig(
              java.time.Duration.ofSeconds(2))).toDF()
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        awaitBounded(q, 180000)
      }
      // run 1: $120 → cum 12000, crossing at mark 10000; state written
      // with a 2s TTL
      Seq(Purchase(7L, ts("2024-01-01 00:00:00"), 120.0, 1L))
        .toDF().write.parquet(in.resolve("f1").toString)
      runOnce()
      Thread.sleep(5000) // let the TTL lapse in real (processing) time
      // run 2: the SAME purchase again. Expired state reads as absent →
      // the cumulative restarts at zero and the SAME 10000 mark fires
      // (un-expired state would advance to mark 20000 / cum 24000 —
      // exactly what the no-TTL restart test above proves)
      Seq(Purchase(7L, ts("2024-03-01 00:00:00"), 120.0, 2L))
        .toDF().write.parquet(in.resolve("f2").toString)
      runOnce()
      val got = spark.read.parquet(out)
        .select("user_id", "event_id", "milestone_cents", "cum_cents")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set((7L, 1L, 10000L, 12000L), (7L, 2L, 10000L, 12000L)),
        s"TTL must reset the dormant cumulative: $got")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevNoData match {
        case Some(v) => spark.conf.set(noDataKey, v)
        case None => spark.conf.unset(noDataKey)
      }
    }
  }
}
