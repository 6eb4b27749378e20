package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Every default is the one we'd make on a real cluster too:
  *  - AQE on: runtime join re-planning + skew-join splitting, which is the
  *    scale path for the TPC-H-style joins (SURVEY.md §4).
  *  - shuffle.partitions follows core count locally; on a 1000-executor
  *    cluster this is overridden by the submitter (AQE coalesces anyway).
  *  - UTC session timezone: required for DuckDB-oracle timestamp parity
  *    (SURVEY.md §7.3.3).
  *  - Each generated-code shape compiles once per JVM: class names carry
  *    no stage id, and the compiled-class cache holds a whole suite's
  *    shapes (SCALE.md r22).
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Shuffle parallelism tracks core count by default; the override is
    * the data-volume knob the SCALE.md stress table measures — at a ×100
    * corpus, per-reducer sort size at 32 partitions leaves cores idle and
    * forces spill, and raising the INITIAL count is safe because AQE
    * coalesces the small ones back down — in cached and checkpointed
    * plans too, since `canChangeCachedPlanOutputPartitioning` is on.
    */
  def shufflePartitions: String =
    sys.env.getOrElse(
      "SPARK_GRAFT_SHUFFLE_PARTITIONS",
      math.max(8 * cpus.toInt, 256).toString)

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      // Shuffle parallelism defaults to 8×cores (≥256), NOT core count —
      // the data-scaling default the ×10/×100 stress measurements demanded
      // (SCALE.md, jaccard cause #1): pinned to cores, a ×100 corpus makes
      // every per-reducer sort run ~100× over its sized share and spill
      // (measured: guarded jaccard 86.6 s at 32 partitions, 52.4 s — back
      // to linear — at 256). Scaling only AQE's initialPartitionNum was
      // measured INSUFFICIENT (159 s at ×100: exchanges AQE declines to
      // coalesce fall back to the spark.sql.shuffle.partitions floor), so
      // the floor itself scales and AQE coalesces the small-data case back
      // down, cached frames included (see the cached-plan setting below).
      // Overridable via SPARK_GRAFT_SHUFFLE_PARTITIONS.
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Deliberately NO initialPartitionNum above the floor: r9 measured
      // planning AQE-coalescible exchanges from 2048 on the sf0.1 suite
      // and it cost 2.9× wall-clock (97 → 278 s) — iterative collapses
      // pay the tax once per ROUND and multi-stage trained tiers once
      // per stage, far outweighing the one ×100-scale query it helps.
      // The ×100 lever is the env knob below (SCALE.md r9: prefix-join
      // knee at a 2048 floor, e 1.18 → 1.01), set by the submitter who
      // knows the job is big — exactly as on a real cluster.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Spark defaults this to false: AQE then leaves a persist()ed or
      // localCheckpoint()ed plan at the full shuffle floor, so a 10-row
      // aggregate keeps 256 partitions and every join against it runs a
      // 256-task stage. On, a cached frame's partition count follows the
      // size AQE observes (corpus_full at sf0.1, 4 cores: 5394 → 39
      // tasks). The cost: a cached frame no longer reports its hash
      // partitioning, so a join on its key re-shuffles it (SCALE.md r18).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Whole-stage codegen puts the stage id in each generated class's
      // name by default, so one pipeline shape planned as another AQE
      // stage, round, factor or query is a new source and compiles again.
      // Off, identical pipelines share one source and one compiled class
      // (ann_audit at sf0.01, one cold pass: ~405 → ~195 Janino compiles).
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Spark's compiled-class cache is a 100-entry LRU, and one ann_audit
      // pass needs ~200 entries even without ids, so each round evicted
      // the shapes the next one needed: a second pass in the same JVM
      // recompiled ~300 classes. The whole registry at sf0.001 fills 5014
      // entries (2988 distinct sources; Spark keys each by the thread's
      // class loader too), so 8192 holds every registered query's classes
      // at once, for ~37 MB more metaspace than the default cap. Static:
      // it is read once, when the JVM first generates code.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
