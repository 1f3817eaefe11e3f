package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's default runtime policy.
  *
  * The reference system (frankfzw/SCache) ships its data-plane policies as a
  * forked Spark runtime — shuffle compression (`io/CompressionCodec.scala:54-95`,
  * lz4 default), Kryo fast-path (`serializer/SerializerManager.scala:73-94`),
  * balanced reduce placement (`MapOutputTracker.scala:201-210`) and map-output
  * pre-fetch (`storage/BlockManager.scala:331-352`). In a Spark-native build
  * every one of those is a configuration default, not code:
  *
  *   - lz4 shuffle compression  -> `spark.io.compression.codec=lz4` (Spark default)
  *   - balanced reduce placement -> AQE coalescing + skew-join splitting
  *   - shuffle-size prediction   -> AQE exact runtime `MapOutputStatistics`
  *   - pre-fetch / overlap       -> push-based shuffle on real clusters
  *     (`spark.shuffle.push.enabled`; a no-op in local mode, left for deploy)
  *   - streaming state beyond heap -> `spark.sql.streaming.stateStore
  *     .providerClass=...RocksDBStateStoreProvider` (bundled; off-heap/SSD
  *     state with the same exactly-once checkpoint contract — the deploy
  *     setting for billion-key mapGroupsWithState state). Not pinned here:
  *     the default heap store is faster for the local test volumes;
  *     RocksDbStateSpec proves the operators are provider-agnostic.
  *
  * Scale stance: partition counts here are sized for local[32] test runs; on a
  * 1000-executor cluster the same code runs with `shufflePartitions` raised to
  * ~2-4x total cores and AQE coalesces the rest. Nothing in the engine assumes
  * a partition count.
  */
object Engine {

  /** Default shuffle parallelism for the local[32] test harness. */
  val LocalShufflePartitions = 32

  def session(appName: String = "graft", cores: Int = 0): SparkSession = {
    val n = if (cores > 0) cores
      else Runtime.getRuntime.availableProcessors.min(LocalShufflePartitions)
    configure(SparkSession.builder().master(s"local[$n]"), appName)
      .config("spark.sql.shuffle.partitions", n.toString) // not the 200 default
      .getOrCreate()
  }

  /** Apply engine defaults to any builder (for callers that pick their own
    * master and session settings). */
  def configure(b: SparkSession.Builder, appName: String): SparkSession.Builder = b
    .appName(appName)
    // explicit multi-key sorts radix-sort their leading key and order the
    // tie runs in a streaming pass (graft.plans.TieRunSort), then the
    // eager-audit capture hook (graft.plans.PlanCapture: a volatile read +
    // identity unless Scale's eager audit arms the sink) — in that order,
    // so captured plans show the rewrite
    .withExtensions { ext =>
      ext.injectQueryStagePrepRule(_ => graft.plans.TieRunSort)
      ext.injectQueryStagePrepRule(_ => graft.plans.PlanCapture)
    }
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // The status store behind the (disabled) UI still records every SQL
    // execution, job, stage and task, up to 1000 executions/jobs/stages and
    // 100,000 tasks a stage by default, so a long session's heap grew with
    // every query. Nothing here reads that store: keep it small.
    .config("spark.sql.ui.retainedExecutions", "20")
    .config("spark.ui.retainedJobs", "50")
    .config("spark.ui.retainedStages", "50")
    .config("spark.ui.retainedTasks", "500")
    // AQE: runtime re-planning from exact per-stage MapStatus sizes — the
    // productized form of the reference's shuffle-size predictor + balanced
    // reduce pre-scheduler (SURVEY.md §4 rows 2-3).
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Row-level runtime filtering (default-on since 3.4; pinned against conf
    // drift): a selective dim predicate on a shuffle join injects a bloom
    // probe into the fact scan — the automatic form of x26's explicit
    // pattern (ExtendedSpec proves the injection fires).
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // Parquet vectorized scan + pushdown are defaults; pin them explicitly so
    // a cluster-side conf drift can't silently disable them.
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.parquet.enableVectorizedReader", "true")
    // Kryo for the few RDD-edge/broadcast paths; SQL rows are Tungsten-encoded
    // anyway (the reference's Kryo fast-path is moot inside SQL).
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    // The reference ships lz4-compressed shuffle as a forked-runtime policy
    // (`io/CompressionCodec.scala:54-95`, `SerializerManager.scala:96-105`);
    // both are Spark defaults — pinned so conf drift can't diverge from the
    // documented mechanism mapping (SURVEY.md §4 rows 7-8).
    .config("spark.io.compression.codec", "lz4")
    .config("spark.shuffle.compress", "true")
    // InferFiltersFromGenerate clones the generator's input expression into
    // an inferred `size(..)>0 AND isnotnull(..)` filter, which predicate
    // pushdown then drives below the repartition Exchange — re-inlining (and
    // re-evaluating, single-threaded, O(tokens²)) the whole tokenize+shingle
    // chain at the scan. Its benefit (skipping empty arrays pre-explode) is
    // negligible for every generator this engine plans; the cloned-
    // expression cost is catastrophic. Measured on dd3_minhash_neardup at
    // sf0.1: 20s -> 2s with the rule excluded.
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // the block-store catalog (x37): tables resolve as graftblocks.`<store>`
    // and the catalog doubles as the FunctionCatalog that lets the planner
    // bind the range_shard transform — storage-partitioned joins need both
    .config("spark.sql.catalog.graftblocks", "graft.sources.GraftBlockCatalog")
    // recognize V2 scans' reported KeyGroupedPartitioning and elide the
    // join Exchanges when both sides are co-sharded (SPJ)
    .config("spark.sql.sources.v2.bucketing.enabled", "true")

  /** Read shuffle-partition override used by entry points. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
}
