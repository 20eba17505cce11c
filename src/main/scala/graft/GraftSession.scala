package graft

import org.apache.spark.sql.SparkSession

/** The library's user-facing session factory: one place for the
  * engine-recommended configuration that the mains, the specs and
  * perfbench share, plus the `GraftExtensions` registration that gives
  * SQL users the native functions under their `graft_*` names (the dot
  * kernels, the tokenizers and the bloom bridge; Scala callers build the
  * same expressions through `graft.functions` in any session).
  *
  * Measured-systemics defaults (SURVEY §5):
  *  - shuffle partitions = cores for local runs (a cluster deployment
  *    overrides with cores×executors; AQE coalesces down from there),
  *  - codegen class cache sized above the query-catalog working set
  *    (eviction forces Janino recompiles + fresh JIT of identical code),
  *  - sort shuffle instead of bypass-merge (maps×reducers file opens
  *    dominate small wide shuffles at high core counts),
  *  - UTC session timezone (oracle comparability; override per deploy).
  *
  * `graft.barrier` stays at its per-session default ("local"); cluster
  * runs set "cache" or "reliable" (see Checkpoints).
  */
object GraftSession {

  /** Builder preloaded with the recommended config; caller may override
    * any entry before `getOrCreate()` (later `.config` wins in Spark).
    */
  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // joins whose keys EXTEND a side's existing hash layout (the
      // RequestNo-bucketed capex fact joined on (RequestNo, key_*)) may
      // reuse that layout instead of re-shuffling both sides to the full
      // key — subset co-partitioning is semantically exact (equal full
      // keys ⇒ equal prefix ⇒ same partition); the Spark default `true`
      // only guards against under-parallelizing on coarse keys, which the
      // engine's bucket sizing + AQE skew splitting already cover
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // let AQE coalesce INSIDE cached plans (Spark defaults this off to
      // keep cached output partitioning stable): the iterative loops
      // persist stationary edge/label frames that would otherwise pin the
      // full shuffle width — at the cluster sizing (2048 partitions) each
      // of the ~8 rounds then schedules 2048 near-empty tasks per join
      // against the cache. Measured at sf0.01 local[8], 2048 partitions:
      // part_pagerank 38.2 s → 2.1 s, part_communities 12.1 → 2.6,
      // split_holdout 6.6 → 2.2, dedup_components 4.7 → 0.85
      // (tools.WidePartitionsProbe); results bit-identical (the r7
      // cluster dry run hashes the whole catalog at both widths). The
      // cached frames keep their hash KEYS — only the partition count
      // follows data size, which is exactly the behavior a 100 TB edge
      // cache wants (big cache ⇒ full width; node-sized ⇒ few tasks).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // AQE's coalesce floor is byte-based (default 1m), but several of the
      // engine's shuffles are byte-LIGHT and CPU-DENSE — candidate pairs
      // fanning out into full-Dim vector scoring (ann_knn_graph's NN-descent
      // rounds), narrow key sets feeding heavy projections. At the default
      // floor a 2-3 MB exchange coalesces to 2 tasks and the scoring stage
      // runs 400+ ms of CPU on 2 of 32 cores (JobProfile, r13). 128k keeps
      // such stages wide while still bounding scheduler overhead; shuffles
      // big enough for the floor never to bind (≥ parallelism × 1 MB) are
      // planned identically, so cluster-scale exchanges are untouched.
      // Measured: ann_knn_graph 4.7 → 3.2 s at sf0.1 local[32]; full-bench
      // sweep in OPTIMIZATION_r13.md confirms no per-query regression.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      // reliable-mode barriers (graft.barrier=reliable) write checkpoint
      // files; without this they accumulate for the session's lifetime
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // streaming state that outgrows the heap (100 TB/day sessionization)
      // belongs in RocksDB, not the default in-memory HDFS-backed store;
      // kill-and-resume recovery under this provider is spec-proven
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .withExtensions(new graft.functions.GraftExtensions)

  /** Convenience: build, quiet the logs, return the session. */
  def create(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
