package graft

import java.lang.ref.WeakReference
import org.apache.spark.sql.DataFrame

/** Eager barriers (`cp`, `cpLazy`) and the memos that hand them out, under
  * one lifetime rule: every frame is registered in exactly one scope, and
  * releasing a scope frees only what that scope registered.
  *
  * The engine uses localCheckpoint for two load-bearing reasons (SURVEY §5):
  * cutting lineage at cache boundaries and keeping Catalyst's project
  * collapse from inlining tokenizers into per-element lambda accesses. The
  * blocks those checkpoints pin belong to RDDs, not the Dataset cache
  * manager, so they linger until GC lets the ContextCleaner reap them;
  * releasing the owning scope frees them deterministically.
  *
  * Owners — every scope has exactly one:
  * - Thread root: each thread has a root scope. `cp`, `cpLazy` and `memo`
  *   register in the calling thread's innermost scope, which is the root
  *   outside any `scoped` block. `releaseAll()` releases the calling
  *   thread's root scope: its barriers and memo entries, and nothing of
  *   another thread or of a `scoped` block still open on this one.
  * - `scoped { … }`: a child scope for the block, released when the block
  *   exits. Frames of the enclosing scopes stay readable.
  * - Module scope: a module whose frames outlive any one caller owns a
  *   `Scope` and releases it itself (CapexDerive's enriched/kept frames,
  *   released by `CapexDerive.clearCache()`).
  *
  * A scope tracks checkpointed frames weakly, so one that is never
  * released behaves as before (GC + ContextCleaner reclaim dropped
  * frames). Persisted frames (`cache` mode, `cpLazy`) and memo entries are
  * held until their scope is released: the cache manager pins their data
  * anyway, and a dropped one could otherwise never be released.
  * Checkpoints cut lineage, so a released frame (and anything derived from
  * it) is dead, not recomputable: release a scope only when nothing it
  * registered is still in use.
  */
object Checkpoints {

  /** A frame list plus a memo of frames by key; `release()` frees both. */
  private[graft] final class Scope {
    private val frames = scala.collection.mutable.ArrayBuffer.empty[WeakReference[DataFrame]]
    private val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private val memos = scala.collection.mutable.HashMap.empty[Any, DataFrame]

    /** Registers `df` weakly, or strongly when `pin`: a persisted frame's
      * cache-manager entry outlives the dropped frame, so only a strong
      * reference can still release it.
      */
    def track(df: DataFrame, pin: Boolean = false): DataFrame = synchronized {
      if (pin) pinned += df else frames += new WeakReference(df)
      df
    }

    /** The frame memoised under `key`; built and registered on a miss. */
    def memo(key: Any)(build: => DataFrame): DataFrame = synchronized {
      memos.getOrElse(key, { val df = track(build, pin = true); memos(key) = df; df })
    }

    def release(): Unit = synchronized {
      (frames.flatMap(ref => Option(ref.get)) ++ pinned).distinct.foreach(Checkpoints.release)
      frames.clear()
      pinned.clear()
      memos.clear()
    }
  }

  /** The calling thread's scopes, innermost first; the last is its root. */
  private val scopes = ThreadLocal.withInitial[List[Scope]](() => List(new Scope))

  private[graft] def current: Scope = scopes.get.head

  /** Barrier mode, per-session via `graft.barrier`:
    *  - `local` (default): eager localCheckpoint — fastest, but lineage is
    *    truncated onto executor-local blocks, so a lost executor makes the
    *    partitions irrecoverable. Right for single-JVM / local runs.
    *  - `cache`: eager persist — the plan keeps its lineage, so a lost
    *    executor recomputes the partition from source. The cache boundary
    *    still stops Catalyst project-collapse (CacheManager substitutes
    *    InMemoryRelation at planning time). Right default for clusters.
    *  - `reliable`: eager reliable checkpoint to `graft.checkpointDir`
    *    (HDFS/S3 on a cluster) — survives executor AND block loss at the
    *    cost of a write+read of the barrier frame. Right for very long
    *    lineages (iterative label propagation) on flaky fleets.
    * Same call sites, no query changes — the mode is operational posture.
    */
  private def mode(df: DataFrame): String =
    df.sparkSession.conf.get("graft.barrier", "local")

  /** The first stack frame outside this object — labels the barrier's
    * eager job in the UI / listener profiles (guide §1.5); the job
    * description is thread-local and restored after the materialize.
    */
  private def callerSite(): String =
    Thread.currentThread.getStackTrace
      .drop(1)
      .find(f => !f.getClassName.startsWith("graft.Checkpoints") &&
        !f.getClassName.startsWith("java.lang.Thread"))
      .map(f => s"cp@${f.getFileName}:${f.getLineNumber}")
      .getOrElse("cp")

  /** Eager barrier (mode-dependent), registered in the current scope. */
  def cp(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(callerSite())
    val m = mode(df)
    val out =
      try m match {
        case "cache" =>
          val c = df.cache()
          c.count() // eager, matching localCheckpoint(true) semantics
          c
        case "reliable" =>
          if (sc.getCheckpointDir.isEmpty)
            sc.setCheckpointDir(
              df.sparkSession.conf.get("graft.checkpointDir", "/tmp/graft-checkpoints"))
          df.checkpoint(true)
        case _ => df.localCheckpoint(true)
      } finally sc.setJobDescription(prevDesc)
    current.track(out, pin = m == "cache")
  }

  /** Lazy cache barrier: persist WITHOUT forcing materialization, for call
    * sites whose very next action already scans the whole frame (e.g. the
    * pagerank convergence aggregate) — that action fills the cache, so the
    * frame costs ONE job instead of cp's materialize-then-use two. The
    * cache boundary still stops Catalyst project-collapse; lineage is kept
    * (recompute-safe on block loss). Registered in the current scope like cp.
    */
  def cpLazy(df: DataFrame): DataFrame = current.track(df.persist(), pin = true)

  /** The frame memoised under `key` in the current scope; on a miss,
    * `build` runs and its frame is memoised there.
    */
  def memo(key: Any)(build: => DataFrame): DataFrame = current.memo(key)(build)

  /** Runs `body` in a child scope of the current one and releases that
    * scope, and only it, when `body` exits.
    */
  def scoped[T](body: => T): T = {
    val outer = scopes.get
    val scope = new Scope
    scopes.set(scope :: outer)
    try body
    finally { scopes.set(outer); scope.release() }
  }

  /** Release one checkpointed frame's blocks (underlying RDD + cache entry)
    * and, for a `reliable` barrier, its files in the checkpoint dir.
    */
  def release(df: DataFrame): Unit = {
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = true)
        l.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      case _ =>
    }
    df.unpersist(blocking = true)
  }

  /** Release the calling thread's root scope. */
  def releaseAll(): Unit = scopes.get.last.release()
}
