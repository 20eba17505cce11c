package graft

import org.apache.spark.sql.DataFrame

/** Checkpoints.cp barrier modes (graft.barrier=local|cache|reliable): a
  * checkpoint-heavy query must produce identical results under each mode.
  * `local` is the single-JVM default; `cache` keeps lineage (executor-loss
  * safe); `reliable` writes to a checkpoint dir (block-loss safe). The
  * VERDICT r3 operational-risk item: at 1000-executor scale localCheckpoint
  * partitions die with their executor, so cluster runs flip the config —
  * same call sites, no query changes.
  */
class BarrierModeSpec extends SparkSpecBase {

  private def minhashRows(): Set[String] = {
    val rows = llm.Dedup.dedupMinhash(spark, sfDir)
      .collect().map(_.mkString("|")).toSet
    Checkpoints.releaseAll()
    rows
  }

  /** A `scoped` block frees what it registered, and only that: its
    * barriers' persisted RDDs and its memo entries go, while a frame of
    * the enclosing scope stays readable.
    */
  private def checkScope(mode: String): Unit = {
    val sc = spark.sparkContext
    val outer = Checkpoints.cp(Tables.nation(spark, sfDir))
    var builds = 0
    def memoised(): DataFrame = Checkpoints.memo(("BarrierModeSpec", mode)) {
      builds += 1
      Checkpoints.cp(Tables.region(spark, sfDir))
    }
    val before = sc.getPersistentRDDs.keySet
    val (_, inner) = Checkpoints.scoped {
      val frame = Checkpoints.cp(Tables.customer(spark, sfDir))
      memoised(); memoised()
      assert(builds == 1, s"$mode: memo rebuilt inside its scope")
      (frame, sc.getPersistentRDDs.keySet -- before)
    }
    // reliable barriers live in the checkpoint dir, not in persisted RDDs
    if (mode != "reliable") assert(inner.nonEmpty, s"$mode: no persisted barrier")
    assert((inner & sc.getPersistentRDDs.keySet).isEmpty,
      s"$mode: scoped barriers outlived their scope")
    assert(outer.count() == Tables.nation(spark, sfDir).count())
    memoised()
    assert(builds == 2, s"$mode: memo served after its scope exited")
    Checkpoints.releaseAll()
  }

  test("dedup_minhash identical under local, cache, and reliable barriers") {
    val prev = spark.conf.getOption("graft.barrier")
    try {
      spark.conf.set("graft.barrier", "local")
      val base = minhashRows()
      assert(base.nonEmpty)
      checkScope("local")
      for (m <- Seq("cache", "reliable")) {
        spark.conf.set("graft.barrier", m)
        assert(minhashRows() == base, s"mode $m diverged from local")
        checkScope(m)
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("graft.barrier", v)
        case None    => spark.conf.unset("graft.barrier")
      }
    }
  }

  test("reliable barriers delete their checkpoint files when their scope exits") {
    spark.conf.set("graft.barrier", "reliable")
    try {
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      val path = Checkpoints.scoped {
        val df = Checkpoints.cp(Tables.nation(spark, sfDir))
        val file = df.queryExecution.analyzed.collectLeaves().collectFirst {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getCheckpointFile
        }.flatten
        assert(file.nonEmpty, "reliable barrier has no checkpoint file")
        val p = new org.apache.hadoop.fs.Path(file.get)
        assert(p.getFileSystem(hadoopConf).exists(p))
        p
      }
      assert(!path.getFileSystem(hadoopConf).exists(path),
        s"$path outlived its scope")
    } finally spark.conf.unset("graft.barrier")
  }

  test("cache mode keeps lineage (plan has no LogicalRDD scan)") {
    spark.conf.set("graft.barrier", "cache")
    try {
      val df = Checkpoints.cp(Tables.nation(spark, sfDir))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("InMemoryRelation"), plan.take(400))
      assert(!plan.contains("LogicalRDD"), "cache mode must not truncate lineage")
      Checkpoints.releaseAll()
    } finally spark.conf.unset("graft.barrier")
  }
}
