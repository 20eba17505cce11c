package graft.tools

/** Scale-ladder observation run (r8, VERDICT item 5): wall-time every
  * catalog query at each testdata scale so per-query scaling exponents can
  * be computed (SCALING.md). An operator whose wall time grows superlinearly
  * in rows is exactly the class the r7 verdict caught by READING plans
  * (dedup_simhash's fixed 256-bucket banding); this probe is the empirical
  * net that catches it without a judge.
  *
  * Method: per (query, sf): one untimed warmup run then best-of-2 timed
  * runs, each writing to the noop sink so every column is evaluated, with
  * the capex cache and barriers cleared between queries. Persisted indexes
  * are pre-built per sf (pay-at-ingest) and never timed.
  * Output: one line per measurement, `SCALE <query> <sf> <seconds>`.
  *
  * Run: sbt 'Test/runMain graft.tools.ScalingProbe [query...]'
  * then tools/scaling_report.py to regenerate SCALING.md.
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val only: Set[String] = args.toSet
    val sfs = Seq("0.001" -> "/root/testdata/sf0.001",
      "0.01" -> "/root/testdata/sf0.01",
      "0.1" -> "/root/testdata/sf0.1")
    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    def runOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable => System.err.println(s"[scale] failed: $e"); false }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
      graft.capex.CapexDerive.clearCache()
      graft.Checkpoints.releaseAll()
      dt
    }
    for ((sf, dir) <- sfs) {
      graft.PlanBudgetHarness.warmPersistedIndexes(spark, dir)
      graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(kv => only.isEmpty || only(kv._1))
        .foreach { case (name, fn) =>
          runOnce(fn, dir) // warmup: codegen + JIT + AQE plan choice
          val best = math.min(runOnce(fn, dir), runOnce(fn, dir))
          // a failed query must be LOUD in the ladder, not silently absent
          // from SCALING.md (NaN would fail the report's number regex and
          // drop the row — the likely-worst query vanishing from the net)
          if (best.isNaN) println(s"SCALE $name $sf FAILED")
          else println(f"SCALE $name $sf $best%.3f")
        }
    }
    spark.stop()
  }
}
