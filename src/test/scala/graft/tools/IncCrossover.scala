package graft.tools

/** Incremental-flagship crossover measurement (r13 — the r12 verdict's
  * item 3): at sf0.1 with the demonstration split (M=5, a 20% "daily
  * batch"), corpus_pipeline_incremental ran SLOWER than the full
  * recompute (2.88 s vs 2.28 s in BENCH_r12) — the fixed overhead of
  * reading persisted state, probing the band index, and re-running the
  * global rate/pack stages exceeded the text-stage savings at that tiny
  * corpus-to-batch ratio. This tool measures where the trade flips:
  * amplified corpus (AmpData, the FkShapes shape-vs-shape method), batch
  * fractions 1/M for M in {5, 20, 100} (100 ≈ the realistic "1% of the
  * corpus arrives today"), state builds timed separately (pay-at-ingest,
  * excluded from the query number: persisted state is paid for once at
  * ingest, not per query), query = warmup + best-of-2.
  *
  * Decomposition the output supports: query(M) ≈ fixed + batchShare(M) ·
  * textCost — two M points give the fixed intercept; `full` gives the
  * all-corpus text cost the incremental path avoids.
  *
  * Run: sbt 'Test/runMain graft.tools.IncCrossover [amp] [M...]'
  * → lines `INCX <amp> full <s>` and `INCX <amp> M=<m> ingest=<s>
  * query=<s>`, appended to SCALING.md's incremental section by hand.
  */
object IncCrossover {
  def main(args: Array[String]): Unit = {
    val amp = args.headOption.map(_.toInt).getOrElse(10)
    val mods = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(5, 20, 100)
    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = AmpData.build(spark, "/root/testdata/sf0.1", amp)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      graft.capex.CapexDerive.clearCache()
      graft.Checkpoints.releaseAll()
      dt
    }
    def best2(f: => Unit): Double = { timed(f); math.min(timed(f), timed(f)) }
    def noop(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    val full = best2(noop("corpus_pipeline"))
    println(f"INCX $amp full $full%.3f")
    mods.foreach { m =>
      System.setProperty("graft.inc.batchMod", m.toString)
      val ingest = timed {
        graft.llm.Corpus.ensureCorpusState(spark, dir)
        graft.llm.Corpus.ensureIncSignatureIndex(spark, dir)
      }
      val q = best2(noop("corpus_pipeline_incremental"))
      println(f"INCX $amp M=$m ingest=$ingest%.3f query=$q%.3f")
    }
    System.clearProperty("graft.inc.batchMod")
    spark.stop()
  }
}
