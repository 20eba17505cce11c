package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared measurement harness for the catalog-wide plan-budget net
  * (PlanBudgetSpec) and its observation probe (tools.PlanBudgetProbe).
  *
  * The budgeted metric is EXECUTED SHUFFLE-MAP STAGES, counted by a
  * SparkListener over the query's whole lifetime — construction-time jobs
  * included. This is deliberately stronger than auditing the returned
  * frame's plan string: iterative operators (pagerank, the CC loops,
  * k-means) surface only their LAST round in the final plan, so a
  * per-round reshuffle regression — the exact r5 pagerank bug — is
  * invisible there but shows up as ~2 extra shuffle stages per round in
  * the executed count. Broadcast exchanges don't create shuffle-map
  * stages, so the count is purely the wide-exchange cost the 100 TB
  * posture cares about.
  */
object PlanBudgetHarness {

  private class StageCounter extends SparkListener {
    val shuffleStages: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()
    val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.taskType == "ShuffleMapTask") { shuffleStages.add(e.stageId); () }
      // shuffle WRITE bytes summed over every task of the query's jobs —
      // the r8 volume axis (VERDICT item 3): a query can keep its stage
      // COUNT while 10×-ing the data it pushes through an exchange (the
      // fk_integrity 7-join form vs the single-scan rewrite differed only
      // here), and write bytes is the side that measures what the query
      // SENDS, independent of how many reducers re-read it.
      val m = e.taskMetrics
      if (m != null) { shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten); () }
    }
  }

  /** One catalog query's executed-plan measurements. */
  case class Measured(stages: Int, plan: String, shuffleWriteBytes: Long)

  /** Run one catalog query end-to-end (construction + collect) under a
    * fresh counter; returns executed shuffle-map stage count, the
    * final-plan formatted string, and total shuffle write bytes. Caches
    * are cleared BEFORE the run so every query is measured self-contained
    * (deterministic regardless of catalog order), and released after.
    */
  def measure(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
              sfDir: String): Measured = {
    graft.capex.CapexDerive.clearCache()
    Checkpoints.releaseAll()
    val counter = new StageCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      val df = fn(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(spark.sparkContext)
      Measured(counter.shuffleStages.size(), plan, counter.shuffleWriteBytes.get())
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      graft.capex.CapexDerive.clearCache()
      Checkpoints.releaseAll()
    }
  }

  /** Pre-build the persisted-index tables some queries serve from, so the
    * measured runs see a warm catalog (pay-at-ingest: an index is built
    * once at ingest and never counted against the queries that serve from
    * it) and counts don't depend on whether a previous suite built them.
    */
  def warmPersistedIndexes(spark: SparkSession, sfDir: String): Unit = {
    graft.sources.AnnIndexSink.ensureEmbeddingIndex(spark, sfDir)
    graft.sources.IndexSink.ensureFullSignatureIndex(spark, sfDir)
    graft.capex.CapexDerive.ensureBucketedEnriched(spark, sfDir)
    graft.capex.CapexDerive.clearCache()
    Checkpoints.releaseAll()
  }
}
