package graft

import org.apache.spark.sql.functions._
import graft.sources.BucketedSink

/** Proves the SURVEY §5 bucketing claim with plan shapes: a fact written
  * bucketed by its hot key is aggregated, windowed, and co-bucket-joined
  * WITHOUT any shuffle exchange.
  */
class BucketingSpec extends SparkSpecBase {

  private def hasShuffle(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  /** Idempotently (re)create the bucketed table: the in-memory catalog
    * forgets tables between JVMs but the warehouse files persist, so clear
    * both first. Each test calls this — no inter-test ordering dependency.
    */
  private def ensureBucketed(): Unit = {
    if (spark.catalog.tableExists("ev_bucketed")) return
    val loc = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "ev_bucketed")
    if (java.nio.file.Files.exists(loc)) deleteTree(loc.toString)
    BucketedSink.writeBucketed(Tables.events(spark, sfDir),
      "ev_bucketed", "user_id", 4, Seq("user_id", "ts"))
  }

  test("bucketed fact: groupBy, window and self-join on the key are exchange-free") {
    val ev = Tables.events(spark, sfDir)
    ensureBucketed()
    val t = BucketedSink.readTable(spark, "ev_bucketed")

    // aggregation on the bucket key: no exchange
    val agg = t.groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(!hasShuffle(agg), agg.queryExecution.executedPlan.toString)
    assert(agg.count() == ev.select("user_id").distinct().count())

    // window partitioned by the bucket key: no exchange
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val win = t.withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
    assert(!hasShuffle(win), win.queryExecution.executedPlan.toString)

    // co-bucketed join on the key: no exchange (broadcast disabled so the
    // test exercises the sort-merge path a 100 TB fact-fact join takes)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = BucketedSink.readTable(spark, "ev_bucketed")
        .groupBy("user_id").agg(count(lit(1)).as("n_l"))
      val r = BucketedSink.readTable(spark, "ev_bucketed")
        .groupBy("user_id").agg(sum("value").as("v_r"))
      val j = l.join(r, Seq("user_id"))
      assert(!hasShuffle(j), j.queryExecution.executedPlan.toString)
      assert(j.count() == agg.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed results equal unbucketed results") {
    ensureBucketed()
    val t = BucketedSink.readTable(spark, "ev_bucketed")
    val a = t.groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Tables.events(spark, sfDir).groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("capex pipeline tail over the bucketed fact: zero exchanges, identical rows") {
    // §5's flagship claim made executable: with the enriched fact bucketed
    // by RequestNo, the representative-row window, the kept-dedup window,
    // and every fail-open distinct/semi/anti join satisfy their required
    // distributions from the bucketed scan — the ENTIRE pipeline tail plans
    // without one Exchange (broadcast disabled so nothing hides behind a
    // small-side broadcast; the unbucketed path must still shuffle).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = graft.capex.CapexDerive.pipelineBucketed(spark, sfDir)
      val p = bucketed.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        "bucketed pipeline tail re-shuffled:\n" + p.take(1500))
      // the unbucketed twin genuinely pays exchanges — the claim is a drop,
      // not that shuffles never existed
      val un = graft.capex.CapexDerive.pipeline(spark, sfDir)
      assert(un.queryExecution.executedPlan.toString.contains("Exchange"),
        "unbucketed pipeline unexpectedly exchange-free (test is vacuous)")
      // identical output, row for row (rid is unique)
      val a = bucketed.collect().map(r => r.getString(0) -> r.toSeq.mkString("")).toMap
      val b = un.collect().map(r => r.getString(0) -> r.toSeq.mkString("")).toMap
      assert(a == b)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.capex.CapexDerive.clearCache()
    }
  }

  test("building the bucketed fact leaves a held enriched frame readable") {
    // a fresh copy has no bucketed table yet, so pipelineBucketed builds it
    val dir = tempCopyOf(sfDir)
    try {
      val held = graft.capex.CapexDerive.enriched(spark, dir)
      val n = held.count()
      graft.capex.CapexDerive.pipelineBucketed(spark, dir).count()
      assert(held.count() == n)
    } finally {
      graft.capex.CapexDerive.clearCache()
      spark.sql("DROP TABLE IF EXISTS " +
        graft.capex.CapexDerive.ensureBucketedEnriched(spark, dir))
      deleteTree(dir)
    }
  }
}
