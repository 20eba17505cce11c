package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress, Trigger}
import graft.streaming.StreamOps

/** Streaming mega-key battery (r7; the streaming half of EdgeCaseSpec's r6
  * batch battery): one bot user owns ~50% of the event stream, one text
  * owns ~50% of the crawl batch. The 100 TB/day claims under test:
  *  - state-store size is bounded by DISTINCT KEYS, not events — a hot key
  *    contributes ONE state row no matter how many events it emits (the
  *    property that keeps an unbounded skewed stream from OOMing the state
  *    store; keyed state inherently routes a hot key to one task, so
  *    per-key O(1) state is the scalable guarantee);
  *  - per-batch state churn (numRowsUpdated) is likewise key-bounded;
  *  - outputs on the skewed stream still match the batch twins;
  *  - the stateless index-probe stream absorbs a hot band bucket (half the
  *    batch sharing one text) with no state operator at all.
  */
class StreamingSkewSpec extends SparkSpecBase {
  import spark.implicits._

  /** Skewed event stream dir: ~50% of events re-keyed to user 7 (the
    * EdgeCaseSpec transform) AND re-timed into bot BURSTS — 50-event
    * volleys at 1 s spacing, volleys 2 h apart — the temporal shape a
    * scraper actually produces: intra-burst gaps sit under the 60 s
    * throttle window (so throttling demonstrably drops), inter-burst gaps
    * exceed the 30 min session gap (so sessions demonstrably close).
    */
  private lazy val skewStreamDir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-skew-stream").toString
    val isMega = col("event_id") % 2 === 0
    Tables.events(spark, sfDir)
      .withColumn("user_id", when(isMega, lit(7L)).otherwise(col("user_id")))
      .withColumn("ts", when(isMega,
          timestamp_seconds(lit(1772323200L) +
            expr("(event_id div 100) * 7200 + (event_id % 100) div 2"))
            .cast("timestamp_ntz"))
        .otherwise(col("ts")))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    tmp
  }

  private def skewedEvents = StreamOps.readEventStream(spark, skewStreamDir)
    .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"), col("value"))
    .as[StreamOps.Event]

  private def runWithProgress(streamed: org.apache.spark.sql.DataFrame, name: String)
      : (org.apache.spark.sql.DataFrame, Seq[StreamingQueryProgress]) = {
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    val prog = q.recentProgress.toSeq
    q.stop()
    (spark.table(name), prog)
  }

  private def maxStateRows(prog: Seq[StreamingQueryProgress]): Long =
    prog.flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max)

  private def maxStateUpdated(prog: Seq[StreamingQueryProgress]): Long =
    prog.flatMap(_.stateOperators.map(_.numRowsUpdated)).foldLeft(0L)(math.max)

  private lazy val nUsers: Long = spark.read.parquet(skewStreamDir)
    .select(col("user_id")).distinct().count()
  private lazy val nEvents: Long = spark.read.parquet(skewStreamDir).count()

  test("sessionize: mega-user state is one row per user, not per event") {
    assert(nEvents > 4 * nUsers, "battery must be genuinely skewed")
    val (out, prog) = runWithProgress(
      StreamOps.sessionize(skewedEvents).toDF(), "skew_sessionize")
    assert(prog.nonEmpty && prog.exists(_.stateOperators.nonEmpty))
    assert(maxStateRows(prog) <= nUsers,
      s"state rows ${maxStateRows(prog)} exceed distinct users $nUsers " +
        "(state must be keyed, never per-event)")
    assert(maxStateUpdated(prog) <= nUsers)
    // the mega user's sessions all closed or remained as ONE state row;
    // emitted sessions are non-overlapping per user
    val mega = out.filter(col("user_id") === 7L)
      .select(col("t_start").cast("long"), col("t_end").cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(mega.nonEmpty, "mega user must close at least one session")
    mega.sliding(2).foreach {
      case Array((_, e1), (s2, _)) => assert(e1 < s2, "overlapping sessions")
      case _ =>
    }
  }

  test("throttle: key-bounded state AND exact parity with the batch twin on skew") {
    val (out, prog) = runWithProgress(
      StreamOps.throttleStream(skewedEvents).toDF(), "skew_throttle")
    assert(maxStateRows(prog) <= nUsers * 5,
      s"throttle state ${maxStateRows(prog)} not bounded by (user,type) keys")
    val got = out.select(col("event_id")).as[Long].collect().toSet
    val batch = queries.Behavior.eventsThrottleOf(
      spark.read.parquet(skewStreamDir)).select(col("event_id"))
      .as[Long].collect().toSet
    assert(got === batch)
    assert(got.nonEmpty && got.size < nEvents,
      "throttle must actually drop part of the mega user's burst")
  }

  test("funnel: mega-user milestones stay one state row; output matches batch") {
    val (out, prog) = runWithProgress(
      StreamOps.funnelStream(skewedEvents).toDF(), "skew_funnel")
    assert(maxStateRows(prog) <= nUsers,
      s"funnel state ${maxStateRows(prog)} exceeds distinct users $nUsers")
    val got = out.select(col("user_id"), col("stage"), col("ts").cast("string"))
      .as[(Long, String, String)].collect().toSet
    val m = queries.Behavior.funnelMilestonesOf(
      spark.read.parquet(skewStreamDir)).cache()
    def stageRows(c: String, name: String) = m.filter(col(c).isNotNull)
      .select(col("user_id"), lit(name).as("stage"),
        col(c).cast("timestamp").cast("string"))
      .as[(Long, String, String)].collect().toSet
    val want = stageRows("t_view", "view") ++
      stageRows("t_click", "click_after_view") ++
      stageRows("t_purchase", "purchase_after_click")
    m.unpersist()
    assert(got === want)
  }

  test("index-probe stream: hot band bucket (half the batch one text) stays stateless") {
    if (!spark.catalog.tableExists("sig_index_skew")) {
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        "sig_index_skew")
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(loc)
        try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
        finally walk.close()
      }
      graft.sources.IndexSink.writeSignatureIndex(spark, sfDir, "sig_index_skew", 4)
    }
    // the day's crawl: half the batch is ONE repeated text — every copy
    // lands in the same band buckets (the hot-bucket shape a viral page
    // produces); the probe must complete and match the batch probe exactly
    val sdir = java.nio.file.Files.createTempDirectory("graft-skew-probe").toString
    val hot = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % graft.llm.Dedup.IncrementalBatchMod === 0)
      .withColumn("text",
        when(col("doc_id") % 2 === 0,
          lit("the same viral page text repeated across half the crawl batch"))
          .otherwise(col("text")))
      .select(col("doc_id"), col("text"),
        to_timestamp(lit("2026-01-01 00:00:00")).as("arrived"))
    hot.coalesce(1).write.mode("overwrite").parquet(sdir)
    val schema = spark.read.parquet(sdir).schema
    val stream = spark.readStream.schema(schema).parquet(sdir)
    val (out, prog) = runWithProgress(
      StreamOps.indexProbeStream(spark, "sig_index_skew", stream, "arrived"),
      "skew_probe")
    val got = out.select(col("index_id"), col("batch_id"))
      .as[(Long, Long)].collect().toSet
    val batchBands = graft.llm.Dedup.sigBandsOf(
      spark.read.parquet(sdir).select(col("doc_id"), col("text")))
    val want = graft.sources.IndexSink.probe(spark, "sig_index_skew", batchBands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want.nonEmpty, "hot batch must pair with index docs")
    // state contract: the probe's only state is the watermark pair-dedup —
    // bounded by DISTINCT emitted pairs, never by the hot bucket's raw
    // join multiplicity (every copy of the viral text re-meets the same
    // index docs across Bands buckets; those duplicates collapse)
    assert(maxStateRows(prog) <= want.size,
      s"probe state ${maxStateRows(prog)} exceeds distinct pairs ${want.size}")
    Checkpoints.releaseAll()
  }

  test("pq probe stream: mega-query redelivery burst stays pair-bounded and matches batch") {
    val tbl = "pq_pair_skew"
    Seq(tbl, tbl + "_cb", tbl + "_cents",
      graft.sources.BucketedSink.tombTableOf(tbl))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val v = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    graft.llm.Pq.writePqIndexOf(v, tbl)
    // the burst: ONE query vector redelivered 50x on top of the normal
    // 10-query batch — the retried-producer shape. Every copy nominates
    // the SAME candidate pairs through the same probe cells; the only
    // state (the watermark pair-dedup) must collapse them, so state rows
    // track distinct emitted pairs, never batch-size x candidates.
    val q = v.filter(col("vec_id") < 10)
    val burst = q.filter(col("vec_id") === 0)
      .crossJoin(spark.range(50).select(lit(1).as("d"))).drop("d")
    val sdir = java.nio.file.Files.createTempDirectory("graft-skew-pq").toString
    q.union(burst)
      .withColumn("arrived", to_timestamp(lit("2026-01-01 00:00:00")))
      .coalesce(1).write.mode("overwrite").parquet(sdir)
    val schema = spark.read.parquet(sdir).schema
    val stream = spark.readStream.schema(schema).parquet(sdir)
    val (got, prog) = drainSink(
      StreamOps.pqProbeStream(spark, tbl, stream, "arrived"))
    // batch twin: the cell-pruned radius probe over the same pair — the
    // redelivered burst must change NOTHING about the emitted set
    val want = graft.llm.Pq.pqRadiusForQueries(spark, tbl, q)
      .collect().map(_.toSeq.mkString("|")).toSet
    assert(got.size === got.toSet.size, "redelivered query emitted a pair twice")
    assert(got.toSet === want && want.nonEmpty,
      s"burst stream diverged from the batch twin (${got.size} vs ${want.size})")
    // state ceilings: the query-id dedup holds one row per distinct arrived
    // query within the watermark, which also stays under the distinct
    // emitted pairs (the BENCH stream_pq_probe_state_rows contract)
    assert(maxStateRows(prog) <= 10,
      s"pq probe state ${maxStateRows(prog)} exceeds distinct arrived queries 10")
    assert(maxStateRows(prog) <= want.size,
      s"pq probe state ${maxStateRows(prog)} exceeds distinct pairs ${want.size}")
    Seq(tbl, tbl + "_cb", tbl + "_cents")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    Checkpoints.releaseAll()
  }

  test("lexical radius stream: redelivered query burst stays pair-bounded and matches batch") {
    val tbl = "lex_idx_skew"
    Seq(tbl, tbl + "_df", tbl + "_stats",
      graft.sources.BucketedSink.tombTableOf(tbl))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    graft.llm.Lexical.writeLexIndexOf(d, tbl)
    // the burst: one query doc redelivered 50x on top of the normal
    // 10-doc batch — every copy explodes the SAME rare terms and re-meets
    // the same posting rows; the watermark pair-dedup must collapse them,
    // so state tracks distinct emitted pairs, never burst x candidates
    val q = d.filter(col("doc_id") < 10)
    val burst = q.filter(col("doc_id") === 0)
      .crossJoin(spark.range(50).select(lit(1).as("dd"))).drop("dd")
    val sdir = java.nio.file.Files.createTempDirectory("graft-skew-lex").toString
    q.union(burst)
      .withColumn("arrived", to_timestamp(lit("2026-01-01 00:00:00")))
      .coalesce(1).write.mode("overwrite").parquet(sdir)
    val schema = spark.read.parquet(sdir).schema
    val stream = spark.readStream.schema(schema).parquet(sdir)
    val (got, prog) = drainSink(
      StreamOps.lexRadiusStream(spark, tbl, stream, "arrived"))
    val want = graft.llm.Lexical.lexRadiusFromStore(spark, tbl)
      .collect().map(_.toSeq.mkString("|")).toSet
    assert(got.size === got.toSet.size, "redelivered query emitted a pair twice")
    assert(got.toSet === want && want.nonEmpty,
      s"burst lexical stream diverged from the batch twin (${got.size} vs ${want.size})")
    assert(maxStateRows(prog) <= 10,
      s"lexical radius state ${maxStateRows(prog)} exceeds distinct arrived queries 10")
    assert(maxStateRows(prog) <= want.size,
      s"lexical radius state ${maxStateRows(prog)} exceeds distinct pairs ${want.size}")
    Seq(tbl, tbl + "_df", tbl + "_stats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    Checkpoints.releaseAll()
  }

  test("lexical top-k stream: redelivered query burst dedups to one ranking, state query-bounded") {
    val tbl = "lex_idx_topk_skew"
    Seq(tbl, tbl + "_df", tbl + "_stats",
      graft.sources.BucketedSink.tombTableOf(tbl))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    graft.llm.Lexical.writeLexIndexOf(d, tbl)
    // the burst: one query doc redelivered 50x on top of the normal
    // 10-doc batch. The ranking form's only stream state is the
    // within-watermark QUERY dedup — every copy collapses BEFORE the
    // per-batch ranking runs, so the output holds exactly one k-list per
    // distinct query and state rows track distinct arrived docs
    val q = d.filter(col("doc_id") < 10)
    val burst = q.filter(col("doc_id") === 0)
      .crossJoin(spark.range(50).select(lit(1).as("dd"))).drop("dd")
    val sdir = java.nio.file.Files.createTempDirectory("graft-skew-lex-topk").toString
    q.union(burst)
      .withColumn("arrived", to_timestamp(lit("2026-01-01 00:00:00")))
      .coalesce(1).write.mode("overwrite").parquet(sdir)
    val schema = spark.read.parquet(sdir).schema
    val stream = spark.readStream.schema(schema).parquet(sdir)
    val (buf, prog) = drainSink(StreamOps.lexTopkStream(spark, tbl, stream, "arrived"))
    val want = graft.llm.Lexical.lexProbeFromStore(spark, tbl)
      .collect().map(_.toSeq.mkString("|")).toSet
    // exact multiset parity: the burst must not produce duplicate k-lists
    assert(buf.size === buf.toSet.size, "redelivered query emitted twice")
    assert(buf.toSet === want && want.nonEmpty,
      s"burst top-k stream diverged from the batch probe (${buf.size} vs ${want.size})")
    assert(maxStateRows(prog) <= 10,
      s"top-k stream state ${maxStateRows(prog)} exceeds distinct arrived queries 10")
    Seq(tbl, tbl + "_df", tbl + "_stats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    Checkpoints.releaseAll()
  }

  test("ann top-k stream: parity with the batch probe, burst dedups, state query-bounded") {
    val tbl = "ann_idx_topk_skew"
    Seq(tbl, graft.sources.BucketedSink.tombTableOf(tbl))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val v = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    graft.sources.AnnIndexSink.writeEmbeddingIndexOf(v, tbl, 16)
    val q = v.filter(col("vec_id") < 10)
    val burst = q.filter(col("vec_id") === 0)
      .crossJoin(spark.range(50).select(lit(1).as("dd"))).drop("dd")
    val sdir = java.nio.file.Files.createTempDirectory("graft-skew-ann-topk").toString
    q.union(burst)
      .withColumn("arrived", to_timestamp(lit("2026-01-01 00:00:00")))
      .coalesce(1).write.mode("overwrite").parquet(sdir)
    val schema = spark.read.parquet(sdir).schema
    val stream = spark.readStream.schema(schema).parquet(sdir)
    val (buf, prog) = drainSink(StreamOps.annTopkStream(spark, tbl, stream, "arrived"))
    // batch twin: the persisted-index probe over the same table
    val want = graft.llm.Ann.probeIndexTable(spark, tbl)
      .collect().map(_.toSeq.mkString("|")).toSet
    assert(buf.size === buf.toSet.size, "redelivered vector emitted twice")
    assert(buf.toSet === want && want.nonEmpty,
      s"burst ann top-k stream diverged from the batch probe (${buf.size} vs ${want.size})")
    assert(maxStateRows(prog) <= 10,
      s"ann top-k stream state ${maxStateRows(prog)} exceeds distinct arrived vectors 10")
    Seq(tbl).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    Checkpoints.releaseAll()
  }
}
