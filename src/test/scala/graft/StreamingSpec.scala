package graft

import org.apache.spark.sql.functions._
import graft.queries.Events
import graft.streaming.StreamOps

/** Structured Streaming specs (SURVEY.md §2.E7): the streaming windowed agg
  * must agree with its batch mirror, and the stateful sessionizer must agree
  * with the window-function sessionization on a bounded input.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("streaming windowed agg matches the batch mirror") {
    // file streams need a directory of part files — stage one
    val sdir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      sdir.resolve("part-00000.parquet"))
    val stream = StreamOps.readEventStream(spark, sdir.toString)
    // Complete mode so the bounded-input totals are comparable.
    val got = StreamOps.runToMemory(spark, StreamOps.windowedAgg(stream),
      "win_agg_test", org.apache.spark.sql.streaming.OutputMode.Complete())
      .select(col("window_start").cast("string"), col("event_type"), col("n_events"))
    val want = Events.streamWindowAgg(spark, sfDir)
      .select(col("window_start").cast("timestamp").cast("string"),
        col("event_type"), col("n_events"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming hopping-window agg matches the batch slot-expansion mirror") {
    val sdir = java.nio.file.Files.createTempDirectory("graft-hop-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      sdir.resolve("part-00000.parquet"))
    val stream = StreamOps.readEventStream(spark, sdir.toString)
    val got = StreamOps.runToMemory(spark, StreamOps.hopWindowAgg(stream),
      "hop_agg_test", org.apache.spark.sql.streaming.OutputMode.Complete())
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
    val want = Events.hopWindowAgg(spark, sfDir)
      .select(col("window_start").cast("timestamp").cast("string"),
        col("event_type"), col("n_events"), col("sum_value"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("stream-stream interval join (click attribution) matches the batch twin") {
    val sdir = java.nio.file.Files.createTempDirectory("graft-ssj-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      sdir.resolve("part-00000.parquet"))
    val stream = StreamOps.readEventStream(spark, sdir.toString)
    val got = StreamOps.runToMemory(spark,
      StreamOps.clickAttributionStream(stream), "ssj_test")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts").cast("string"), col("purchase_ts").cast("string"))
    val want = Events.clickAttribution(spark, sfDir)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts").cast("string"), col("purchase_ts").cast("string"))
    assert(want.count() > 0, "attribution must be non-vacuous on testdata")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming dedup drops watermark-window duplicates, keeps distinct docs") {
    // stage a docs-as-stream dir: duplicate every doc text under two ids
    val sdir = java.nio.file.Files.createTempDirectory("graft-dedup-stream")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        // synthetic event time inside one watermark window
        to_timestamp(lit("2026-01-01 00:00:00")).as("arrived"))
    val dups = docs.withColumn("doc_id", col("doc_id") + 1000000)
    docs.unionByName(dups).coalesce(1).write.mode("overwrite").parquet(sdir.toString)
    val schema = spark.read.parquet(sdir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(sdir.toString)
    val got = StreamOps.runToMemory(spark,
      StreamOps.dedupStream(stream, "text", "arrived"), "dedup_stream_test")
    // expectation via the SAME normal form batch dedup_exact uses
    val nDistinct = docs.select(
      md5(graft.llm.TextOps.normText(col("text")).cast("binary")))
      .distinct().count()
    assert(got.count() == nDistinct)
  }

  test("stateless text ops (PII redaction) run unchanged as a streaming projection") {
    // the D-family scan-shaped operators are pure projections, so the same
    // Column pipeline drops into readStream → memory sink with no rewrite —
    // the ingest-door shape for corpus cleaning
    val sdir = java.nio.file.Files.createTempDirectory("graft-pii-stream")
    val docs = Seq(
      (1L, "mail me at a.b@example.com today"),
      (2L, "no pii here"),
      (3L, "node 10.1.2.3 down")).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(sdir.toString)
    val schema = spark.read.parquet(sdir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(sdir.toString)
    val got = StreamOps.runToMemory(spark,
      graft.llm.TextOps.redactPiiOn(stream), "pii_stream_test")
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    val want = graft.llm.TextOps.redactPiiOn(docs)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(got == want)
    assert(got(1L).contains("<EMAIL>") && got(3L).contains("<IP>"))
  }

  test("streaming decontamination flags the same docs as the batch operator") {
    val sdir = java.nio.file.Files.createTempDirectory("graft-decon-stream")
    // non-benchmark docs arrive as the stream (same split as batch: every
    // 50th doc IS the benchmark and is filtered at the door)
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text"),
        to_timestamp(lit("2026-01-01 00:00:00")).as("arrived"))
      .coalesce(1).write.mode("overwrite").parquet(sdir.toString)
    val schema = spark.read.parquet(sdir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(sdir.toString)
    // static benchmark shingle index, built once from the batch side
    val t = graft.llm.TextOps
    val bench = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 === 0)
      .select(explode(array_distinct(t.shingles(t.toks(col("text"))))).as("s"))
      .select(md5(col("s").cast("binary")).as("h")).distinct()
    val got = StreamOps.runToMemory(spark,
      StreamOps.decontaminateStream(stream, bench, "arrived"), "decon_stream_test")
      .collect().map(_.getLong(0)).toSet
    val want = graft.llm.Dedup.decontaminate(spark, sfDir)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(got.nonEmpty)
    Checkpoints.releaseAll()
  }

  test("stream-static join enriches events with the customer dim") {
    val sdir = java.nio.file.Files.createTempDirectory("graft-enrich-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      sdir.resolve("part-00000.parquet"))
    val stream = StreamOps.readEventStream(spark, sdir.toString)
    val cust = Tables.customer(spark, sfDir)
    val got = StreamOps.runToMemory(spark,
      StreamOps.enrichWithUserDim(stream, cust), "enrich_stream_test")
    val want = StreamOps.enrichWithUserDim(Tables.events(spark, sfDir), cust)
    assert(got.count() == want.count())
    assert(got.filter(col("user_nationkey").isNotNull).count() ==
      want.filter(col("user_nationkey").isNotNull).count())
  }

  test("streaming scd2 emits exactly the batch twin's closed intervals") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Event]
    val got = StreamOps.scd2Stream(ev).toDF()
      .select(col("user_id"), col("event_id"), col("state"),
        col("valid_from"), col("valid_to"))
    // batch rows with a non-null valid_to = the closed intervals; the one
    // open interval per user stays in streaming state (Append semantics)
    val want = graft.queries.Events.scd2Intervals(spark, sfDir)
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("event_id"), col("state"),
        col("valid_from").cast("timestamp").as("valid_from"),
        col("valid_to").cast("timestamp").as("valid_to"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming scd2 state only advances across micro-batches") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2-batches")
    def stage(name: String, mtimeMs: Long,
              rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scd2-stage")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = dir.resolve(name)
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    stage("b1.parquet", 1000000L, Seq((1L, ts(100), 7L, "view", 1.0)))
    // batch 2: a LATE event behind the open interval (ignored, must not
    // rewrite emitted history) and an advancing event (closes [100, 200))
    stage("b2.parquet", 2000000L, Seq(
      (2L, ts(50), 7L, "click", 2.0),
      (3L, ts(200), 7L, "purchase", 9.0)))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[StreamOps.Event]
    val got = StreamOps.runToMemory(spark,
      StreamOps.scd2Stream(stream).toDF(), "scd2_batches_test")
      .select("event_id", "state", "valid_from", "valid_to").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime / 1000, r.getTimestamp(3).getTime / 1000))
    assert(got.toSeq == Seq((1L, "view", 100L, 200L)), got.mkString(", "))
  }

  test("streaming as-of enrichment matches the batch as-of join") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Event]
    val got = StreamOps.asofEnrich(ev).toDF()
      .select(col("event_id"), col("err_event_id"), col("err_value"))
    val want = graft.queries.Temporal.asofJoinQ(spark, sfDir)
      .select(col("event_id"), col("err_event_id"), col("err_value"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("as-of enrichment runs as a real stream") {
    val sdir = java.nio.file.Files.createTempDirectory("graft-asof-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      sdir.resolve("part-00000.parquet"))
    val stream = StreamOps.readEventStream(spark, sdir.toString)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Event]
    val got = StreamOps.runToMemory(spark,
      StreamOps.asofEnrich(stream).toDF(), "asof_stream_test")
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(got.count() == purchases)
  }

  test("streaming as-of state only advances across micro-batches") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-asof-batches")
    def stage(name: String, mtimeMs: Long,
              rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-asof-stage")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = dir.resolve(name)
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    stage("b1.parquet", 1000000L, Seq((1L, ts(100), 7L, "error", 1.0)))
    // batch 2: a LATE error (ts=50, must not regress state), a purchase
    // after the stored error (matches it), and a late purchase BEFORE the
    // stored error (no match known — err_ts <= ts must hold)
    stage("b2.parquet", 2000000L, Seq(
      (2L, ts(50), 7L, "error", 2.0),
      (3L, ts(200), 7L, "purchase", 9.0),
      (4L, ts(30), 7L, "purchase", 8.0)))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[StreamOps.Event]
    val got = StreamOps.runToMemory(spark,
      StreamOps.asofEnrich(stream).toDF(), "asof_batches_test")
      .select("event_id", "err_event_id").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got == Map(3L -> Some(1L), 4L -> None))
  }

  test("sessionizer recovers from its checkpoint after a mid-stream kill (RocksDB state)") {
    import scala.jdk.CollectionConverters._
    // The recovery property a 100 TB/day stream actually exercises: a query
    // dies with sessions OPEN in state, restarts from the checkpoint, and
    // the recovered state must continue those sessions — not restart them.
    // A clean stop() exercises the same recovery path as a crash: resume
    // reads only the checkpoint (offsets + RocksDB state), never the dead
    // query's memory. Parity target: the same input processed uninterrupted.
    // positive epoch base: Spark's watermark starts at epoch 0, so an event
    // AT epoch 0 is already "late" and silently dropped
    val baseMs = 1767225600000L // 2026-01-01 00:00 UTC
    def ts(min: Long) = new java.sql.Timestamp(baseMs + min * 60 * 1000)
    // part A (run 1): u1 opens a session (2 events), u2 opens one
    val partA = Seq(
      (1L, ts(0), 1L, "view", 1.0), (2L, ts(10), 1L, "view", 1.0),
      (3L, ts(0), 2L, "view", 1.0))
    // part B (run 2): u1 CONTINUES the session recovered from the
    // checkpoint (20 min < 30 min gap); u2's 4 h event closes their first
    // session by gap
    val partB = Seq((4L, ts(20), 1L, "view", 1.0), (5L, ts(240), 2L, "view", 1.0))
    // part C (run 2): watermark pusher — at batch C start the watermark
    // (4 h - 1 h) is far past u1's 50-min timeout, so the spanning session
    // must emit with ALL THREE events
    val partC = Seq((6L, ts(600), 9L, "view", 1.0))
    def stage(dir: java.nio.file.Path, name: String, mtimeMs: Long,
              rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-recov-stage")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = dir.resolve(name)
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    val schema = partA.toDF("event_id", "ts", "user_id", "event_type", "value").schema
    // file sink, not memory: the memory sink refuses checkpoint recovery;
    // the parquet sink is the recoverable exactly-once production shape
    def runAvailable(dir: String, cp: String, outDir: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .as[StreamOps.Event]
      val q = StreamOps.sessionize(stream).toDF().writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", cp)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("t_start",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("t_end",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_value",
        org.apache.spark.sql.types.DoubleType)))
    def readOut(outDir: String): Seq[(Long, Long, Long, Long)] =
      spark.read.schema(outSchema).parquet(outDir).collect().map(r => (r.getLong(0),
        (r.getTimestamp(1).getTime - baseMs) / 60000,
        (r.getTimestamp(2).getTime - baseMs) / 60000,
        r.getLong(3))).toSeq
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // interrupted: run 1 sees only part A, dies; parts B+C land while the
      // query is down; run 2 resumes from the same checkpoint
      val iDir = java.nio.file.Files.createTempDirectory("graft-recov-in")
      val iCp = java.nio.file.Files.createTempDirectory("graft-recov-cp").toString
      val iOut = java.nio.file.Files.createTempDirectory("graft-recov-out").toString
      stage(iDir, "a.parquet", 1000000L, partA)
      runAvailable(iDir.toString, iCp, iOut) // run 1 dies with sessions open
      stage(iDir, "b.parquet", 2000000L, partB)
      stage(iDir, "c.parquet", 3000000L, partC)
      runAvailable(iDir.toString, iCp, iOut) // run 2 resumes the checkpoint
      val resumed = readOut(iOut)
      // uninterrupted twin: same three files, same per-file batching, one run
      val uDir = java.nio.file.Files.createTempDirectory("graft-recov-un")
      val uCp = java.nio.file.Files.createTempDirectory("graft-recov-ucp").toString
      val uOut = java.nio.file.Files.createTempDirectory("graft-recov-uout").toString
      stage(uDir, "a.parquet", 1000000L, partA)
      stage(uDir, "b.parquet", 2000000L, partB)
      stage(uDir, "c.parquet", 3000000L, partC)
      runAvailable(uDir.toString, uCp, uOut)
      val outU = readOut(uOut)
      assert(resumed.sorted == outU.sorted,
        s"resumed=${resumed.sorted} uninterrupted=${outU.sorted}")
      // and the session SPANNING the kill emitted with all three events —
      // direct evidence the open-session state was recovered, not reset
      assert(resumed.contains((1L, 0L, 20L, 3L)),
        s"u1 spanning session missing/split: ${resumed.sorted}")
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stateful sessionizer matches window-function sessionization") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Event]
    // Batch-mode flatMapGroupsWithState (no watermark timeouts in batch):
    // sessions close on gap; the trailing open session per user stays in
    // state, so compare closed sessions only.
    // n_events + timestamps compare exactly; sum_value is float-order
    // sensitive between the decimal batch path and running double sum.
    val got = StreamOps.sessionize(ev).toDF()
      .select(col("user_id"), col("n_events"), col("t_start").cast("string"))
    val batch = Events.streamSessionize(spark, sfDir)
    // drop each user's last session (still "open" in the streaming view)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val closedBatch = batch
      .withColumn("max_sid", max("session_id").over(w))
      .filter(col("session_id") < col("max_sid"))
      .select(col("user_id"), col("n_events"), col("t_start").cast("timestamp").cast("string"))
    assert(got.count() == closedBatch.count())
    assert(got.exceptAll(closedBatch).count() == 0)
  }

  test("anomaly scoring runs on a stream against static batch stats") {
    // the operational split: thresholds/stats built batch-side (static),
    // live events scored as a stateless stream-static broadcast join
    val batchEv = Tables.events(spark, sfDir)
    val stats = queries.Behavior.anomalyStats(batchEv)
    val sdir = java.nio.file.Files.createTempDirectory("graft-anom-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      sdir.resolve("part-00000.parquet"))
    val stream = StreamOps.readEventStream(spark, sdir.toString)
    val got = StreamOps.runToMemory(spark,
      queries.Behavior.anomalyScoreOn(stream, stats), "anomaly_stream_test")
      .select(col("event_id"), col("z_e4"))
      .as[(Long, Long)].collect().toSet
    val want = queries.Behavior.eventsAnomaly(spark, sfDir)
      .select(col("event_id"), col("z_e4"))
      .as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("streaming funnel emits exactly the batch milestone frame") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Event]
    val got = StreamOps.funnelStream(ev).toDF()
      .select(col("user_id"), col("stage"), col("ts").cast("string"))
      .as[(Long, String, String)].collect().toSet
    val m = queries.Behavior.funnelMilestonesOf(
      Tables.events(spark, sfDir)).cache()
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

  test("streaming transitions emit exactly the batch lag window's pairs") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Event]
    // in-order input (single batch): the advance-only state delta never
    // triggers, so parity with the batch lag window must be exact
    val got = StreamOps.transitionsStream(ev).toDF()
      .select(col("user_id"), col("from_type"), col("to_type"),
        col("ts").cast("string"))
      .as[(Long, String, String, String)].collect().toSet
    val batch = queries.Behavior.transitionPairsOf(
        Tables.events(spark, sfDir))
      .select(col("user_id"), col("from_type"),
        col("event_type").as("to_type"), col("ts").cast("timestamp").cast("string"))
      .as[(Long, String, String, String)].collect().toSet
    assert(got.nonEmpty && got === batch)
  }

  test("streaming throttle emits exactly the batch twin's kept events") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Event]
    // in-order input (single batch): the advance-only state delta never
    // triggers, so parity with the batch lag window must be exact
    val got = StreamOps.throttleStream(ev).toDF()
      .select(col("event_id")).as[Long].collect().toSet
    val batch = queries.Behavior.eventsThrottle(spark, sfDir)
      .select(col("event_id")).as[Long].collect().toSet
    assert(got === batch)
  }

  test("streaming index probe matches the batch probe pair-for-pair") {
    // stored index: the non-batch corpus slice, bucketed by band_key
    if (!spark.catalog.tableExists("sig_index_stream")) {
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        "sig_index_stream")
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(loc)
        try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
        finally walk.close()
      }
      graft.sources.IndexSink.writeSignatureIndex(
        spark, sfDir, "sig_index_stream", 4)
    }
    // the day's crawl arrives as a stream (same batch split as D22)
    val sdir = java.nio.file.Files.createTempDirectory("graft-probe-stream")
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % graft.llm.Dedup.IncrementalBatchMod === 0)
      .select(col("doc_id"), col("text"),
        to_timestamp(lit("2026-01-01 00:00:00")).as("arrived"))
      .coalesce(1).write.mode("overwrite").parquet(sdir.toString)
    val schema = spark.read.parquet(sdir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(sdir.toString)
    val got = StreamOps.runToMemory(spark,
      StreamOps.indexProbeStream(spark, "sig_index_stream", stream, "arrived"),
      "probe_stream_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchBands = graft.llm.Dedup.minhashSignatures(spark, sfDir)
      .filter(col("doc_id") % graft.llm.Dedup.IncrementalBatchMod === 0)
    val want = graft.sources.IndexSink.probe(spark, "sig_index_stream", batchBands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty, "batch slice must contain near-dups of index docs")
    Checkpoints.releaseAll()
  }

  test("streaming index probe serves the tombstone-filtered index, like the batch probe") {
    val tbl = "sig_index_stream_tomb"
    graft.sources.IndexSink.writeSignatureIndex(spark, sfDir, tbl, 4)
    val batchBands = graft.llm.Dedup.minhashSignatures(spark, sfDir)
      .filter(col("doc_id") % graft.llm.Dedup.IncrementalBatchMod === 0)
    def batchPairs: Set[(Long, Long)] = graft.sources.IndexSink.probe(spark, tbl, batchBands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // take down an index doc that pairs with the batch slice
    val deleted = batchPairs.map(_._1).min
    graft.sources.IndexSink.deleteDocs(spark, tbl, Seq(deleted).toDF("doc_id"))
    val sdir = java.nio.file.Files.createTempDirectory("graft-probe-stream-tomb")
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % graft.llm.Dedup.IncrementalBatchMod === 0)
      .select(col("doc_id"), col("text"),
        to_timestamp(lit("2026-01-01 00:00:00")).as("arrived"))
      .coalesce(1).write.mode("overwrite").parquet(sdir.toString)
    val stream = spark.readStream.schema(spark.read.parquet(sdir.toString).schema)
      .parquet(sdir.toString)
    val got = StreamOps.runToMemory(spark,
      StreamOps.indexProbeStream(spark, tbl, stream, "arrived"), "probe_stream_tomb_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === batchPairs)
    assert(!got.exists(_._1 == deleted), s"the stream served taken-down doc $deleted")
    assert(got.nonEmpty)
    graft.sources.BucketedSink.dropIndex(spark, tbl)
    Checkpoints.releaseAll()
  }

  test("index probe stream resumes from its checkpoint without re-emitting pairs (RocksDB)") {
    import scala.jdk.CollectionConverters._
    // The recovery property of the ingest-dedup stream: the
    // dropDuplicatesWithinWatermark state (already-reported pairs) must
    // survive a kill. Run 1 probes the day's chunk and dies; the SAME chunk
    // is re-delivered (the crawl-retry case the dedup state exists for)
    // and run 2 resumes from the checkpoint — with recovered state the
    // re-delivery emits NOTHING; a state reset would re-emit every pair
    // into the exactly-once-per-batch file sink as visible duplicates.
    if (!spark.catalog.tableExists("sig_index_stream")) {
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        "sig_index_stream")
      if (java.nio.file.Files.exists(loc)) {
        val walk = java.nio.file.Files.walk(loc)
        try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
        finally walk.close()
      }
      graft.sources.IndexSink.writeSignatureIndex(
        spark, sfDir, "sig_index_stream", 4)
    }
    val docsDf = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % graft.llm.Dedup.IncrementalBatchMod === 0)
      .select(col("doc_id"), col("text"),
        to_timestamp(lit("2026-01-01 00:00:00")).as("arrived"))
    def stage(dir: java.nio.file.Path, name: String, mtimeMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-probe-recov-stage")
      docsDf.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = dir.resolve(name)
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    val schema = docsDf.schema
    def runAvailable(dir: String, cp: String, outDir: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val q = StreamOps.indexProbeStream(spark, "sig_index_stream", stream, "arrived")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", cp)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("index_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    def readPairs(outDir: String): Seq[(Long, Long)] =
      spark.read.schema(outSchema).parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val iDir = java.nio.file.Files.createTempDirectory("graft-probe-recov-in")
      val iCp = java.nio.file.Files.createTempDirectory("graft-probe-recov-cp").toString
      val iOut = java.nio.file.Files.createTempDirectory("graft-probe-recov-out").toString
      stage(iDir, "a.parquet", 1000000L)
      runAvailable(iDir.toString, iCp, iOut) // run 1 dies with pair state open
      stage(iDir, "b.parquet", 2000000L)    // the chunk re-delivered while down
      runAvailable(iDir.toString, iCp, iOut) // run 2 resumes the checkpoint
      val resumed = readPairs(iOut)
      // every pair exactly once — the re-delivery was absorbed by RECOVERED
      // state (a reset would duplicate every pair in the append-only sink)
      assert(resumed.distinct.size == resumed.size,
        s"re-delivered chunk re-emitted pairs after resume: ${resumed.size} rows, " +
          s"${resumed.distinct.size} distinct")
      // and the pair set still matches the batch probe exactly
      val batchBands = graft.llm.Dedup.minhashSignatures(spark, sfDir)
        .filter(col("doc_id") % graft.llm.Dedup.IncrementalBatchMod === 0)
      val want = graft.sources.IndexSink.probe(spark, "sig_index_stream", batchBands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(resumed.toSet === want)
      assert(resumed.nonEmpty)
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      Checkpoints.releaseAll()
    }
  }
}
