package graft.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.{Checkpoints, SparkEntry}
import graft.capex.CapexDerive
import graft.sources.CsvSource
import graft.streaming.StreamOps

/** Traced runs only: standalone operations that time the layers neither
  * closed loop calls — one capex job and a sessionizing stream — on the
  * small inputs under `<dir>/capex` and `<dir>/events` (see gen.py). They
  * run once, cold, after the measured loop; their spans are layer costs,
  * not self time. Outputs are written (untimed) under `<out>/check/` for
  * the DuckDB oracles in `perfbench/oracle.py`.
  */
final class LayerProbes(spark: SparkSession, dir: String, out: String,
                        tracer: Tracer) {
  private val capexDir = s"$dir/capex"
  private val sheets = Seq("summary_report", "specialized_items", "pivot_amounts")

  private def writeRows(rows: Array[Row], df: DataFrame, name: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, df.schema)
      .write.mode("overwrite").parquet(s"$out/check/$name")

  /** One nightly capex job: enriched → kept → pipeline (exported with
    * `CsvSource.writeCsv`) → validate_report → the three report sheets,
    * then the job's caches are released.
    */
  private var capexRan = false

  def capexJob(): Op = {
    var enrRows, keptRows = 0L
    var outputs = Seq.empty[(String, DataFrame, Array[Row])]
    val csv = s"$out/capex_pipeline_csv"
    def collect(name: String, df: DataFrame): Array[Row] = {
      val rows = df.collect()
      outputs :+= ((name, df, rows))
      rows
    }
    Op("standalone.capex_job",
      run = () => {
        capexRan = true
        enrRows = tracer.span("capex.enriched")(CapexDerive.enriched(spark, capexDir).count())
        keptRows = tracer.span("capex.kept")(CapexDerive.kept(spark, capexDir).count())
        val pipe = CapexDerive.pipeline(spark, capexDir)
        tracer.span("capex.pipeline")(collect("capex_pipeline", pipe))
        tracer.span("sources.csv_export")(CsvSource.writeCsv(pipe, csv))
        tracer.span("capex.validate")(
          collect("validate_report", SparkEntry.queries("validate_report")(spark, capexDir)))
        tracer.span("capex.sheets")(
          sheets.foreach(q => collect(q, SparkEntry.queries(q)(spark, capexDir))))
        CapexDerive.clearCache()
        Checkpoints.releaseAll()
      },
      verify = () => {
        outputs.foreach { case (n, df, rows) => writeRows(rows, df, n) }
        val pipeRows = outputs.find(_._1 == "capex_pipeline").map(_._3.length.toLong).getOrElse(0L)
        val csvRows = spark.read.option("header", "true").csv(csv).count()
        val empty = outputs.filter(_._3.isEmpty).map(_._1)
        if (csvRows != pipeRows) Left(s"capex csv export has $csvRows rows, pipeline $pipeRows")
        else if (empty.nonEmpty) Left(s"capex outputs empty: ${empty.mkString(", ")}")
        else Right(pipeRows)
      },
      meta = () => Map("enriched_rows" -> enrRows, "kept_rows" -> keptRows))
  }

  private val landing = s"$out/stream_landing"
  private val batches: Seq[java.io.File] =
    Option(new java.io.File(s"$dir/events").listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  private var query: Option[StreamingQuery] = None
  private var lastBatch = -1L

  /** Starts the long-running `StreamOps.sessionize` query (the session's
    * default RocksDB state store) over an empty landing directory.
    */
  def streamStart(): Op = Op("standalone.stream_start", run = () => {
    new java.io.File(landing).mkdirs()
    val events = spark.readStream.schema(Encoders.product[StreamOps.Event].schema)
      .parquet(landing).as(Encoders.product[StreamOps.Event])
    query = Some(StreamOps.sessionize(events).toDF().writeStream
      .format("memory").queryName("perfbench_sessions")
      .option("checkpointLocation", s"$out/stream_checkpoint")
      .outputMode(OutputMode.Append).start())
  })

  /** Lands batch file `i` (an atomic rename into the landing directory) and
    * waits until the query has committed it: the time a user waits from a
    * file landing to its sessions being emitted.
    */
  def streamBatch(i: Int): Op = {
    var progress = Map.empty[String, Double]
    Op("standalone.stream_batch",
      run = () => {
        val q = query.getOrElse(throw new IllegalStateException("stream not started"))
        java.nio.file.Files.copy(batches(i).toPath,
          java.nio.file.Paths.get(s"$landing/.${batches(i).getName}.tmp"))
        java.nio.file.Files.move(java.nio.file.Paths.get(s"$landing/.${batches(i).getName}.tmp"),
          java.nio.file.Paths.get(s"$landing/${batches(i).getName}"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      },
      verify = () => {
        val q = query.get
        // a trigger posts its progress just after its commit: wait for it
        def since() = q.recentProgress.filter(_.batchId > lastBatch)
        val until = System.nanoTime() + 10e9.toLong
        while (since().map(_.numInputRows).sum < batchRows(i) && System.nanoTime() < until)
          Thread.sleep(20)
        val ps = since()
        if (ps.nonEmpty) lastBatch = ps.map(_.batchId).max
        def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
        val state = ps.lastOption.flatMap(_.stateOperators.headOption)
        progress = Map(
          "streaming.trigger_ms" -> dur("triggerExecution"),
          "streaming.add_batch_ms" -> dur("addBatch"),
          "streaming.planning_ms" -> dur("queryPlanning"),
          "streaming.wal_commit_ms" -> dur("walCommit"),
          "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "streaming.state_mem_mb" -> state.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
          "streaming.state_commit_ms" -> ps.flatMap(_.stateOperators.headOption)
            .map(_.commitTimeMs.toDouble).sum,
          "input_rows" -> ps.map(_.numInputRows.toDouble).sum)
        val in = progress("input_rows").toLong
        if (q.exception.isDefined) Left(s"stream failed: ${q.exception.get.getMessage}")
        else if (in != batchRows(i)) Left(s"stream batch $i read $in rows of ${batchRows(i)}")
        else Right(in)
      },
      meta = () => progress)
  }

  private lazy val batchRows: Seq[Long] =
    batches.map(f => org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
      ).map { r => try r.getRecordCount finally r.close() }

  def streamOps(): Seq[Op] = streamStart() +: batches.indices.map(streamBatch)

  /** Stops the stream and writes what it emitted for the oracle check. */
  def finish(): Map[String, Any] = {
    val emitted = query.map { q =>
      q.stop()
      val s = spark.table("perfbench_sessions")
      s.write.mode("overwrite").parquet(s"$out/check/stream_sessions")
      s.count()
    }.getOrElse(-1L)
    val capex: Map[String, Any] = if (!capexRan) Map.empty else Map(
      "capex_oracle_sql" -> (Seq("capex_pipeline", "validate_report") ++ sheets)
        .map(q => q -> SparkEntry.oracleSql(q)).toMap)
    val stream: Map[String, Any] = if (query.isEmpty) Map.empty else Map(
      "stream_sessions" -> emitted,
      "stream_oracle_sql" -> SparkEntry.oracleSql("stream_sessionize"))
    capex ++ stream
  }
}
