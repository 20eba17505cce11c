package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, to_timestamp}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; specs run
  * in the forked test JVM). sf0.001 testdata is the spec-scale input.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh, writable copy of a flat testdata directory. */
  def tempCopyOf(dir: String): String = {
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft-sf-copy")
    new java.io.File(dir).listFiles.foreach(f =>
      Files.copy(f.toPath, out.resolve(f.getName)))
    out.toString
  }

  /** `df` staged as one parquet file and read back as a stream, every row
    * arriving at one event time in column `arrived`. */
  def arrivingStream(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-arrivals").toString
    df.withColumn("arrived", to_timestamp(lit("2026-01-01 00:00:00")))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
  }

  /** Run a sink-form stream to completion: the rows every micro-batch
    * delivered (`|`-joined), and the query's progress reports. */
  def drainSink(start: (DataFrame => Unit) => StreamingQuery)
      : (Seq[String], Seq[StreamingQueryProgress]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = start(b => buf.synchronized { buf ++= b.collect().map(_.toSeq.mkString("|")) })
    q.processAllAvailable()
    val prog = q.recentProgress.toSeq
    q.stop()
    (buf.toSeq, prog)
  }

  /** Run `f` with the given session confs set, restoring them after. */
  def withSQLConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  def deleteTree(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    finally walk.close()
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      // mirror GraftSession: prefix-bucketed joins reuse the layout
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // mirror GraftSession: AQE sizes partitions inside cached plans
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // a whole-stage codegen compile failure fails the query instead of
      // silently re-running the stage interpreted (VectorOpsSpec shows it)
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
