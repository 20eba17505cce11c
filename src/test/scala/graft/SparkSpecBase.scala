package graft

import org.apache.spark.sql.SparkSession
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
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
