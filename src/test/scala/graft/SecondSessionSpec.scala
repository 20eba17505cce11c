package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** graft's native functions are built into each plan, not looked up in a
  * session's function registry, so a second session in the same JVM runs
  * every kernel family — float, int and double dot products, the
  * tokenizer and the bloom bridge — with the active session left as it is.
  */
class SecondSessionSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private lazy val second: SparkSession = spark.newSession()

  for (q <- Seq("ann_bruteforce", "ann_int8", "quality_logreg",
                "dedup_minhash", "decontaminate_bloom"))
    test(s"$q returns the default session's rows in a second session") {
      val want = rows(SparkEntry.queries(q)(spark, sfDir))
      Checkpoints.releaseAll()
      val got = rows(SparkEntry.queries(q)(second, sfDir))
      Checkpoints.releaseAll()
      assert(SparkSession.active eq spark, "the active session must not change")
      assert(want.nonEmpty && got == want)
    }
}
