package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables

/** Scale-ladder extension one decade past the shipped testdata (r9,
  * VERDICT item 5): the driver ships no sf1 drop, so an sf1-shaped corpus
  * is AMPLIFIED from sf0.1 (the FkShapes precedent) and the rows nearest
  * the ladder's flag line — the pair-generator family (+0.99/+0.77
  * top-decade exponents in SCALING.md) and the corpus flagship — are
  * re-measured at the new top decade.
  *
  * Amplification design (the part that decides whether the measurement
  * means anything): documents replicated `amp`× with shifted doc_ids and
  * a PER-REPLICA CHARACTER ROTATION (Caesar-shift both alphabets by k).
  * Rotation preserves every length/shape statistic but makes replica
  * shingle/substring spaces DISJOINT — so near-dup mass grows linearly
  * (each replica carries sf0.1's internal duplicate structure), which is
  * what a genuinely 10× crawl looks like. A naive union would replicate
  * every doc into a 10-member exact-dup cluster and inflate the pair
  * generators QUADRATICALLY — planting the very superlinearity the ladder
  * exists to catch. Embeddings (r10, the serving/linear-algebra tier's
  * decade) replicate with shifted vec_ids and a PER-REPLICA COORDINATE
  * ROTATION — the same idea in vector space: norms, per-replica pairwise
  * distances and every dimension-marginal statistic are preserved, but
  * replicas are distinct vectors, so candidate volume per ANN query
  * genuinely grows amp× instead of the shortlists trivially re-finding
  * planted exact duplicates. Other tables copy as-is.
  *
  * Output: one line per measurement, `SCALEXL <query> <amp> <seconds>`
  * (one untimed warmup run, then best-of-2 noop-sink runs with caches
  * cleared between queries) — appended to SCALING.md's
  * top-decade section by hand with exponents vs the sf0.1 row.
  *
  * Run: sbt 'Test/runMain graft.tools.ScalingXL [amp] [query...]'
  */
/** Shared amplified-corpus builder (ScalingXL's rotation design — see its
  * scaladoc) so every amplified-decade tool measures the SAME corpus
  * construction: documents replicated amp× with per-replica character
  * rotation, embeddings with per-replica coordinate rotation, other
  * tables copied. Returns the temp dir holding the amplified tables.
  */
object AmpData {
  def build(spark: org.apache.spark.sql.SparkSession, sfDir: String, amp: Int): String = {
    require(amp >= 1 && amp <= 26,
      s"amplification must be in [1, 26] (26-letter rotation alphabet), got $amp")
    val tmp = java.nio.file.Files.createTempDirectory("graft-sfxl").toString
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def rot(s: String, k: Int) = s.drop(k % 26) + s.take(k % 26)
    Tables.all.foreach { t =>
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      val out =
        if (t == "documents")
          (0 until amp).map { k =>
            df.select(
              (col("doc_id") + lit(k.toLong * 100000000L)).as("doc_id"),
              translate(col("text"), lower + upper, rot(lower, k) + rot(upper, k))
                .as("text"),
              col("lang"), col("source"), col("n_chars"))
          }.reduce(_.unionAll(_))
        else if (t == "embeddings")
          (0 until amp).map { k =>
            val d = graft.llm.Ann.Dim
            val rotated =
              if (k == 0) col("embedding")
              else concat(slice(col("embedding"), k + 1, d - k),
                slice(col("embedding"), 1, k))
            df.select(
              (col("vec_id") + lit(k.toLong * 100000000L)).as("vec_id"),
              rotated.as("embedding"), col("label"))
          }.reduce(_.unionAll(_))
        else df
      out.write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    }
    tmp
  }
}

object ScalingXL {
  val DefaultQueries: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_jaccard_prefix", "dedup_edit_distance", "dedup_containment",
    "dedup_components", "corpus_clean", "corpus_pipeline")

  def main(args: Array[String]): Unit = {
    val amp = args.headOption.map(_.toInt).getOrElse(10)
    val only: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    val sfDir = "/root/testdata/sf0.1"
    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tmp = AmpData.build(spark, sfDir, amp)
    def runOnce(name: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, tmp).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable => System.err.println(s"[scalexl] $name: $e"); false }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
      graft.capex.CapexDerive.clearCache()
      graft.Checkpoints.releaseAll()
      dt
    }
    only.foreach { name =>
      runOnce(name) // warmup: codegen + JIT + AQE plan choice
      val best = math.min(runOnce(name), runOnce(name))
      if (best.isNaN) println(s"SCALEXL $name $amp FAILED")
      else println(f"SCALEXL $name $amp $best%.3f")
    }
    spark.stop()
  }
}
