package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.{Checkpoints, SparkEntry}
import graft.llm.Corpus
import graft.sources.ShardSink

/** corpus_etl: back-to-back pretraining-manifest jobs. Each job runs the
  * clean → dedup → mixture → BPE-pack flagship (`Corpus.corpusPipeline`),
  * exports the manifest with `ShardSink.writeShards`, then releases the
  * job's checkpoint barriers, as a nightly data-prep run would.
  */
final class CorpusEtl(spark: SparkSession, dir: String, out: String,
                      tracer: Tracer) extends Workload {
  private val manifest = s"$out/manifest"
  private var expectedRows = -1L

  private def job(): Op = Op("job",
    run = () => {
      val df = tracer.span("llm.corpus_pipeline")(Corpus.corpusPipeline(spark, dir))
      tracer.span("sources.shard_write")(ShardSink.writeShards(df, manifest, "doc_id", 8))
      tracer.span("checkpoints.release")(Checkpoints.releaseAll())
    },
    verify = () => {
      val n = spark.read.parquet(manifest).count()
      if (expectedRows < 0) expectedRows = n
      if (n == expectedRows && n > 0) Right(n)
      else Left(s"manifest has $n rows, first job wrote $expectedRows")
    })

  def warmup(): Seq[Op] = Seq(job())
  def next(): Op = job()
  /** Four jobs at least, so that the percentiles rest on more than the
    * one or two jobs that fit `--seconds` on a slow host.
    */
  override def covered(measured: Seq[OpRec]): Boolean = measured.size >= 4

  /** Each stage of the flagship on its own, plus the two MinHash stages
    * whose row ratio is the near-dup pair yield; then the stream probe.
    */
  override def tracedOps(probes: LayerProbes): Seq[Op] =
    Seq("text_quality", "dedup_exact", "dedup_components", "decontaminate",
      "corpus_mixture", "text_bpe_encode", "dedup_minhash", "dedup_minhash_verified")
      .map { q =>
        var rows = 0L
        Op(s"standalone.$q", run = () => {
          val df = SparkEntry.queries(q)(spark, dir).cache()
          rows = df.count()
          df.unpersist()
          Checkpoints.releaseAll()
        }, verify = () => Right(rows))
      } ++ probes.streamOps()

  /** The last job's manifest is compared with the DuckDB oracle by
    * `perfbench/run.py`; hand it the oracle SQL for the same input.
    */
  def finalCheck(): Map[String, Any] = Map(
    "manifest" -> manifest,
    "manifest_rows" -> expectedRows,
    "oracle_sql" -> Map("corpus_pipeline" -> SparkEntry.oracleSql("corpus_pipeline")))
}
