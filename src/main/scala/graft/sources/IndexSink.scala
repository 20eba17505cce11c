package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** Persisted MinHash signature index — the storage half of the
  * incremental-dedup contract (SURVEY.md §2.D22). `dedup_incremental`
  * PROBES "the stored corpus signature index"; this sink is what actually
  * stores it: the (doc_id, sig, band_idx, band_hash) band table written
  * ONCE as a parquet table bucketed by the probe key. Every subsequent
  * daily-batch probe then joins against pre-partitioned data — the scan
  * reports the bucket spec as its outputPartitioning, Catalyst drops the
  * index-side Exchange, and the only data that moves is the day's batch
  * (IndexSinkSpec proves exactly one Exchange in the shuffled-probe plan).
  *
  * At 100 TB this is the difference between re-shuffling the multi-TB
  * signature table every morning and shuffling only the new crawl: the
  * bucket layout is the one shuffle, paid at index-build time, amortized
  * over every probe after it. The full-corpus index's bucket count
  * follows the BucketedSink rule (`indexBuckets`: the building session's
  * shuffle partitions).
  *
  * Rebuild cadence: the index table is append-friendly (new batches union
  * in by writing to the same bucket scheme); a full rewrite is only needed
  * when signature parameters change, since band hashes are content-keyed.
  */
object IndexSink {

  /** The probe key (band_idx, band_hash) materialized as ONE column — the
    * bucket layout must hash exactly the join key, and a compound key
    * would either disable the bucketed scan (two-key join over a one-key
    * layout) or get re-extracted into the join by Catalyst if left as a
    * post-join filter. One derived column sidesteps both.
    */
  private def bandKey = concat_ws(":", col("band_idx"), col("band_hash"))

  /** Build the signature index for the non-batch slice of `dir`'s corpus
    * (the same `doc_id % IncrementalBatchMod != 0` split dedup_incremental
    * treats as "already ingested") and persist it bucketed by band_key,
    * with `BucketedSink.rebuildIndex`'s overwrite contract.
    */
  def writeSignatureIndex(spark: SparkSession, dir: String, table: String,
                          buckets: Int): Unit =
    BucketedSink.rebuildIndex(spark, table) {
      val sigs = Dedup.minhashSignatures(spark, dir)
        .filter(col("doc_id") % Dedup.IncrementalBatchMod =!= 0)
        .withColumn("band_key", bandKey)
      BucketedSink.writeBucketed(sigs, table, "band_key", buckets)
    }

  /** Probe the stored index with a batch's band rows: a batch doc is a
    * duplicate iff some shared (band_idx, band_hash) bucket pairs it with
    * an index doc at signature agreement >= 0.5 — the same estimate and
    * threshold dedup_incremental computes, so output matches its dup
    * pairs exactly (spec-asserted). The index side of the join reads
    * bucket-partitioned with NO exchange; only `batch` moves.
    */
  def probe(spark: SparkSession, table: String, batch: DataFrame): DataFrame =
    probePairs(spark, table, batch).distinct()

  /** The pair core every probe of the index shares, batch or streaming:
    * served (tombstone-filtered) band rows ⋈ the batch's band rows on
    * band_key, kept at signature agreement >= 0.5, as (index_id,
    * batch_id) plus the `carry` columns of `batch`. Not deduplicated: a
    * pair repeats once per shared band, and each caller collapses repeats
    * its own way (`probe` with `distinct`, `StreamOps.indexProbeStream`
    * within its watermark).
    */
  private[graft] def probePairs(spark: SparkSession, table: String, batch: DataFrame,
                                carry: String*): DataFrame = {
    val b = batch
      .withColumn("band_key", bandKey)
      .select(Seq(col("doc_id").as("batch_id"), col("sig").as("sig_b"),
        col("band_key")) ++ carry.map(col): _*)
    val est = Dedup.sigAgreement(col("sig_a"), col("sig_b"))
    BucketedSink.readServing(spark, table, "doc_id")
      .select(col("doc_id").as("index_id"), col("sig").as("sig_a"), col("band_key"))
      .join(b, Seq("band_key"))
      .filter(est >= 0.5)
      .select(Seq(col("index_id"), col("batch_id")) ++ carry.map(col): _*)
  }

  /** Full-corpus signature index (r8, corpus_pipeline_indexed): EVERY
    * doc's band rows — unlike `writeSignatureIndex`'s non-batch slice —
    * persisted once per dataset, bucketed by band_key, content-
    * fingerprinted so a rewritten corpus invalidates the table (the
    * AnnIndexSink naming contract). This is the ingest-time artifact that
    * lets the cleaning pipeline's near-dup stage SELF-join pre-partitioned
    * band rows instead of recomputing shingles → digests → signatures →
    * bands per run: at 100 TB the signature computation is the dominant
    * dedup cost, and this pays it once.
    */
  def ensureFullSignatureIndex(spark: SparkSession, dir: String): String = {
    val fp = BucketedSink.contentFingerprint(Seq(s"$dir/documents.parquet"))
    val table = "sig_idx_full_" + BucketedSink.nameHash(s"$dir\n$fp")
    BucketedSink.ensureIndex(spark, table) {
      val sigs = Dedup.minhashSignatures(spark, dir).withColumn("band_key", bandKey)
      BucketedSink.writeBucketed(sigs, table, "band_key", BucketedSink.indexBuckets(spark))
    }
  }

  /** D2's near-dup pair generation served from the stored full-corpus
    * index: the band-bucket SELF-join reads both sides from the SAME
    * bucketed layout, so neither side pays an exchange on the join key
    * (CorpusPipelineSpec proves the plan delta vs the recompute form);
    * est_sim and the ≥ 0.5 confirm are dedupMinhash's expressions
    * verbatim, so the pair set is identical — the recompute query's
    * oracle verifies this path too.
    */
  def pairsFromIndex(spark: SparkSession, table: String): DataFrame = {
    val idx = BucketedSink.readServing(spark, table, "doc_id")
    val a = idx.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
      col("band_key"))
    val c = idx.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
      col("band_key"))
    val est = Dedup.sigAgreement(col("sig_a"), col("sig_b"))
    a.join(c, Seq("band_key")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), est.as("est_sim"))
      .filter(col("est_sim") >= 0.5)
      .distinct()
  }

  /** Retract documents from the stored index (takedowns / robots
    * retractions): record their doc_ids as tombstones — every subsequent
    * probe excludes them via `BucketedSink.readServing`'s driver-held
    * takedown filter, with the index-side bucket layout (and so the
    * probe's exchange count) unchanged. O(takedown list), no index
    * rewrite; fold in with `compact` when the list grows.
    */
  def deleteDocs(spark: SparkSession, table: String, docIds: DataFrame): Unit =
    BucketedSink.appendTombstones(spark, table,
      docIds.select(col(docIds.columns.head).as("doc_id")))

  /** Rewrite the index without its tombstoned docs (same bucket spec,
    * staging-table + rename — one distributed job) and clear the
    * tombstone table. Probe results are identical before and after
    * (IndexSinkSpec proves probe-after-delete ≡ probe-of-rebuild).
    */
  def compact(spark: SparkSession, table: String): Unit =
    BucketedSink.compactTombstones(spark, table, "doc_id")
}
