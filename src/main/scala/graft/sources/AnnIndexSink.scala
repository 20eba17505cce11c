package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Tables

/** Persisted ANN serving index — the embedding counterpart of IndexSink's
  * MinHash band table. D7's hyperplane LSH recomputes bucket signatures and
  * re-clusters the corpus on every query run; a daily-ingest ANN user
  * instead probes a STORED index. This sink writes the corpus ONCE as a
  * parquet table with the random-hyperplane bucket id materialized as a
  * single LONG column and the table bucketed BY that column: every probe
  * thereafter joins against pre-partitioned data — the scan reports the
  * bucket spec as its outputPartitioning and Catalyst drops the index-side
  * Exchange (AnnIndexSpec proves the bucketed probe plans strictly fewer
  * exchanges than the recompute form).
  *
  * The one-key-bucket lesson from IndexSink applies unchanged: the layout
  * must hash EXACTLY the join key, so the bucket id is one materialized
  * column, not a (band, hash) pair recomputed at probe time. Multi-probe
  * needs no index change — the QUERY side explodes to the 1-bit-flip
  * buckets; the index side's layout still matches the join key.
  *
  * At 100 TB: the index build is one full shuffle paid at ingest,
  * amortized over every probe. Rebuild only when the hyperplane family
  * changes — bucket ids are content-keyed (md5-derived signs), so
  * appending a new crawl batch writes into the same bucket scheme.
  */
object AnnIndexSink {

  /** Per-dataset, content-fingerprinted table name (a rewritten
    * embeddings table must invalidate the stored index, and the EdgeCase
    * batteries run over empty/null datasets that must not share a name).
    */
  private def tableFor(dir: String): String = {
    val fp = BucketedSink.contentFingerprint(Seq(s"$dir/embeddings.parquet"))
    // the hyperplane width is part of the layout contract: a NumPlanes
    // change (graft.ann.numPlanes, r8) must build a FRESH index — probing
    // a stale table whose stored bucket ids used another width would
    // silently miss every candidate, not fail
    "ann_emb_idx_" + BucketedSink.nameHash(
      s"$dir\n$fp\nplanes=${graft.llm.Ann.NumPlanes}")
  }

  /** Write the hyperplane-bucketed embedding index for `dir`'s corpus. */
  def writeEmbeddingIndex(spark: SparkSession, dir: String, table: String,
                          buckets: Int): Unit =
    writeEmbeddingIndexOf(Tables.embeddings(spark, dir), table, buckets)

  /** Batch-parametric build (ingest pipelines index frames, not dirs),
    * with `BucketedSink.rebuildIndex`'s overwrite contract.
    */
  def writeEmbeddingIndexOf(batch: DataFrame, table: String,
                            buckets: Int): Unit =
    BucketedSink.rebuildIndex(batch.sparkSession, table)(
      BucketedSink.writeBucketed(rowsOf(batch.select(col("vec_id"), col("embedding"))),
        table, "bucket", buckets, sortCols = Seq("bucket")))

  private def rowsOf(vecs: DataFrame): DataFrame =
    vecs.withColumn("bucket", graft.llm.Ann.lshBucket(col("embedding")))

  /** Incremental ingest: append a new batch into the EXISTING index table
    * through `BucketedSink.appendIndex` (idempotent, reinstating, one file
    * per bucket). Bucket ids are content-keyed (md5-derived hyperplane
    * signs), so the new batch computes the identical bucket scheme and V1
    * insert honors the catalog's bucket spec — the appended files land
    * hashed into the same layout and every downstream probe keeps its
    * exchange-free index side: rebuild only when the hyperplane family
    * changes. (AnnIndexSpec proves a half-build + append probes
    * identically to a full build — which is also the layout-correctness
    * proof: a mis-bucketed append would make the bucket-trusting join
    * silently MISS rows, not just slow down.)
    */
  def appendEmbeddings(batch: DataFrame, table: String): Unit =
    BucketedSink.appendIndex(batch.select(col("vec_id"), col("embedding")),
      table, "vec_id")(rowsOf)

  /** Retract embeddings from the serving index (a real corpus takes
    * documents DOWN — an index that can only grow re-serves deleted
    * vectors as neighbors): record vec_ids as tombstones; every probe
    * excludes them via the driver-held takedown filter in
    * `BucketedSink.readServing`, index-side bucket layout and exchange
    * count unchanged. Re-appending a tombstoned vec_id reinstates it
    * (`BucketedSink.appendIndex`); AnnIndexSpec/IndexTombstoneSpec pin
    * the delete ≡ rebuild contract.
    */
  def deleteEmbeddings(spark: SparkSession, table: String, vecIds: DataFrame): Unit =
    BucketedSink.appendTombstones(spark, table,
      vecIds.select(col(vecIds.columns.head).as("vec_id")))

  /** Fold tombstones into the files (same bucket spec, staging + rename)
    * and clear the tombstone table; probes are identical before/after.
    */
  def compact(spark: SparkSession, table: String): Unit =
    BucketedSink.compactTombstones(spark, table, "vec_id")

  /** Idempotent build: write the index only if this dataset's table is
    * missing; returns the table name. Bucket count follows the
    * BucketedSink rule (`indexBuckets`: the session's shuffle partitions).
    */
  def ensureEmbeddingIndex(spark: SparkSession, dir: String): String = {
    val table = tableFor(dir)
    BucketedSink.ensureIndex(spark, table)(
      writeEmbeddingIndex(spark, dir, table, BucketedSink.indexBuckets(spark)))
  }
}
