package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.llm.{Ann, Dedup}
import graft.sources.{AnnIndexSink, BucketedSink, IndexSink}

/** Index maintenance: a real corpus RETRACTS documents (takedowns), and a
  * persisted serving index that can only grow re-serves deleted content.
  * These tests pin the r7 tombstone contract on BOTH persisted indexes:
  *  - probe-after-delete ≡ probe-of-a-rebuild-without-the-deleted-keys,
  *  - the serving view preserves the bucket layout (no new bucket
  *    exchange — deletion costs a row filter, never a reshuffle), and
  *    keeps the anti-join's null semantics,
  *  - deletion is idempotent under redelivery,
  *  - compaction folds tombstones into the files: same probe results,
  *    fewer physical rows, tombstone table gone, bucket layout intact,
  *  - a rebuild over a tombstoned name serves the whole new build: no
  *    stale tombstone survives it.
  */
class IndexTombstoneSpec extends SparkSpecBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  private def bucketShuffles(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect()
    df.queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.toString.toLowerCase.contains("bucket"))
  }

  test("ann index: delete == rebuild, layout kept, compact folds tombstones") {
    val full = "ann_idx_tomb_full"; val rebuilt = "ann_idx_tomb_rebuilt"
    drop(full, rebuilt, BucketedSink.tombTableOf(full))
    val v = Tables.embeddings(spark, sfDir)
    AnnIndexSink.writeEmbeddingIndexOf(v, full, buckets = 8)
    // delete a query vector AND several corpus vectors: rank shifts on
    // both sides of the probe join must match a genuine rebuild
    val del = Seq(5L, 20L, 21L, 22L, 40L)
    import spark.implicits._
    AnnIndexSink.deleteEmbeddings(spark, full, del.toDF("vec_id"))
    AnnIndexSink.writeEmbeddingIndexOf(
      v.filter(!col("vec_id").isin(del: _*)), rebuilt, buckets = 8)
    val rebuiltRows = rows(Ann.probeIndexTable(spark, rebuilt))
    assert(rows(Ann.probeIndexTable(spark, full)) == rebuiltRows)
    assert(rebuiltRows.nonEmpty)
    // the serving anti-join must not cost the layout: still zero bucket
    // exchanges in the executed probe plan
    assert(bucketShuffles(Ann.probeIndexTable(spark, full)).isEmpty,
      "tombstone anti-join broke the bucket layout")
    // redelivered takedown batch: no tombstone growth
    val tombCount = spark.table(BucketedSink.tombTableOf(full)).count()
    AnnIndexSink.deleteEmbeddings(spark, full, del.toDF("vec_id"))
    assert(spark.table(BucketedSink.tombTableOf(full)).count() === tombCount)
    // compaction: fewer physical rows, tombstones gone, probe unchanged,
    // layout still bucketed (exchange-free probe)
    val physBefore = spark.table(full).count()
    AnnIndexSink.compact(spark, full)
    assert(!spark.catalog.tableExists(BucketedSink.tombTableOf(full)))
    assert(spark.table(full).count() === physBefore - del.length)
    assert(rows(Ann.probeIndexTable(spark, full)) == rebuiltRows)
    assert(bucketShuffles(Ann.probeIndexTable(spark, full)).isEmpty,
      "compaction lost the bucket layout")
    // rebuild over the same name after a takedown of SERVED neighbors:
    // the fresh full build must serve them again, like a build under a
    // new name
    AnnIndexSink.writeEmbeddingIndexOf(v, rebuilt, buckets = 8)
    val freshRows = rows(Ann.probeIndexTable(spark, rebuilt))
    val served = Ann.probeIndexTable(spark, rebuilt).select(col("nb_id")).distinct()
      .orderBy(col("nb_id")).limit(3).collect().map(_.getLong(0)).toSeq
    AnnIndexSink.deleteEmbeddings(spark, full, served.toDF("vec_id"))
    assert(rows(Ann.probeIndexTable(spark, full)) != freshRows,
      "sanity: the takedown must change probe output")
    AnnIndexSink.writeEmbeddingIndexOf(v, full, buckets = 8)
    assert(!spark.catalog.tableExists(BucketedSink.tombTableOf(full)),
      "rebuild kept stale tombstones — the fresh index would hide vectors")
    assert(rows(Ann.probeIndexTable(spark, full)) == freshRows,
      "rebuilt index does not serve like a fresh full build")
    drop(full, rebuilt)
    Checkpoints.releaseAll()
  }

  test("null keys: a null tombstone hides nothing, a null-keyed row is still served") {
    val tbl = "null_key_tomb_case"
    BucketedSink.dropIndex(spark, tbl)
    import spark.implicits._
    val data = Seq((Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "c"))
      .toDF("k", "v")
    BucketedSink.writeBucketed(data, tbl, "k", 2)
    def served = rows(BucketedSink.readServing(spark, tbl, "k"))
    BucketedSink.appendTombstones(spark, tbl, Seq(Option.empty[Long]).toDF("k"))
    assert(served == Set("1|a", "2|b", "null|c"), "a null tombstone hid rows")
    BucketedSink.appendTombstones(spark, tbl, Seq(Option(2L)).toDF("k"))
    assert(served == Set("1|a", "null|c"),
      "a takedown beside a null tombstone must hide exactly its key")
    // keys of another integral type are stored in the index's key type
    BucketedSink.appendTombstones(spark, tbl, Seq(1).toDF("k"))
    assert(served == Set("null|c"), "an int takedown did not hide a long key")
    BucketedSink.dropIndex(spark, tbl)
  }

  test("null keys on the write path: a null arrival is inserted once, a null takedown hides nothing") {
    val tbl = "null_key_write_case"
    BucketedSink.dropIndex(spark, tbl)
    import spark.implicits._
    val data = Seq((Option(1L), "a"), (Option(2L), "b")).toDF("k", "v")
    BucketedSink.writeBucketed(data, tbl, "k", 2)
    def served = BucketedSink.readServing(spark, tbl, "k").collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted
    // an arrival with a null key is not "present", so it inserts and serves
    val arrival = Seq((Option(3L), "c"), (Option.empty[Long], "d")).toDF("k", "v")
    BucketedSink.appendIndex(arrival, tbl, "k")(identity)
    assert(served == Seq("1|a", "2|b", "3|c", "null|d"), "a null-keyed arrival was not served once")
    // a takedown frame carrying a null key hides exactly its non-null keys
    BucketedSink.appendTombstones(spark, tbl, Seq(Option.empty[Long]).toDF("k"))
    assert(served == Seq("1|a", "2|b", "3|c", "null|d"), "a null takedown hid rows")
    BucketedSink.appendTombstones(spark, tbl, Seq(Option.empty[Long], Option(3L)).toDF("k"))
    assert(served == Seq("1|a", "2|b", "null|d"), "a takedown beside a null key hid more than its key")
    BucketedSink.dropIndex(spark, tbl)
  }

  test("compaction recovers a swap interrupted between the two renames") {
    val tbl = "ann_idx_tomb_crash"
    val staging = tbl + "_compacting"; val backup = tbl + "_precompact"
    drop(tbl, staging, backup, BucketedSink.tombTableOf(tbl))
    val v = Tables.embeddings(spark, sfDir)
    AnnIndexSink.writeEmbeddingIndexOf(v, tbl, buckets = 8)
    import spark.implicits._
    AnnIndexSink.deleteEmbeddings(spark, tbl, Seq(5L, 20L).toDF("vec_id"))
    val expected = rows(Ann.probeIndexTable(spark, tbl))
    // reproduce the swap's one unsafe window by hand: survivors-only
    // staging fully written, serving renamed to the backup name, CRASH
    // before the second rename — the serving name does not exist
    BucketedSink.writeBucketed(BucketedSink.readServing(spark, tbl, "vec_id"),
      staging, "bucket", 8, sortCols = Seq("bucket"))
    spark.sql(s"ALTER TABLE `$tbl` RENAME TO `$backup`")
    assert(!spark.catalog.tableExists(tbl))
    // a rerun must roll the swap FORWARD and finish the compaction, not
    // throw at getTableMetadata
    AnnIndexSink.compact(spark, tbl)
    assert(spark.catalog.tableExists(tbl), "recovery lost the serving table")
    assert(!spark.catalog.tableExists(backup) && !spark.catalog.tableExists(staging))
    assert(!spark.catalog.tableExists(BucketedSink.tombTableOf(tbl)))
    assert(rows(Ann.probeIndexTable(spark, tbl)) == expected)
    // crash AFTER the swap, before cleanup: backup beside an intact
    // serving table — recovery drops the stale backup only
    spark.table(tbl).limit(1).write.format("parquet").saveAsTable(backup)
    AnnIndexSink.compact(spark, tbl)
    assert(!spark.catalog.tableExists(backup), "stale backup not cleaned up")
    assert(rows(Ann.probeIndexTable(spark, tbl)) == expected)
    // crash with NO staging (rolled back state): serving restored from backup
    spark.sql(s"ALTER TABLE `$tbl` RENAME TO `$backup`")
    AnnIndexSink.compact(spark, tbl)
    assert(spark.catalog.tableExists(tbl), "roll-back did not restore serving")
    assert(!spark.catalog.tableExists(backup))
    assert(rows(Ann.probeIndexTable(spark, tbl)) == expected)
    drop(tbl)
    Checkpoints.releaseAll()
  }

  test("minhash index: delete == rebuild, layout kept, compact folds tombstones") {
    val full = "sig_idx_tomb_full"; val rebuilt = "sig_idx_tomb_rebuilt"
    drop(full, rebuilt, BucketedSink.tombTableOf(full))
    IndexSink.writeSignatureIndex(spark, sfDir, full, buckets = 4)
    val batch = Dedup.minhashSignatures(spark, sfDir)
      .filter(col("doc_id") % Dedup.IncrementalBatchMod === 0)
    // take down two docs that actually pair with the batch, so the delete
    // provably changes probe output
    val preDelete = rows(IndexSink.probe(spark, full, batch))
    val hit = IndexSink.probe(spark, full, batch)
      .select(col("index_id")).distinct().orderBy(col("index_id"))
      .limit(2).collect().map(_.getLong(0)).toSeq
    assert(hit.size === 2, "need ≥2 index docs pairing with the batch")
    import spark.implicits._
    IndexSink.deleteDocs(spark, full, hit.toDF("doc_id"))
    // genuine rebuild without the deleted docs (mirrors writeSignatureIndex)
    val sigs = Dedup.minhashSignatures(spark, sfDir)
      .filter(col("doc_id") % Dedup.IncrementalBatchMod =!= 0)
      .filter(!col("doc_id").isin(hit: _*))
      .withColumn("band_key", concat_ws(":", col("band_idx"), col("band_hash")))
    BucketedSink.writeBucketed(sigs, rebuilt, "band_key", 4)
    val rebuiltPairs = rows(IndexSink.probe(spark, rebuilt, batch))
    assert(rows(IndexSink.probe(spark, full, batch)) == rebuiltPairs)
    // non-vacuity: the takedown genuinely changed probe output vs the
    // PRE-delete probe (both-sides-broken cannot sneak past equality)
    assert(rebuiltPairs != preDelete && rebuiltPairs.size < preDelete.size,
      "sanity: deletions must remove pairs vs the pre-delete probe")
    assert(bucketShuffles(IndexSink.probe(spark, full, batch)).isEmpty,
      "tombstone anti-join broke the band_key layout")
    // compaction: probe unchanged, band rows of the deleted docs gone
    val physBefore = spark.table(full).count()
    IndexSink.compact(spark, full)
    assert(!spark.catalog.tableExists(BucketedSink.tombTableOf(full)))
    assert(spark.table(full).count() < physBefore)
    assert(rows(IndexSink.probe(spark, full, batch)) == rebuiltPairs)
    assert(bucketShuffles(IndexSink.probe(spark, full, batch)).isEmpty,
      "compaction lost the band_key layout")
    // rebuild over a tombstoned index: the takedowns must not survive it
    IndexSink.deleteDocs(spark, full, hit.toDF("doc_id"))
    IndexSink.writeSignatureIndex(spark, sfDir, full, buckets = 4)
    assert(!spark.catalog.tableExists(BucketedSink.tombTableOf(full)),
      "rebuild kept stale tombstones — the fresh index would hide docs")
    assert(rows(IndexSink.probe(spark, full, batch)) == preDelete,
      "rebuilt index does not serve like a fresh build")
    drop(full, rebuilt)
    Checkpoints.releaseAll()
  }
}
