package graft.sources

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.CatalystTypeConverters.{convertToCatalyst, convertToScala}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** Bucketed parquet table sink — the production answer to the shuffles the
  * capex pipeline pays on RequestNo and every repeated key join/window
  * (SURVEY.md §5): write the fact ONCE clustered by the hot key, and every
  * downstream groupBy/join/window on that key reads pre-partitioned data
  * with NO exchange (FileSourceScanExec reports the bucket spec as its
  * outputPartitioning, so Catalyst drops the Exchange; with sortBy and one
  * file per bucket the sort is free too).
  *
  * At 100 TB the write is one full shuffle paid once; every subsequent run
  * of the 19-rule pipeline, the representative-row window, fail-open key
  * aggregation, or a co-bucketed join then runs exchange-free. Bucket count
  * is chosen like shuffle partitions; a persisted serving index takes the
  * building session's shuffle-partition count (`indexBuckets`).
  */
object BucketedSink {

  /** Bucket count of a persisted index built in `spark`: the session's
    * `spark.sql.shuffle.partitions` — the core count locally (GraftSession),
    * cores × executors on a cluster. Every read scans the index as one task
    * per bucket, so a bucket count above the parallelism only adds task
    * waves, files opened per probe and files written per append; one bucket
    * would serialize the scan. Answers do not depend on the count: reads
    * join on stored columns, and compaction keeps the stored spec.
    */
  def indexBuckets(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Write `df` as a bucketed (optionally bucket-sorted) managed parquet
    * table. `saveAsTable` is required — bucket metadata lives in the
    * catalog, not the files.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** path:size:mtime fingerprint of the files under `paths` (plain files or
    * parquet directories) — folded into persisted-table names so rewriting
    * a dataset in place invalidates the cached table instead of silently
    * serving stale data.
    */
  def contentFingerprint(paths: Seq[String]): String = {
    import java.nio.file.{Files, Paths}
    paths.flatMap { s =>
      val p = Paths.get(s)
      if (!Files.exists(p)) Seq(s"$s:absent")
      else if (Files.isDirectory(p)) {
        val walk = Files.walk(p)
        try walk.iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(f => s"$f:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}")
          .toSeq.sorted
        finally walk.close()
      } else Seq(s"$p:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
    }.mkString("\n")
  }

  /** MD5 of `seed`, hex, truncated — table-name suffix for fingerprints. */
  def nameHash(seed: String, len: Int = 16): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(seed.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(len)

  /** Tombstone-table name for a persisted index table. */
  def tombTableOf(table: String): String = table + "_tomb"

  /** Record deletions against a persisted index: add the keys of the
    * (single-column) key frame to the index's tombstone table, creating it
    * on the first write. The keys are stored in the index's own key type,
    * so the serving filter compares like with like. Tombstones are the
    * contract-bounded small side of every serving read (a takedown list,
    * not a corpus): the frame's keys collect to the driver and only those
    * not in the held takedown set (`takedowns`) are written, so a
    * redelivered takedown writes no file and runs no job. A null key
    * hides nothing and is not stored.
    */
  def appendTombstones(spark: SparkSession, table: String, keys: DataFrame): Unit = {
    val tt = tombTableOf(table)
    val key = keys.columns.head
    val keyType = spark.table(table).schema(key).dataType
    val fresh = catalystKeys(keys.select(col(key).cast(keyType)).collect()) --
      takedowns(spark, table)
    if (fresh.isEmpty) return
    // one file per takedown: a local frame scans as one task per row
    val w = spark.createDataFrame(fresh.toSeq.map(k => Row(convertToScala(k, keyType))).asJava,
      StructType(Seq(StructField(key, keyType)))).coalesce(1).write
    if (spark.catalog.tableExists(tt)) w.insertInto(tt)
    else ensureTable(spark, tt)(w.format("parquet").saveAsTable(tt))
  }

  /** Serving view of a persisted index: the stored table minus its
    * tombstones, as the row filter `keyCol IS NULL OR NOT InSet(keyCol,
    * tombstoned keys)` (`without`) with the keys held on the driver
    * (`takedowns`), so the read runs no tombstone job. The set is a
    * reference object in the generated code, so a takedown does not
    * recompile the read. A filter keeps the bucketed scan's output
    * partitioning, so a downstream join on the bucket key still reads the
    * bucketed layout with NO index-side Exchange (IndexTombstoneSpec).
    * The takedown list is read when the view is built, so a frame built
    * before a takedown does not see it. With no tombstone table, or an
    * empty one, the read is the plain bucketed scan.
    */
  def readServing(spark: SparkSession, table: String, keyCol: String): DataFrame =
    without(spark.table(table), col(keyCol), takedowns(spark, table))

  /** The tombstoned keys of `table`, held on the driver (`heldRows`) as
    * Catalyst values. With no tombstone table the set is empty (a
    * catalog-only check: compaction DROPS the tombstone table).
    */
  private def takedowns(spark: SparkSession, table: String): Set[Any] =
    if (!spark.catalog.tableExists(tombTableOf(table))) Set.empty
    else catalystKeys(heldRows(spark, tombTableOf(table)))

  /** The first-column values of `rows` as Catalyst values, the form an
    * `InSet` holds, without null: a null key is never tombstoned or
    * present, and a null tombstone hides nothing.
    */
  private def catalystKeys(rows: Iterable[Row]): Set[Any] =
    rows.map(r => convertToCatalyst(r.get(0))).toSet - null

  /** `df` without the rows whose `key` is in the driver-held set `keys`
    * (Catalyst values of the key's type): the filter `key IS NULL OR NOT
    * InSet(key, keys)`, an anti-join's semantics (a null key is never in
    * the set). With an empty set, `df` itself.
    */
  private def without(df: DataFrame, key: Column, keys: Set[Any]): DataFrame =
    if (keys.isEmpty) df else df.filter(key.isNull || !inSet(key, keys))

  private def inSet(c: Column, keys: Set[Any]): Column =
    GraftPlanBridge.column(InSet(GraftPlanBridge.expression(c), keys))

  /** Rows of the small tables an index's reads and writes need whole
    * (tombstones, lexical `_df` and `_stats`), by table name, with the
    * file snapshot they were read from.
    */
  private val held = TrieMap.empty[String, (Seq[String], Seq[Row])]

  /** The rows of a small table, held on the driver and re-read only when
    * the file snapshot the session resolves for it (`inputFiles`, the
    * files a scan of it would read) changes. Every Spark write, compaction
    * and rebuild changes that snapshot, so a held value is never staler
    * than the scan it replaces, and repeated reads of an unchanged table
    * run no job. Only for tables bounded by contract (a takedown list,
    * the vocabulary, one stats row): every row lives on the driver.
    */
  private[graft] def heldRows(spark: SparkSession, table: String): Seq[Row] = {
    val t = spark.table(table)
    val snapshot = t.inputFiles.toSeq.sorted
    held.get(table) match {
      case Some((s, rows)) if s == snapshot => rows
      case _ =>
        val rows = t.collect().toSeq
        held.put(table, (snapshot, rows))
        rows
    }
  }

  /** Fold tombstones into the files: rewrite the index as survivors-only
    * under the SAME bucket spec (staging table + catalog rename — no
    * driver-side materialization, so the rewrite is one distributed job at
    * any scale), then drop the tombstone table. Run when the tombstone
    * list grows past what every serving read should hold on the driver
    * and carry in its filter; until then deletion is O(takedown list). After compaction a previously
    * deleted key may be re-ingested (see the append contracts: while a key
    * is tombstoned, re-appending it is a no-op-or-hidden — compaction is
    * the reinstatement point).
    */
  def compactTombstones(spark: SparkSession, table: String, keyCol: String): Unit = {
    val tt = tombTableOf(table)
    // Crash recovery (r8): between the two RENAMEs below the serving name
    // is briefly absent — a crash in that window strands the index under
    // <table>_precompact, and a naive rerun would throw at getTableMetadata
    // instead of finishing the job. Roll the interrupted swap forward
    // first: if the serving name is gone but the backup exists, the
    // staging table (when present and complete) becomes the serving table,
    // else the backup is restored. Only then proceed (or return) normally.
    recoverSwap(spark, table, tt)
    if (!spark.catalog.tableExists(tt)) return
    val spec = bucketSpecOf(spark, table)
    val staging = table + "_compacting"
    spark.sql(s"DROP TABLE IF EXISTS `$staging`")
    val w = readServing(spark, table, keyCol)
      .write.mode("overwrite").format("parquet")
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
       w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
     else w).saveAsTable(staging)
    // Swap order: the serving table is offline only between the two
    // metadata renames (no data movement in that window — concurrent reads
    // in that instant DO fail; single-writer-brief-outage is the contract,
    // not online swap), the backup keeps the pre-compaction files
    // recoverable until the swap succeeded, and the tombstone record is
    // dropped LAST — a crash anywhere leaves either the old
    // (table, tombstones) pair, a `recoverSwap`-completable rename pair,
    // or the compacted table plus a redoable record; never a lost index.
    val backup = table + "_precompact"
    spark.sql(s"DROP TABLE IF EXISTS `$backup`")
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$backup`")
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
    spark.sql(s"DROP TABLE `$backup`")
    spark.sql(s"DROP TABLE `$tt`")
  }

  /** Complete a compaction swap interrupted by a crash (r8). The swap's
    * only unsafe window is between its two RENAMEs: the serving name is
    * absent and the index lives under `<table>_precompact`. Roll FORWARD
    * when the fully-written staging table is present (it always is in
    * that window — `saveAsTable` completed before the swap began), else
    * roll BACK to the backup. A backup left beside an intact serving
    * table means the crash hit AFTER the swap, before cleanup — drop the
    * backup only. The tombstone table is deliberately NOT dropped here:
    * tombstones appended after the crash must survive recovery, and
    * already-folded keys match no stored row — the compaction that
    * follows re-folds whatever remains. Idempotent; no-op when no rename
    * pair is stranded.
    */
  private def recoverSwap(spark: SparkSession, table: String, tt: String): Unit = {
    val backup = table + "_precompact"
    val staging = table + "_compacting"
    if (!spark.catalog.tableExists(backup)) return
    if (!spark.catalog.tableExists(table)) {
      if (spark.catalog.tableExists(staging)) {
        spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
        spark.sql(s"DROP TABLE `$backup`")
      } else {
        spark.sql(s"ALTER TABLE `$backup` RENAME TO `$table`")
      }
    } else {
      spark.sql(s"DROP TABLE `$backup`")
    }
  }

  /** Run `write` only if `table` is absent from the catalog, first clearing
    * an orphaned warehouse location. Returns the table name.
    */
  def ensureTable(spark: SparkSession, table: String)(write: => Unit): String = {
    if (!spark.catalog.tableExists(table)) {
      clearOrphan(spark, table)
      write
    }
    table
  }

  /** Delete `table`'s warehouse directory when the catalog does not know
    * the table: the in-memory catalog forgets tables between JVMs but
    * warehouse files persist, and a leftover directory would fail the CTAS.
    */
  private def clearOrphan(spark: SparkSession, table: String): Unit = {
    val loc = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    if (java.nio.file.Files.exists(loc)) {
      val walk = java.nio.file.Files.walk(loc)
      try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  // ---------------------------------------------------------------------
  // The persisted-index lifecycle: build, idempotent append, tombstone
  // (appendTombstones / readServing), compact (compactTombstones). Every
  // serving index (ANN vectors, lexical postings and positions, PQ codes,
  // MinHash bands, corpus state) is mutated only through these functions.
  // ---------------------------------------------------------------------

  /** Suffixes of the side tables an index may own next to its main table:
    * lexical df/stats, the PQ codebook/centroids/rotation, the corpus
    * state's benchmark blocklist.
    */
  private val Companions = Seq("_df", "_stats", "_cb", "_cents", "_perm", "_bench")

  private def bucketSpecOf(spark: SparkSession, table: String): BucketSpec =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.getOrElse(throw new IllegalStateException(s"$table is not bucketed"))

  /** Drop an index: its table, every companion table and its tombstones,
    * clearing orphaned warehouse directories under the same names and
    * releasing their held rows.
    */
  def dropIndex(spark: SparkSession, table: String): Unit =
    ((table +: Companions.map(table + _)) :+ tombTableOf(table)).foreach { t =>
      if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE IF EXISTS `$t`")
      clearOrphan(spark, t)
      held.remove(t)
    }

  /** The one overwrite contract: drop the whole index, then run `write`.
    * No half, companion or stale tombstone of a previous build survives a
    * rebuild — a gated write would keep serving the old corpus, a half-kept
    * companion would mix provenance (a new corpus encoded under an old
    * codebook, scored under old df), and inherited tombstones would hide
    * ids the new build serves.
    */
  def rebuildIndex(spark: SparkSession, table: String)(write: => Unit): Unit = {
    dropIndex(spark, table)
    write
  }

  /** Build once: `rebuildIndex(table)(write)` unless `table` and every
    * `table + companion` exist — a partial set rebuilds everything.
    * Returns the table name.
    */
  def ensureIndex(spark: SparkSession, table: String, companions: String*)
                 (write: => Unit): String = {
    if (!(table +: companions.map(table + _)).forall(spark.catalog.tableExists))
      rebuildIndex(spark, table)(write)
    table
  }

  /** Incremental ingest into a bucketed index: `rowsOf` shapes the fresh
    * rows of `batch` (one row per `key`) into the table's rows, which
    * insert under the table's own bucket spec. The batch's keys are its
    * bounded side (a batch, not a corpus): they collect to the driver, and
    * each check below tests a driver-held set. Protections, in order:
    *  - intra-batch dedup on `key`: the stored-id check below cannot see
    *    a key carried twice by one batch (an upstream union of two feeds),
    *    and duplicate index rows silently change probe results (doubled
    *    neighbor rows, shifted top-k tie-breaks). Only a batch whose
    *    collected keys repeat pays the `dropDuplicates`;
    *  - tombstone reinstatement: while a key is tombstoned its physical
    *    rows still exist, so the idempotence check would swallow the
    *    re-append while the tombstone keeps hiding the stored rows — an
    *    updated document lost with no signal. A batch whose keys meet the
    *    held takedown set compacts first, so the new rows insert and serve;
    *  - idempotence under redelivery: the stored keys in the batch's key
    *    set (an `InSet` filter, which prunes buckets when the key is the
    *    bucket column) collect as the present set, and the batch keeps
    *    only rows whose key is null or not present (`without`) — the
    *    anti-join's semantics, with no index shuffle or broadcast;
    *  - file control: V1 bucketed insert writes one file per (task,
    *    bucket), so the rows repartition by the table's bucket columns
    *    into its bucket count (the same pmod hash) — at most one new file
    *    per bucket per append;
    *  - column order: `insertInto` resolves by position, so the rows are
    *    selected in the table's own column order.
    * A table without a bucket spec is rejected.
    */
  def appendIndex(batch: DataFrame, table: String, key: String)
                 (rowsOf: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val spec = bucketSpecOf(spark, table)
    val k = col(key).cast(spark.table(table).schema(key).dataType)
    // a projection of a local frame collects with no job
    val batchKeys = batch.select(k).collect()
    val keySet = catalystKeys(batchKeys)
    val b = if (batchKeys.distinct.size < batchKeys.size) batch.dropDuplicates(key) else batch
    if (keySet.exists(takedowns(spark, table))) compactTombstones(spark, table, key)
    val stored = spark.table(table)
    val present = catalystKeys(stored.filter(inSet(col(key), keySet)).select(col(key)).collect())
    rowsOf(without(b, k, present))
      .select(stored.columns.map(col).toSeq: _*)
      .repartition(spec.numBuckets, spec.bucketColumnNames.map(col).toSeq: _*)
      .write.insertInto(table)
  }
}
