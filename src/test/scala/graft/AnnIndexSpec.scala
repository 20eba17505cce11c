package graft

import org.apache.spark.sql.functions._
import graft.llm.{Ann, Lexical}
import graft.sources.{AnnIndexSink, BucketedSink}

/** The persisted ANN serving index: probes of the stored bucket-keyed table
  * must match the recompute operators (ann_lsh / ann_lsh_multiprobe)
  * row-for-row, and the candidate join must consume the bucketed layout —
  * no Exchange on the bucket key anywhere in the probe plan, while the
  * recompute shape genuinely pays one (the non-vacuity twin).
  */
class AnnIndexSpec extends SparkSpecBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("")).toSet

  test("stored-index probe == ann_lsh, multiprobe == ann_lsh_multiprobe") {
    assert(rows(Ann.annIndexProbe(spark, sfDir)) == rows(Ann.annLsh(spark, sfDir)))
    assert(rows(Ann.annIndexMultiprobe(spark, sfDir)) ==
      rows(Ann.annLshMultiprobe(spark, sfDir)))
    Checkpoints.releaseAll()
  }

  test("probe join consumes the bucket layout: no Exchange on bucket") {
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val probeExec = Ann.annIndexProbe(spark, sfDir).queryExecution.executedPlan
      val probeShuffles = probeExec.collect { case e: ShuffleExchangeExec => e }
      // the only shuffle the probe may pay is the per-query ranking window
      // (hash(q_id)); the candidate join itself is exchange-free because
      // BOTH sides scan the bucket-partitioned table
      assert(probeShuffles.size == 1,
        s"probe paid ${probeShuffles.size} shuffles:\n" + probeExec.toString.take(1500))
      assert(!probeShuffles.head.outputPartitioning.toString.contains("bucket"),
        "probe re-shuffled on the bucket key:\n" + probeShuffles.head.toString.take(800))

      // non-vacuity: the recompute shape of the SAME candidate join (bucket
      // derived per run instead of read from the layout) must pay bucket
      // exchanges — bucketing is what removed them, not plan luck
      val v = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("bucket", Ann.lshBucket(col("embedding")))
      val q = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("bucket"))
      val c = v.select(col("vec_id").as("nb_id"), col("bucket"))
      val recompute = q.join(c, Seq("bucket")).filter(col("q_id") =!= col("nb_id"))
        .queryExecution.executedPlan
      val recomputeBucketShuffles = recompute
        .collect { case e: ShuffleExchangeExec => e }
        .filter(_.outputPartitioning.toString.contains("bucket"))
      assert(recomputeBucketShuffles.nonEmpty,
        "recompute twin unexpectedly exchange-free (test is vacuous):\n" +
          recompute.toString.take(1200))

      // multiprobe: the exploded QUERY side must shuffle, the index side
      // must not — assert by walking the join's two children
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      val mpExec = Ann.annIndexMultiprobe(spark, sfDir).queryExecution.executedPlan
      val smj = mpExec.collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, "multiprobe should SMJ with broadcast off:\n" +
        mpExec.toString.take(1200))
      def isExploded(p: SparkPlan): Boolean =
        p.toString.contains("Generate explode")
      val Seq(explodedSide, indexSide) =
        Seq(smj.get.left, smj.get.right).sortBy(s => if (isExploded(s)) 0 else 1)
      assert(isExploded(explodedSide), "no exploded probe side found:\n" +
        mpExec.toString.take(1200))
      assert(indexSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "index side of the multiprobe join re-shuffled:\n" +
          indexSide.toString.take(1200))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
    Checkpoints.releaseAll()
  }

  test("incremental append probes identically to a full build") {
    val tbl = "ann_emb_idx_append_case"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val v = Tables.embeddings(spark, sfDir)
    AnnIndexSink.writeEmbeddingIndexOf(
      v.filter(col("vec_id") % 2 === 0), tbl, buckets = 8)
    AnnIndexSink.appendEmbeddings(v.filter(col("vec_id") % 2 === 1), tbl)
    // result parity is ALSO the layout proof: the probe join trusts the
    // bucket files, so a mis-bucketed append would silently drop
    // candidates, not merely slow down
    assert(rows(Ann.probeIndexTable(spark, tbl)) == rows(Ann.annLsh(spark, sfDir)))
    // and the appended table still serves exchange-free on the index side
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val bucketShuffles = Ann.probeIndexTable(spark, tbl)
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
        .filter(_.outputPartitioning.toString.contains("bucket"))
      assert(bucketShuffles.isEmpty,
        "append broke the bucket layout:\n" + bucketShuffles.mkString("\n").take(800))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    Checkpoints.releaseAll()
  }

  test("append is idempotent under redelivery and writes one file per bucket") {
    val tbl = "ann_emb_idx_redeliver_case"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val v = Tables.embeddings(spark, sfDir)
    AnnIndexSink.writeEmbeddingIndexOf(
      v.filter(col("vec_id") % 2 === 0), tbl, buckets = 8)
    val batch = v.filter(col("vec_id") % 2 === 1)
    def parquetFiles(): Int = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/$tbl")
      .listFiles().count(_.getName.endsWith(".parquet"))
    // capture BEFORE the append so the bound is on the append's DELTA —
    // deriving it from the post-append total would hold vacuously
    val filesBuild = parquetFiles()
    AnnIndexSink.appendEmbeddings(batch, tbl)
    val afterFirst = spark.table(tbl).count()
    val probeFirst = rows(Ann.probeIndexTable(spark, tbl))
    // the day's append lands as at most one new file per bucket (batch
    // repartitioned by the bucket hash), not tasks x buckets
    assert(parquetFiles() - filesBuild <= 8,
      s"append wrote ${parquetFiles() - filesBuild} files (> one per bucket)")
    // redelivered batch: a retry must be a no-op — same row count, same
    // probe results, no duplicate vec_ids shifting top-k tie-breaks
    AnnIndexSink.appendEmbeddings(batch, tbl)
    assert(spark.table(tbl).count() === afterFirst, "redelivery duplicated rows")
    assert(spark.table(tbl).groupBy(col("vec_id")).count()
      .filter(col("count") > 1).count() === 0L, "duplicate vec_ids in index")
    assert(rows(Ann.probeIndexTable(spark, tbl)) == probeFirst)
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    Checkpoints.releaseAll()
  }

  test("append dedupes duplicate vec_ids within one batch") {
    val tbl = "ann_emb_idx_intradup_case"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val v = Tables.embeddings(spark, sfDir)
    AnnIndexSink.writeEmbeddingIndexOf(
      v.filter(col("vec_id") % 2 === 0), tbl, buckets = 8)
    val batch = v.filter(col("vec_id") % 2 === 1)
    // an upstream union of two feeds delivers the same vec_id twice in ONE
    // call — the cross-call redelivery check can't see it, so the append
    // itself must dedup the batch before inserting
    AnnIndexSink.appendEmbeddings(batch.union(batch), tbl)
    assert(spark.table(tbl).groupBy(col("vec_id")).count()
      .filter(col("count") > 1).count() === 0L,
      "intra-batch duplicate vec_ids reached the index")
    assert(rows(Ann.probeIndexTable(spark, tbl)) == rows(Ann.annLsh(spark, sfDir)))
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    Checkpoints.releaseAll()
  }

  test("re-appending a deleted vec_id serves the NEW embedding") {
    val tbl = "ann_emb_idx_reinstate_case"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    spark.sql(s"DROP TABLE IF EXISTS `${graft.sources.BucketedSink.tombTableOf(tbl)}`")
    val v = Tables.embeddings(spark, sfDir)
    AnnIndexSink.writeEmbeddingIndexOf(v, tbl, buckets = 8)
    import spark.implicits._
    AnnIndexSink.deleteEmbeddings(spark, tbl, Seq(7L).toDF("vec_id"))
    // the corpus re-ingests id 7 with an UPDATED vector: without the r8
    // reinstatement, the tombstone hides the stored row while the
    // physical-row idempotence check hides the append — silent data loss
    val updated = v.filter(col("vec_id") === 7L)
      .select(col("vec_id"),
        transform(col("embedding"), x => x * lit(-1.0f)).as("embedding"))
    val expectedVec = updated.select(col("embedding")).head().getSeq[Float](0)
    AnnIndexSink.appendEmbeddings(updated, tbl)
    val served = graft.sources.BucketedSink.readServing(spark, tbl, "vec_id")
      .filter(col("vec_id") === 7L)
    assert(served.count() === 1L, "re-appended id must serve exactly once")
    assert(served.select(col("embedding")).head().getSeq[Float](0) == expectedVec,
      "re-append served the stale pre-delete vector")
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    Checkpoints.releaseAll()
  }

  test("index table is content-fingerprinted per dataset") {
    val t1 = AnnIndexSink.ensureEmbeddingIndex(spark, sfDir)
    val t2 = AnnIndexSink.ensureEmbeddingIndex(spark, "/root/testdata/sf0.01")
    assert(t1 != t2, "two datasets shared one index table")
    assert(spark.catalog.tableExists(t1) && spark.catalog.tableExists(t2))
  }

  test("a serving read's analysed plan stays a few hundred expression nodes") {
    // the query side's bucket id is computed per read; as a literal sign
    // chain it was ~3,000 nodes that analysis re-walked on every read
    import spark.implicits._
    val tbl = AnnIndexSink.ensureEmbeddingIndex(spark, sfDir)
    val q = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .orderBy("vec_id").limit(10).as[(Long, Seq[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
    val plan = Ann.annTopkForQueries(spark, tbl, q).queryExecution.analyzed
    val nodes = plan.flatMap(_.expressions).map(_.collect { case e => e }.size).sum
    assert(nodes < 300, s"annTopkForQueries analyses $nodes expression nodes")
  }

  test("index bucket count is the session's shuffle partitions; an explicit count wins") {
    def buckets(t: String): Int = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .bucketSpec.get.numBuckets
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val dir = tempCopyOf(sfDir)
    try {
      val ann = AnnIndexSink.ensureEmbeddingIndex(spark, dir)
      val lex = Lexical.ensureLexIndex(spark, dir)
      assert(buckets(ann) == parts && buckets(lex) == parts)
      Seq(ann, lex).foreach(BucketedSink.dropIndex(spark, _))
    } finally deleteTree(dir)
    val tbl = "ann_emb_idx_explicit_case"
    AnnIndexSink.writeEmbeddingIndexOf(Tables.embeddings(spark, sfDir), tbl, buckets = 8)
    assert(parts != 8 && buckets(tbl) == 8)
    BucketedSink.dropIndex(spark, tbl)
  }

  test("ann_knn_graph: valid degree/ranks, refinement monotonically lifts exact recall") {
    // exact top-K graph by driver-side brute force (500 vectors at sf0.001)
    val k = Ann.GraphK
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val exact = vecs.map { case (q, qv) =>
      q -> vecs.toSeq.filter(_._1 != q)
        .map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }.take(k).map(_._1).toSet
    }
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("nb_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = exact.toSeq.map { case (q, ex) =>
        ex.intersect(got.getOrElse(q, Set.empty)).size.toDouble / ex.size
      }
      hits.sum / hits.size
    }
    val g0 = Ann.knnGraphAt(spark, sfDir, 0)
    val r0 = recall(g0.withColumnRenamed("vec_id", "q_id"))
    Checkpoints.releaseAll()
    val g2full = Ann.annKnnGraph(spark, sfDir)
    // structural contract: no self edges, <= K neighbors, contiguous ranks
    val byQ = g2full.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Long]("nb_id"), r.getAs[Int]("rank")))
    assert(byQ.forall { case (q, n, _) => q != n })
    byQ.groupBy(_._1).foreach { case (q, rowsQ) =>
      assert(rowsQ.length <= k && rowsQ.map(_._3).sorted.toSeq == (1 to rowsQ.length),
        s"vec $q rank structure")
    }
    val r2 = recall(g2full.withColumnRenamed("vec_id", "q_id"))
    Checkpoints.releaseAll()
    assert(r2 >= r0, s"refinement degraded recall: $r0 -> $r2")
    assert(r2 > 0.8, s"graph recall too low: $r2 (seed $r0)")
    // and the refinement must genuinely add edges IVF probing cannot see
    assert(r2 > r0 + 0.01, s"expansion added nothing: $r0 -> $r2")
  }
}
