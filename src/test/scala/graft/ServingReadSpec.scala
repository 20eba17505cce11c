package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBridges
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{Ann, Lexical}
import graft.sources.{AnnIndexSink, BucketedSink}

/** The serving reads (`Ann.annTopkForQueries`, `Lexical.lexTopkForQueries`)
  * hold their small sides on the driver: the takedown list, the lexical
  * `_df`/`_stats` and the query batch. These specs pin that the held
  * values follow every write to the index, that the driver-side rare-first
  * cut is the Spark one, and the job budgets of a read, a redelivered
  * takedown and an append.
  */
class ServingReadSpec extends SparkSpecBase {
  import spark.implicits._

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  /** Request batches as a client sends them: local frames. */
  private def vecsOf(v: DataFrame, ids: Seq[Long]): DataFrame =
    v.filter(col("vec_id").isin(ids: _*)).as[(Long, Seq[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
  private def docsOf(d: DataFrame, ids: Seq[Long]): DataFrame =
    d.filter(col("doc_id").isin(ids: _*)).as[(Long, String)].collect().toSeq
      .toDF("doc_id", "text")

  private def neighbors(df: DataFrame): Set[Long] =
    df.select(col("nb_id")).collect().map(_.getLong(0)).toSet

  /** The Spark jobs `op` starts. */
  private def jobsOf(op: => Unit): Int = {
    val sc = spark.sparkContext
    GraftTestBridges.waitUntilListenerBusEmpty(sc)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { op; GraftTestBridges.waitUntilListenerBusEmpty(sc) }
    finally sc.removeSparkListener(l)
    jobs.get
  }

  test("held small sides follow every write: takedown, compaction, rebuild, append") {
    val ann = "ann_idx_held"; val lex = "lex_idx_held"; val fresh = "ann_idx_held_fresh"
    Seq(ann, lex, fresh).foreach(BucketedSink.dropIndex(spark, _))
    var v = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    var d = Tables.documents(spark, sfDir).select("doc_id", "text")
    AnnIndexSink.writeEmbeddingIndexOf(v, ann, buckets = 4)
    Lexical.writeLexIndexOf(d, lex)
    var live = (0L until 10L).toSet
    def annRead = Ann.annTopkForQueries(spark, ann, vecsOf(v, live.toSeq))
    def lexRead = Lexical.lexTopkForQueries(spark, lex, docsOf(d, live.toSeq))
    // the serving reads answer like the batch probes over the same index
    def parity(step: String): Unit = {
      assert(rows(annRead) == rows(Ann.probeIndexTable(spark, ann)), s"ann, $step")
      assert(rows(lexRead) == rows(Lexical.lexProbeFromStore(spark, lex)), s"lex, $step")
    }
    // the smallest non-query neighbor each read serves
    def servedIds = Seq(neighbors(annRead), neighbors(lexRead)).map(_.filter(_ >= 10).min)
    def takeDown(ids: Seq[Long], step: String): Unit = {
      AnnIndexSink.deleteEmbeddings(spark, ann, ids.toDF("vec_id"))
      Lexical.deleteLexDocs(spark, lex, ids.toDF("doc_id"))
      live --= ids
      assert(neighbors(annRead).intersect(ids.toSet).isEmpty, s"ann served $ids, $step")
      assert(neighbors(lexRead).intersect(ids.toSet).isEmpty, s"lex served $ids, $step")
      parity(step)
    }
    parity("first read")
    // served neighbors, then a query id, each read after its takedown
    takeDown(servedIds, "first takedown")
    takeDown(Seq(4L), "second takedown")
    val before = (rows(annRead), rows(lexRead))
    AnnIndexSink.compact(spark, ann)
    Lexical.compactLex(spark, lex)
    assert((rows(annRead), rows(lexRead)) == before, "compaction changed the reads")
    // a takedown after compaction starts a new tombstone table
    takeDown(servedIds, "takedown after compaction")
    // rebuild both names over another corpus: fresh df/stats, no
    // inherited tombstones
    v = v.filter(col("vec_id") % 3 =!= 1)
    d = d.filter(col("doc_id") % 3 =!= 1)
    AnnIndexSink.writeEmbeddingIndexOf(v, ann, buckets = 4)
    Lexical.writeLexIndexOf(d, lex)
    AnnIndexSink.writeEmbeddingIndexOf(v, fresh, buckets = 4)
    live = (0L until 10L).filter(_ % 3 != 1).toSet
    assert(rows(annRead) == rows(Ann.probeIndexTable(spark, fresh)), "ann after rebuild")
    assert(rows(lexRead) == rows(Lexical.lexProbeRecomputed(d, lex)), "lex after rebuild")
    parity("rebuild")
    // an arrival copying query 3's first neighbor ties with it, so both
    // reads must serve it to query 3
    def first(read: DataFrame): Long = read.filter(col("q_id") === 3L && col("rank") === 1)
      .select(col("nb_id")).head().getLong(0)
    val arrival = 100000L
    val arrivedVec = v.filter(col("vec_id") === first(annRead)).withColumn("vec_id", lit(arrival))
    val arrivedDoc = d.filter(col("doc_id") === first(lexRead)).withColumn("doc_id", lit(arrival))
    AnnIndexSink.appendEmbeddings(arrivedVec, ann)
    Lexical.appendLexDocs(arrivedDoc, lex)
    assert(neighbors(annRead.filter(col("q_id") === 3L)).contains(arrival), "ann arrival")
    assert(neighbors(lexRead.filter(col("q_id") === 3L)).contains(arrival), "lex arrival")
    assert(rows(lexRead) == rows(Lexical.lexProbeRecomputed(d.unionByName(arrivedDoc), lex)),
      "lex after append")
    parity("append")
    Seq(ann, lex, fresh).foreach(BucketedSink.dropIndex(spark, _))
    Checkpoints.releaseAll()
  }

  test("property: the driver-side rare-first cut equals querySelOf's Spark topK") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // "Ａ" (U+FF21) sorts after "𠀀" (U+20000) in UTF-16 but before it in
    // UTF-8, the order Spark compares strings in
    val vocab = Seq("a", "b", "ab", "ba", "z", "é", "e", "ß", "中", "Ａ", "𠀀",
      "�", "zz", "ａ")
    val sample = for {
      dfTerms <- Gen.someOf(vocab)
      dfs <- Gen.listOfN(dfTerms.size, Gen.chooseNum(1L, 3L))
      n <- Gen.chooseNum(0, 40)
      qterms <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 2L), Gen.oneOf(vocab :+ "oov")))
    } yield (dfTerms.toSeq.zip(dfs), qterms)
    val samples = Gen.listOfN(25, sample).apply(Gen.Parameters.default, Seed(20261019L)).get
    assert(samples.exists(_._2.map(_._1).groupBy(identity).values.exists(_.size > Lexical.QueryTerms)),
      "no sample makes the cut bite")
    samples.foreach { case (dfreq, qterms) =>
      val want = Lexical.querySelOf(qterms.toDF("q_id", "term"), dfreq.toDF("term", "df"))
        .as[(Long, String, Long)].collect().toSeq.map(_.toString).sorted
      val got = Lexical.rareFirst(qterms, dfreq.toMap).map(_.toString).sorted
      assert(got == want, s"df $dfreq, query terms $qterms")
    }
  }

  test("a warm hybrid read over a tombstoned index runs at most 2 + 3 Spark jobs") {
    val ann = "ann_idx_jobs"; val lex = "lex_idx_jobs"
    Seq(ann, lex).foreach(BucketedSink.dropIndex(spark, _))
    val v = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    AnnIndexSink.writeEmbeddingIndexOf(v, ann, buckets = 4)
    Lexical.writeLexIndexOf(d, lex)
    AnnIndexSink.deleteEmbeddings(spark, ann, Seq(20L, 21L).toDF("vec_id"))
    Lexical.deleteLexDocs(spark, lex, Seq(20L, 21L).toDF("doc_id"))
    val qv = vecsOf(v, 0L until 10L); val qd = docsOf(d, 0L until 10L)
    def annRead(): Unit = Ann.annTopkForQueries(spark, ann, qv).collect()
    def lexRead(): Unit = Lexical.lexTopkForQueries(spark, lex, qd).collect()
    // the priming read collects the held tombstones, df and stats
    annRead(); lexRead()
    val annJobs = jobsOf(annRead())
    val lexJobs = jobsOf(lexRead())
    info(s"warm read: ANN $annJobs jobs, lexical $lexJobs jobs")
    assert(annJobs <= 2, s"warm ANN read ran $annJobs jobs")
    assert(lexJobs <= 3, s"warm lexical read ran $lexJobs jobs")
    Seq(ann, lex).foreach(BucketedSink.dropIndex(spark, _))
    Checkpoints.releaseAll()
  }

  test("write path: a redelivered takedown runs no Spark job, a one-id append at most 3 + 4") {
    val ann = "ann_idx_write_jobs"; val lex = "lex_idx_write_jobs"
    Seq(ann, lex).foreach(BucketedSink.dropIndex(spark, _))
    val v = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    AnnIndexSink.writeEmbeddingIndexOf(v, ann, buckets = 4)
    Lexical.writeLexIndexOf(d, lex)
    def takeDown(ids: Seq[Long]): Unit = {
      AnnIndexSink.deleteEmbeddings(spark, ann, ids.toDF("vec_id"))
      Lexical.deleteLexDocs(spark, lex, ids.toDF("doc_id"))
    }
    // the priming write, then a read of each index, which holds the
    // tombstones on the driver
    takeDown(Seq(20L, 21L))
    Ann.annTopkForQueries(spark, ann, vecsOf(v, 0L until 10L)).collect()
    Lexical.lexTopkForQueries(spark, lex, docsOf(d, 0L until 10L)).collect()
    val redelivered = jobsOf(takeDown(Seq(20L, 21L)))
    // a one-id arrival, as a client sends it: local frames
    val arrival = 100000L
    val arrivedVec = vecsOf(v, Seq(30L)).withColumn("vec_id", lit(arrival))
    val arrivedDoc = docsOf(d, Seq(30L)).withColumn("doc_id", lit(arrival))
    val annAppend = jobsOf(AnnIndexSink.appendEmbeddings(arrivedVec, ann))
    val lexAppend = jobsOf(Lexical.appendLexDocs(arrivedDoc, lex))
    info(s"redelivered takedown: $redelivered jobs; one-id append: ANN $annAppend jobs, " +
      s"lexical $lexAppend jobs")
    assert(redelivered == 0, s"a redelivered takedown ran $redelivered jobs")
    // the present-key scan, then the insert's shuffle stages and write
    assert(annAppend <= 3, s"a one-id ANN append ran $annAppend jobs")
    assert(lexAppend <= 4, s"a one-id lexical append ran $lexAppend jobs")
    assert(spark.table(ann).filter(col("vec_id") === arrival).count() == 1)
    assert(spark.table(lex).filter(col("doc_id") === arrival).count() > 0)
    Seq(ann, lex).foreach(BucketedSink.dropIndex(spark, _))
    Checkpoints.releaseAll()
  }
}
