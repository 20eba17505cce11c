package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.llm.Pq
import graft.sources.BucketedSink

/** Persisted-PQ-pair maintenance (r9 — AnnIndexSink lifecycle parity for
  * the compressed tier): incremental encode against the STORED codebook
  * (the pair-cannot-drift invariant — retraining would orphan every stored
  * code, so the codebook is pinned at ingest and the append path must
  * reproduce exactly what a full encode under that codebook would store),
  * idempotence under redelivery, tombstone delete ≡ serve-without with no
  * extra shuffle exchange on the probe plan, compaction folding, and
  * re-append-after-delete reinstatement via the compaction trigger.
  */
class PqLifecycleSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  private def vecs: DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  private def numShuffles(df: DataFrame): Int = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e }.length
  }

  test("half-build + append serves exactly a full encode under the stored codebook") {
    val tbl = "pq_pair_lc_append"
    drop(tbl, tbl + "_cb", BucketedSink.tombTableOf(tbl))
    val v = vecs
    Pq.writePqIndexOf(v.filter(col("vec_id") % 2 === 0), tbl)
    Pq.appendPqCodes(v.filter(col("vec_id") % 2 =!= 0), tbl)
    val probed = rows(Pq.servePqFrom(v, tbl))
    // the recompute twin: every vector encoded from scratch against the
    // SAME stored codebook — byte-identical serving is the drift-free proof
    val recomputed = rows(Pq.servePqRecomputed(v, v, tbl))
    assert(probed === recomputed && probed.nonEmpty,
      "appended codes diverged from a full encode under the stored codebook")
    // redelivered batch: nothing appends
    val n = spark.table(tbl).count()
    Pq.appendPqCodes(v.filter(col("vec_id") % 2 =!= 0), tbl)
    assert(spark.table(tbl).count() === n, "redelivered batch planted rows")
    // intra-batch duplicate ids: still nothing (all already present)
    Pq.appendPqCodes(v.limit(5).union(v.limit(5)), tbl)
    assert(spark.table(tbl).count() === n, "intra-batch duplicate planted rows")
    // the append landed in the bucket layout: bounded file count per append
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    assert(meta.bucketSpec.nonEmpty, "codes table lost its bucket spec")
    drop(tbl, tbl + "_cb")
    Checkpoints.releaseAll()
  }

  test("delete == serve-without, no extra shuffles, compact folds, re-append reinstates") {
    val tbl = "pq_pair_lc_del"
    drop(tbl, tbl + "_cb", BucketedSink.tombTableOf(tbl))
    val v = vecs
    Pq.writePqIndexOf(v, tbl)
    val pre = Pq.servePqFrom(v, tbl)
    val preRows = rows(pre)
    val preShuffles = numShuffles(Pq.servePqFrom(v, tbl))
    // take down vectors that are ACTUALLY served as neighbors, so the
    // delete provably changes probe output (the IndexTombstoneSpec
    // non-vacuity rule)
    import spark.implicits._
    val hit = Pq.servePqFrom(v, tbl).select(col("nb_id")).distinct()
      .orderBy(col("nb_id")).limit(3).collect().map(_.getLong(0)).toSeq
    assert(hit.size === 3)
    Pq.deletePqCodes(spark, tbl, hit.toDF("vec_id"))
    val after = rows(Pq.servePqFrom(v, tbl))
    val without = rows(Pq.servePqRecomputed(
      v, v.filter(!col("vec_id").isin(hit: _*)), tbl))
    assert(after === without, "tombstoned probe diverged from serve-without")
    assert(after !== preRows, "sanity: deletions must change probe output")
    // deletion must cost a broadcast, never a reshuffle: shuffle-exchange
    // count in the executed probe plan is unchanged
    assert(numShuffles(Pq.servePqFrom(v, tbl)) === preShuffles,
      "tombstone anti-join added a shuffle exchange to the probe plan")
    // redelivered takedown: no tombstone growth
    val tombCount = spark.table(BucketedSink.tombTableOf(tbl)).count()
    Pq.deletePqCodes(spark, tbl, hit.toDF("vec_id"))
    assert(spark.table(BucketedSink.tombTableOf(tbl)).count() === tombCount)
    // compaction: physical rows drop by M per deleted vector, tombstones
    // gone, probe unchanged
    val physBefore = spark.table(tbl).count()
    Pq.compactPq(spark, tbl)
    assert(!spark.catalog.tableExists(BucketedSink.tombTableOf(tbl)))
    assert(spark.table(tbl).count() === physBefore - hit.size * Pq.NumSubspaces)
    assert(rows(Pq.servePqFrom(v, tbl)) === after, "compaction changed the probe")
    // re-ingest one deleted vector: must serve again (not stay hidden)
    Pq.appendPqCodes(v.filter(col("vec_id") === hit.head), tbl)
    val back = rows(Pq.servePqRecomputed(
      v, v.filter(!col("vec_id").isin(hit.tail: _*)), tbl))
    assert(rows(Pq.servePqFrom(v, tbl)) === back,
      "re-appended vector does not serve like a rebuild containing it")
    drop(tbl, tbl + "_cb")
    Checkpoints.releaseAll()
  }

  test("rebuild over an existing pair replaces it and clears stale tombstones") {
    val tbl = "pq_pair_lc_rebuild"
    drop(tbl, tbl + "_cb", BucketedSink.tombTableOf(tbl))
    val v = vecs
    Pq.writePqIndexOf(v.filter(col("vec_id") < 100), tbl)
    val before = spark.table(tbl).count()
    import spark.implicits._
    Pq.deletePqCodes(spark, tbl, Seq(1L).toDF("vec_id"))
    // overwrite with the full corpus: a gated write would silently keep
    // serving the old pair; a half-gated one would encode the new corpus
    // under the old codebook (mixed provenance); and a rebuilt pair must
    // not inherit the previous pair's deletions
    Pq.writePqIndexOf(v, tbl)
    assert(spark.table(tbl).count() > before, "rebuild did not replace the old pair")
    assert(!spark.catalog.tableExists(BucketedSink.tombTableOf(tbl)),
      "rebuild kept stale tombstones — the fresh pair would hide vectors")
    assert(rows(Pq.servePqFrom(v, tbl)) === rows(Pq.servePqRecomputed(v, v, tbl)),
      "rebuilt pair does not serve like a fresh full build")
    drop(tbl, tbl + "_cb")
    Checkpoints.releaseAll()
  }

  /** The PQ radius stream over `tbl` with `queries` arriving: the rows
    * every micro-batch delivered. */
  private def streamed(tbl: String, queries: DataFrame): Seq[String] =
    drainSink(graft.streaming.StreamOps.pqProbeStream(spark, tbl,
      arrivingStream(queries), "arrived"))._1

  test("streaming radius probe of the persisted pair matches the batch probe row-for-row") {
    val tbl = "pq_pair_lc_stream"
    drop(tbl, tbl + "_cb", BucketedSink.tombTableOf(tbl))
    val v = vecs
    Pq.writePqIndexOf(v, tbl)
    // the ANN query set arrives as the stream
    val got = streamed(tbl, v.filter(col("vec_id") < 10))
    // the batch probe over the SAME pair and queries: the one radius probe
    // the catalog's pq_radius_ivf serves
    val want = rows(Pq.pqRadiusForQueries(spark, tbl, v.filter(col("vec_id") < 10)))
    assert(got.size === got.toSet.size, "a pair was emitted twice")
    assert(got.toSet === want && got.nonEmpty,
      s"streaming radius probe diverged from the batch probe (${got.size} vs ${want.size})")
    // pruning may only REMOVE pairs relative to the full-ADC radius scan,
    // never invent or re-score one — every emitted row must exist verbatim
    // in the unpruned baseline
    val full = rows(Pq.servePqRadiusFrom(v, tbl))
    assert(want.subsetOf(full), "cell-pruned radius emitted a pair the full scan lacks")
    drop(tbl, tbl + "_cb")
    Checkpoints.releaseAll()
  }

  test("streaming radius probe serves arrivals with any id, not only the first queries") {
    val tbl = "pq_pair_lc_stream_ids"
    drop(tbl, tbl + "_cb", BucketedSink.tombTableOf(tbl))
    val v = vecs
    Pq.writePqIndexOf(v, tbl)
    val arrivals = v.filter(col("vec_id") >= 10 && col("vec_id") < 30)
    val got = streamed(tbl, arrivals)
    val want = rows(Pq.pqRadiusForQueries(spark, tbl, arrivals))
    assert(got.toSet === want && got.nonEmpty,
      s"arrivals with ids >= 10 diverged from the batch probe (${got.size} vs ${want.size})")
    drop(tbl, tbl + "_cb")
    Checkpoints.releaseAll()
  }

  test("streaming radius probe never emits a taken-down neighbour") {
    val tbl = "pq_pair_lc_stream_tomb"
    drop(tbl, tbl + "_cb", BucketedSink.tombTableOf(tbl))
    val v = vecs
    Pq.writePqIndexOf(v, tbl)
    val q = v.filter(col("vec_id") < 10)
    def batch: Set[String] = rows(Pq.pqRadiusForQueries(spark, tbl, q))
    // take down a neighbour the batch probe returns (not a query vector)
    val deleted = batch.map(_.split('|')(1).toLong).filter(_ >= 10).min
    import spark.implicits._
    Pq.deletePqCodes(spark, tbl, Seq(deleted).toDF("vec_id"))
    val got = streamed(tbl, q)
    val want = batch
    assert(!got.exists(_.split('|')(1).toLong == deleted),
      s"the stream served taken-down vector $deleted")
    assert(got.toSet === want && got.nonEmpty,
      s"streaming radius probe diverged from the batch probe after a takedown")
    BucketedSink.dropIndex(spark, tbl)
    Checkpoints.releaseAll()
  }

  test("OPQ pair: stored rotation serves the recompute; appends land under it") {
    val tbl = "pq_pair_lc_opq"
    drop(tbl, tbl + "_cb", tbl + "_cents", tbl + "_perm",
      BucketedSink.tombTableOf(tbl))
    val v = vecs
    // full build: the probe must return exactly the D81c recompute (the
    // pq_opq_index_probe oracle contract — stored perm/codebook/codes are
    // the recompute's expressions verbatim)
    Pq.writePqOpqIndexOf(v, tbl)
    val pv = Checkpoints.cp(Pq.applyStoredPerm(v, spark.table(tbl + "_perm")))
    val probed = rows(Pq.servePqFrom(pv, tbl))
    assert(probed === rows(Pq.annPqOpqOf(v)) && probed.nonEmpty,
      "stored-rotation probe diverged from the per-query recompute (D81c)")
    // append parity under the STORED rotation: rebuild from half the
    // corpus (the rotation now derives from the half — that IS the pinned
    // artifact), append the rest, and demand byte-identical serving vs a
    // full encode of the permuted corpus under the stored codebook
    drop(tbl, tbl + "_cb", tbl + "_cents", tbl + "_perm",
      BucketedSink.tombTableOf(tbl))
    Pq.writePqOpqIndexOf(v.filter(col("vec_id") % 2 === 0), tbl)
    Pq.appendPqCodes(v.filter(col("vec_id") % 2 =!= 0), tbl)
    val pvHalf = Checkpoints.cp(Pq.applyStoredPerm(v, spark.table(tbl + "_perm")))
    assert(rows(Pq.servePqFrom(pvHalf, tbl)) ===
        rows(Pq.servePqRecomputed(pvHalf, pvHalf, tbl)),
      "appended codes diverged from a full encode under the stored rotation")
    drop(tbl, tbl + "_cb", tbl + "_cents", tbl + "_perm")
    Checkpoints.releaseAll()
  }

  test("re-appending a TOMBSTONED id triggers compaction and serves the new row") {
    val tbl = "pq_pair_lc_reinstate"
    drop(tbl, tbl + "_cb", BucketedSink.tombTableOf(tbl))
    val v = vecs
    Pq.writePqIndexOf(v, tbl)
    import spark.implicits._
    val hit = Pq.servePqFrom(v, tbl).select(col("nb_id")).distinct()
      .orderBy(col("nb_id")).limit(1).collect().map(_.getLong(0)).toSeq
    Pq.deletePqCodes(spark, tbl, hit.toDF("vec_id"))
    // re-append WHILE tombstoned: without the compaction trigger the
    // idempotence check would swallow the batch and the tombstone would
    // keep hiding the stored row — the updated vector silently lost
    Pq.appendPqCodes(v.filter(col("vec_id") === hit.head), tbl)
    assert(!spark.catalog.tableExists(BucketedSink.tombTableOf(tbl)),
      "reinstating append did not compact the tombstones away")
    assert(rows(Pq.servePqFrom(v, tbl)) === rows(Pq.servePqRecomputed(v, v, tbl)),
      "reinstated pair does not serve like the full corpus")
    drop(tbl, tbl + "_cb")
    Checkpoints.releaseAll()
  }
}
