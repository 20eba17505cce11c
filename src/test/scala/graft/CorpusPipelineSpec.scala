package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.llm.{Corpus, Dedup}
import graft.sources.IndexSink

/** The r8 D-family flagship (corpus_pipeline) and its persisted-index twin:
  * the full clean → mixture → BPE-pack assembly must be non-vacuous at spec
  * scale (every stage provably filters or transforms something), the twin
  * must be row-identical (its stored band rows are the recompute's
  * expressions verbatim), and the twin's pair stage must actually consume
  * the bucketed band_key layout — zero join-key exchanges where the
  * recompute form pays them.
  */
class CorpusPipelineSpec extends SparkSpecBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  test("pipeline is non-vacuous: every stage moves something at spec scale") {
    val out = Corpus.corpusPipeline(spark, sfDir)
    val n = out.count()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(n > 0, "flagship produced no rows")
    assert(n < nDocs, "cleaning+mixture dropped nothing — composition vacuous")
    // packing genuinely assigned multi-doc sequences: some seq_id holds
    // more than one doc (the concat-then-chunk layout is active)
    assert(out.groupBy(col("shard"), col("seq_id")).count()
      .filter(col("count") > 1).count() > 0, "packing never packed")
    // the manifest's quality floor holds
    assert(out.filter(col("quality_score") < Corpus.QualityFloor).count() === 0L)
    Checkpoints.releaseAll()
  }

  test("quality_score rounds like the DuckDB oracle at half-way ties") {
    import spark.implicits._
    // each input is a 5-decimal tie whose scaled double falls just below
    // the half (0.61235·10^4 = 6123.4999…): DuckDB's round(q, 4) keeps
    // the lower value, Spark's round(q, 4) would take the upper one; the
    // last three are ties the scaled double holds exactly and round up
    // (0.78375 is dedup_minhash_verified's jaccard 627/800)
    val cases = Seq(0.61235 -> 0.6123, 0.00145 -> 0.0014, 0.01045 -> 0.0104,
      0.02005 -> 0.02, 0.78375 -> 0.7837,
      0.12345 -> 0.1235, 0.99995 -> 1.0, 0.00005 -> 0.0001)
    val got = cases.map(_._1).toDF("q")
      .select(col("q"), graft.functions.roundScaled(col("q"), 4), round(col("q"), 4))
      .collect().map(r => r.getDouble(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for ((q, want) <- cases)
      assert(got(q)._1 == want, s"round($q) = ${got(q)._1}, oracle $want")
    assert(cases.count { case (q, want) => got(q)._2 != want } == 5,
      "sanity: Spark's round(q, 4) must get exactly the five low ties wrong")
  }

  test("dedup_minhash_verified rounds jaccard like the DuckDB oracle at a half-way tie") {
    import spark.implicits._
    // two docs sharing a 629-token run (627 shingles) with 86 and 87
    // private tail tokens: 627 shared of 800 distinct 3-token shingles,
    // J = 0.78375, whose scaled double is 7837.4999… — DuckDB's
    // round(J, 4) is 0.7837, Spark's round(J, 4) 0.7838. A 4-row band
    // matches with probability J^4 ≈ 0.37; these token spellings make the
    // pair share a band (est_sim 0.9375), so it is a minhash candidate
    val common = (0 until 629).map(i => s"d$i")
    val docs = Seq(1L -> (common ++ (0 until 86).map(i => s"a$i")),
      2L -> (common ++ (0 until 87).map(i => s"b$i")))
      .map { case (id, toks) => val t = toks.mkString(" ")
        (id, t, "en", "web", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft-jaccard-tie").toString
    try {
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val got = Dedup.dedupMinhashVerified(spark, dir).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
      assert(got.toSeq === Seq((1L, 2L, 0.7837)))
    } finally {
      Checkpoints.releaseAll()
      deleteTree(dir)
    }
  }

  test("indexed twin is row-identical to the recompute flagship") {
    val a = rows(Corpus.corpusPipeline(spark, sfDir))
    Checkpoints.releaseAll()
    val b = rows(Corpus.corpusPipelineIndexed(spark, sfDir))
    Checkpoints.releaseAll()
    assert(a.nonEmpty && a == b)
  }

  test("index-served pairs == recompute pairs; index side exchange-free") {
    val table = IndexSink.ensureFullSignatureIndex(spark, sfDir)
    assert(rows(IndexSink.pairsFromIndex(spark, table)) ==
      rows(Dedup.dedupMinhash(spark, sfDir)))
    Checkpoints.releaseAll()
    // plan proof, broadcast off so the join keeps both sides' layouts
    // visible: the stored self-join pays ZERO band_key exchanges (both
    // sides scan the bucketed table), while the recompute form pays them
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE wraps executed exchanges in query stages — disable so the plan
    // walk sees ShuffleExchangeExec directly (the AnnIndexSpec pattern)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def bandShuffles(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
          .filter(e => e.outputPartitioning.toString.contains("band_key") ||
            e.outputPartitioning.toString.contains("band_hash"))
      }
      assert(bandShuffles(IndexSink.pairsFromIndex(spark, table)).isEmpty,
        "index-served pair join re-shuffled on the band key")
      assert(bandShuffles(Dedup.dedupMinhash(spark, sfDir)).nonEmpty,
        "recompute twin unexpectedly exchange-free (test is vacuous)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
    Checkpoints.releaseAll()
  }

  test("incremental flagship is row-identical to the full recompute (r12)") {
    val full = Corpus.corpusPipeline(spark, sfDir)
    val inc = Corpus.corpusPipelineIncremental(spark, sfDir)
    assert(rows(inc) == rows(full))
    // incrementality is real: both batch and corpus slices are non-empty
    // at spec scale, and BOTH contribute rows to the output
    val m = Dedup.IncrementalBatchMod
    val bysSide = inc.groupBy((col("doc_id") % m === 0).as("is_batch")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(bysSide.getOrElse(true, 0L) > 0 && bysSide.getOrElse(false, 0L) > 0)
    // warm state: a second run finds the persisted tables (no rebuild)
    val stateTbl = Corpus.ensureCorpusState(spark, sfDir)
    assert(spark.catalog.tableExists(stateTbl) &&
      spark.catalog.tableExists(stateTbl + "_bench"))
  }

  test("persisted corpus-pair table is the stored index's self-join verbatim (r14)") {
    // the incremental flagship's corpus↔corpus quadrant now reads a
    // pay-at-ingest pair table instead of re-running the band self-join
    // per query — set-identical content is what keeps the component
    // labels (and the full-recompute oracle) unchanged
    val pairsTbl = Corpus.ensureIncCorpusPairs(spark, sfDir)
    val sigTbl = Corpus.ensureIncSignatureIndex(spark, sfDir)
    val stored = spark.table(pairsTbl).select(col("doc_a"), col("doc_b"))
    val live = IndexSink.pairsFromIndex(spark, sigTbl)
      .select(col("doc_a"), col("doc_b"))
    assert(rows(stored) == rows(live))
    assert(stored.count() > 0, "pair quadrant empty at spec scale (vacuous)")
    Checkpoints.releaseAll()
  }

  test("mixture rates in the pipeline come from the CLEANED mass") {
    // a language whose mass is entirely near-dup droppable would get a
    // different keep rate against raw vs cleaned totals; assert the
    // pipeline's survivors all pass the mixture bucket filter computed on
    // cleaned mass — i.e. re-deriving the rate table from corpus_clean's
    // survivors reproduces the pipeline's selection exactly
    val kept = Corpus.corpusClean(spark, sfDir)
    val cleanedDocs = Tables.documents(spark, sfDir)
      .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
    val expectedSel = graft.llm.Sampling.corpusMixtureOf(cleanedDocs)
      .select(col("doc_id"))
    val out = Corpus.corpusPipeline(spark, sfDir).select(col("doc_id"))
    assert(rows(out) == rows(
      expectedSel.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")))
    Checkpoints.releaseAll()
  }
}
