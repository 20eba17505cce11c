package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** End-to-end corpus cleaning (SURVEY.md §2.D21) — the composition a
  * training-data pipeline actually runs, assembled from the engine's own
  * operators: keep a document iff it is
  *   (1) the exact-dedup keeper of its normalized text (D1),
  *   (2) not a dropped member of a MinHash near-dup cluster (D19 —
  *       cluster keeper survives),
  *   (3) not contaminated against the benchmark set (D20), and
  *   (4) above the quality-score floor (D9).
  * Every stage is a semi/anti join against a bounded key set — the
  * documents scan happens once per stage input, nothing is collected,
  * and each underlying operator keeps its own bucketed/broadcast shape.
  * (The benchmark stand-in docs themselves pass through: decontamination
  * only filters the rest of the corpus against them.)
  */
object Corpus {

  val QualityFloor = 0.45

  def corpusClean(spark: SparkSession, dir: String): DataFrame =
    corpusCleanWith(spark, dir, Dedup.dedupComponents(spark, dir))

  /** D21 with the near-dup component frame injected — corpus_pipeline's
    * indexed twin passes components built from the persisted signature
    * index; the frame must carry (doc_id, is_keeper).
    */
  private[llm] def corpusCleanWith(spark: SparkSession, dir: String,
                                   components: DataFrame): DataFrame = {
    val q = TextOps.textQuality(spark, dir).select(col("doc_id"), col("quality_score"))
    val exactKeep = Dedup.dedupExact(spark, dir).select(col("keeper_id").as("doc_id"))
    val ccDrop = components
      .filter(!col("is_keeper")).select("doc_id")
    val contam = Dedup.decontaminate(spark, dir)
      .filter(col("contaminated")).select("doc_id")
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(ccDrop, Seq("doc_id"), "left_anti")
      .join(contam, Seq("doc_id"), "left_anti")
      .join(q, Seq("doc_id"))
      .filter(col("quality_score") >= QualityFloor)
      .select(col("doc_id"), col("lang"),
        graft.functions.roundScaled(col("quality_score"), 4).as("quality_score"))
  }

  val corpusCleanSql: String =
    s"""WITH q AS (SELECT doc_id, quality_score FROM (${TextOps.textQualitySql}) t),
    exact_keep AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id, md5(${TextOps.normTextSql}) AS th FROM documents)
      GROUP BY th),
    cc_drop AS (
      SELECT doc_id FROM (${Dedup.dedupComponentsSql}) c
      WHERE NOT is_keeper),
    contam AS (
      SELECT doc_id FROM (${Dedup.decontaminateSql}) d WHERE contaminated)
    SELECT d.doc_id, d.lang, round(q.quality_score, 4) AS quality_score
    FROM documents d
    JOIN q ON q.doc_id = d.doc_id
    WHERE d.doc_id IN (SELECT doc_id FROM exact_keep)
      AND d.doc_id NOT IN (SELECT doc_id FROM cc_drop)
      AND d.doc_id NOT IN (SELECT doc_id FROM contam)
      AND q.quality_score >= $QualityFloor"""

  /** D64 (r8): corpus_pipeline — the D-family FLAGSHIP, the full assembly
    * a 100 TB pretraining-data run actually executes, materialized as ONE
    * query: clean (exact-dedup keepers ∩ near-dup-cluster keepers ∖
    * contaminated, above the quality floor — D21's composition) → language
    * mixture selection with rates computed over the CLEANED mass (D24's
    * rate table, fed the survivors — the trainer samples from what
    * survived cleaning, not the raw crawl) → tokenizer-true sequence
    * packing of the selected docs (D54's BPE counts through D18's
    * shard-windowed concat-then-chunk). Output: one row per packed doc
    * with its provenance (lang, quality) and its training-layout address
    * (shard, seq_id, seq_offset) — the manifest a shard writer consumes.
    *
    * Shape: the cleaned keeper set is materialized ONCE (it feeds both
    * the mixture mass aggregate and the final join); every stage is a
    * semi/anti join against bounded key sets or a broadcast rate table;
    * packing's one exchange is the PackShards-way cumsum window. No stage
    * collects, no stage self-joins the corpus outside the band-bucketed
    * near-dup join.
    */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame =
    corpusPipelineFrom(spark, dir, corpusClean(spark, dir))

  /** The flagship's serving twin (the capex_pipeline_bucketed pattern):
    * identical output, but the near-dup stage's pair generation reads the
    * PERSISTED full-corpus signature index (sources/IndexSink, bucketed by
    * band_key) instead of recomputing shingles → digests → signatures →
    * bands per run — the band self-join consumes the stored layout on
    * both sides with zero join-key exchanges, and the signature CPU cost
    * is paid once at ingest. Same oracle as corpus_pipeline: the stored
    * band rows are minhashSignatures' expressions verbatim, so the pair
    * set — and everything downstream — is identical (spec-asserted, and
    * the driver hash-checks both against one SQL).
    */
  def corpusPipelineIndexed(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.sources.IndexSink.ensureFullSignatureIndex(spark, dir)
    val comps = Dedup.componentsOfPairs(
      graft.sources.IndexSink.pairsFromIndex(spark, table)
        .select(col("doc_a"), col("doc_b")))
    corpusPipelineFrom(spark, dir, corpusCleanWith(spark, dir, comps))
  }

  private def corpusPipelineFrom(spark: SparkSession, dir: String,
                                 clean: DataFrame): DataFrame = {
    // keeper set materialized once — consumed by the mixture mass
    // aggregate, the packing input, and the final manifest join
    val kept = graft.Checkpoints.cp(clean)
    val cleanedDocs = Tables.documents(spark, dir)
      .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
    val mixKeep = Sampling.corpusMixtureOf(cleanedDocs).select(col("doc_id"))
    // BPE-encode ONLY the mixture-selected docs (r14, guide §2.3 "don't
    // compute what you throw away"): n_tokens is a pure per-doc function
    // of the text under the corpus-mined merge table (minedMerges stays
    // full-corpus — the tokenizer is a pinned artifact), so filtering
    // BEFORE the heap encoder commutes with it exactly; the old form
    // encoded every document and semi-joined the survivors after,
    // paying the catalog's heaviest per-row text pass on the ~85% of
    // docs the mixture drops. Oracle unchanged (same SQL, same rows).
    val selDocs = Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .join(mixKeep, Seq("doc_id"), "left_semi")
    val counts = TextOps.bpeIdsFrameOf(spark, dir, selDocs)
      .select(col("doc_id"), size(col("ids")).cast("bigint").as("n_tokens"))
    val packed = Packing.packOfCounts(counts)
    kept.join(packed, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        col("n_tokens"), col("shard"), col("seq_id"), col("seq_offset"))
  }

  /** One composed statement mirroring the stage order exactly: clean CTE =
    * corpusCleanSql verbatim; mixture rates over the cleaned docs
    * (corpusMixtureSql's arithmetic with `documents` swapped for the
    * survivors); BPE counts nest D54's recursive encode as a derived
    * table (the packSequencesBpeSql precedent); the pack window is
    * packSequencesSql's, PARTITIONed over the selected docs only.
    */
  def corpusPipelineSql: String = {
    val mixCases = Sampling.MixTargets
      .map { case (l, t) => s"WHEN lang = '$l' THEN $t" }.mkString(" ")
    val mixBucket = "CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR) " +
      "|| ':' || coalesce(lang, '')), 1, 6) AS BIGINT) % 100"
    s"""WITH clean AS MATERIALIZED ($corpusCleanSql),
    md AS (
      SELECT d.doc_id, d.lang,
             CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_ws_tokens
      FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM clean)),
    lt AS (SELECT lang, CAST(sum(n_ws_tokens) AS BIGINT) AS lang_toks
           FROM md GROUP BY lang),
    tot AS (SELECT CAST(sum(lang_toks) AS BIGINT) AS total_toks FROM lt),
    rates AS (
      SELECT lang, CAST(least(100, ((CASE $mixCases ELSE 100 END) * total_toks)
                                    // lang_toks) AS BIGINT) AS keep_rate_pct
      FROM lt CROSS JOIN tot),
    mixkeep AS (
      SELECT doc_id FROM md JOIN rates USING (lang)
      WHERE $mixBucket < keep_rate_pct),
    sel AS (
      SELECT doc_id, n_tokens FROM (${TextOps.textBpeEncodeSql}) enc
      WHERE doc_id IN (SELECT doc_id FROM mixkeep)),
    packed AS (
      SELECT doc_id, shard, n_tokens,
        CAST((cum - n_tokens) // ${Packing.PackBudget} AS BIGINT) AS seq_id,
        CAST((cum - n_tokens) % ${Packing.PackBudget} AS BIGINT) AS seq_offset
      FROM (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM (
          SELECT doc_id,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 6)
                      AS BIGINT) % ${Packing.PackShards} AS shard,
                 n_tokens
          FROM sel)))
    SELECT c.doc_id, c.lang, c.quality_score,
           p.n_tokens, p.shard, p.seq_id, p.seq_offset
    FROM clean c JOIN packed p USING (doc_id)"""
  }

  // ---------------------------------------------------------------------
  // D64b (r12): INCREMENTAL corpus flagship — the daily-ingest form
  // ---------------------------------------------------------------------

  /** Per-doc clean-stage signals over an arbitrary docs frame, computed
    * under DIR's pinned artifacts (the full-corpus-mined BPE merge table;
    * the `bench` shingle-hash blocklist): (doc_id, lang, th, quality,
    * n_ws_tokens, n_bpe_tokens, contaminated). This is the row the state
    * table stores per corpus doc at ingest and the batch computes per
    * arrival — everything the flagship's stages need, WITHOUT the text.
    */
  private def docSignals(spark: SparkSession, dir: String, docs0: DataFrame,
                         bench: DataFrame): DataFrame = {
    val base = docs0.select(col("doc_id"), col("lang"),
      md5(TextOps.normText(col("text")).cast("binary")).as("th"),
      TextOps.qualityExpr(col("text")).as("quality_score"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("bigint").as("n_ws_tokens"))
    val bpe = TextOps.bpeIdsFrameOf(spark, dir, docs0)
      .select(col("doc_id"), size(col("ids")).cast("bigint").as("n_bpe_tokens"))
    // Fence, not cp (r14): single linear consumer (the shingle explode) —
    // the barrier only needs to bind the token array against lambda
    // inlining, not materialize it
    val toks = graft.plans.Fence(
      docs0.select(col("doc_id"), TextOps.toks(col("text")).as("toks")))
    val hits = toks
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shingles(col("toks")))).as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
      .join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    base.join(bpe, Seq("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("contaminated",
        coalesce(col("n_hits"), lit(0L)) > 0 &&
          !(col("doc_id") % Dedup.BenchMod === 0))
      .drop("n_hits")
  }

  /** Pay-at-ingest corpus state for the incremental flagship: per-doc
    * clean-stage signals for the NON-batch slice (doc_id %
    * IncrementalBatchMod != 0), bucketed by doc_id, plus the benchmark
    * shingle-hash blocklist as `<t>_bench` (the eval suite is a static
    * pinned artifact, like the tokenizer). Content-fingerprinted name;
    * the BPE width is a build-time lever so it IS in the name.
    */
  private[graft] def ensureCorpusState(spark: SparkSession, dir: String): String = {
    val S = graft.sources.BucketedSink
    val fp = S.contentFingerprint(Seq(s"$dir/documents.parquet"))
    val table = "corpus_state_" +
      S.nameHash(s"$dir\n$fp\nbpe=${TextOps.BpeTopMerges}\nM=${Dedup.IncrementalBatchMod}")
    S.ensureIndex(spark, table, "_bench") {
      Dedup.shingleHashes(spark, dir)
        .filter(col("doc_id") % Dedup.BenchMod === 0)
        .select(col("h")).distinct()
        .write.format("parquet").saveAsTable(table + "_bench")
      val corpusDocs = Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
        .filter(col("doc_id") % Dedup.IncrementalBatchMod =!= 0)
      S.writeBucketed(
        docSignals(spark, dir, corpusDocs, spark.table(table + "_bench")),
        table, "doc_id", S.indexBuckets(spark))
    }
  }

  /** The batch-slice signature index (D22's writeSignatureIndex slice —
    * band rows for doc_id % IncrementalBatchMod != 0), fingerprint-named
    * like the full index. */
  private[graft] def ensureIncSignatureIndex(spark: SparkSession, dir: String): String = {
    val S = graft.sources.BucketedSink
    val fp = S.contentFingerprint(Seq(s"$dir/documents.parquet"))
    val table = "sig_idx_inc_" +
      S.nameHash(s"$dir\n$fp\nM=${Dedup.IncrementalBatchMod}")
    S.ensureIndex(spark, table)(
      graft.sources.IndexSink.writeSignatureIndex(spark, dir, table, S.indexBuckets(spark)))
  }

  /** Pay-at-ingest corpus↔corpus near-dup PAIRS (r14): the stored slice's
    * band self-join output, persisted next to the index it derives from.
    * Pairs among already-ingested docs are a pure function of the stored
    * index — a new batch can only ADD probe/batch-quadrant pairs, never
    * change these — so a daily run re-paying the index self-join per
    * query was corpus-sized recurring work for an ingest-time artifact
    * (guide §2.4: the join is removed outright, not made cheaper).
    * Content of the table is pairsFromIndex(...) verbatim (spec-gated),
    * so the downstream component labels — and the oracle, which replays
    * the full recompute — are unchanged. Tombstone caveat: like every
    * derived serving artifact, a takedown on the signature index must
    * rebuild this table too (it is fingerprint-named, so a corpus rewrite
    * already invalidates it).
    */
  private[graft] def ensureIncCorpusPairs(spark: SparkSession, dir: String): String = {
    val S = graft.sources.BucketedSink
    val fp = S.contentFingerprint(Seq(s"$dir/documents.parquet"))
    val table = "inc_pairs_" +
      S.nameHash(s"$dir\n$fp\nM=${Dedup.IncrementalBatchMod}")
    S.ensureTable(spark, table) {
      val sigTbl = ensureIncSignatureIndex(spark, dir)
      graft.sources.IndexSink.pairsFromIndex(spark, sigTbl)
        .select(col("doc_a"), col("doc_b"))
        .write.format("parquet").saveAsTable(table)
    }
    table
  }

  /** D64b (r12): corpus_pipeline INCREMENTAL — the composition a DAILY
    * ingest actually runs (the r11 verdict's item 6: D22's probe + E17's
    * merge discipline applied to the whole flagship). The corpus slice
    * (doc_id % 5 != 0) was processed at ingest: its per-doc clean-stage
    * signals live in the persisted state table and its near-dup band
    * rows in the persisted signature index. The arriving batch (doc_id %
    * 5 == 0) is the ONLY text that gets tokenized, shingled, signed, or
    * BPE-encoded in this query; everything else is joins and bounded
    * aggregates over compact stored state:
    *   - exact keepers: one hash-groupBy over stored + batch `th` digests
    *     (digests travel, text does not) — and keeper identity can move
    *     ACROSS the boundary (a batch arrival with a smaller doc_id
    *     evicts a stored keeper, exactly as a full recompute would);
    *   - near-dup components: corpus-corpus pairs from the stored index's
    *     band self-join (zero signature CPU), batch-corpus pairs from the
    *     D22 probe, batch-batch pairs from the batch's own band join —
    *     the three quadrants union to EXACTLY dedupMinhash's full pair
    *     set (same expressions, same ≥ 0.5 confirm);
    *   - contamination: the batch probes the stored benchmark blocklist;
    *   - mixture rates / packing: the bounded rate aggregate and the one
    *     pack window rerun over stored per-doc counts (rates and pack
    *     addresses are GLOBAL properties — a batch changes them for
    *     stored docs too, so these must rerun; they are exchanges over
    *     (doc_id, lang, count) rows, never over text).
    * OUTPUT ≡ corpusPipeline(dir) row-for-row (the full recompute IS the
    * oracle — corpusPipelineSql verbatim), which is the gate that makes
    * "incremental" mean something: same answer, batch-sized text cost.
    */
  def corpusPipelineIncremental(spark: SparkSession, dir: String): DataFrame = {
    val M = Dedup.IncrementalBatchMod
    val stateTbl = ensureCorpusState(spark, dir)
    val sigTbl = ensureIncSignatureIndex(spark, dir)
    val S = graft.sources.BucketedSink
    val cols = Seq("doc_id", "lang", "th", "quality_score",
      "n_ws_tokens", "n_bpe_tokens", "contaminated")
    val stored = S.readServing(spark, stateTbl, "doc_id")
      .select(cols.map(col): _*)
    val batchDocs = Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .filter(col("doc_id") % M === 0)
    val batchState = docSignals(spark, dir, batchDocs, spark.table(stateTbl + "_bench"))
      .select(cols.map(col): _*)
    // the union state feeds four consumers (exact agg, clean joins,
    // mixture mass, pack counts) — materialize once
    val all = graft.Checkpoints.cp(stored.unionByName(batchState))
    // exact-dedup keepers over digests
    val exactKeep = all.groupBy(col("th"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    // near-dup components from the three pair quadrants; the corpus↔corpus
    // quadrant reads the PERSISTED pair table (r14 — see
    // ensureIncCorpusPairs: batch-independent, so its band self-join is
    // ingest-time work, not recurring work)
    val corpusPairs = spark.table(ensureIncCorpusPairs(spark, dir))
      .select(col("doc_a"), col("doc_b"))
    // sign ONLY the batch slice (r14): the old form ran the full-corpus
    // signature chain (tokenize + shingle + 16-way minhash over every doc)
    // and filtered to the batch afterwards — corpus-sized text work inside
    // the query whose contract is "batch-sized text cost". sigBandsOf is
    // the identical expression set over an arbitrary frame (the streaming
    // probe's path), and signatures are per-doc, so filtering first
    // commutes exactly; the pair quadrants — and the oracle's full
    // recompute — are unchanged.
    val batchSigs = graft.Checkpoints.cp(
      Dedup.sigBandsOf(batchDocs.select(col("doc_id"), col("text"))))
    val probePairs = graft.sources.IndexSink.probe(spark, sigTbl, batchSigs)
      .select(col("index_id").as("doc_a"), col("batch_id").as("doc_b"))
    val batchPairs = Dedup.pairsOfSignatures(batchSigs)
      .select(col("doc_a"), col("doc_b"))
    val comps = Dedup.componentsOfPairs(
      corpusPairs.unionByName(probePairs).unionByName(batchPairs))
    val ccDrop = comps.filter(!col("is_keeper")).select("doc_id")
    // the clean composition over signals (corpusCleanWith's rules)
    val kept = graft.Checkpoints.cp(all
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(ccDrop, Seq("doc_id"), "left_anti")
      .join(all.filter(col("contaminated")).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .filter(col("quality_score") >= QualityFloor))
    val mixKeep = Sampling.corpusMixtureOfCounts(
        kept.select(col("doc_id"), col("lang"), col("n_ws_tokens")))
      .select(col("doc_id"))
    val counts = all.select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
      .join(mixKeep, Seq("doc_id"), "left_semi")
    val packed = Packing.packOfCounts(counts)
    kept.join(packed, Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        graft.functions.roundScaled(col("quality_score"), 4).as("quality_score"),
        col("n_tokens"), col("shard"), col("seq_id"), col("seq_offset"))
  }

  /** D67 (r8): shard manifest — the per-shard summary a shard WRITER
    * consumes from the flagship's per-doc manifest: docs, languages,
    * total BPE tokens, distinct start-sequences, and the last sequence id
    * (capacity: last_seq_id + 1 ≈ total_tokens/PackBudget windows). This
    * is the row a training launcher reads to size readers and validate
    * shard balance BEFORE copying 100 TB of shards — a skewed shard shows
    * up here as a token-count outlier. One bounded aggregate (PackShards
    * rows) over the pipeline output; exact integers → hash-checked.
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    corpusPipeline(spark, dir)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("seq_id")).as("n_start_seqs"),
        max(col("seq_id")).as("last_seq_id"))
  def shardManifestSql: String =
    s"""SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      CAST(count(DISTINCT seq_id) AS BIGINT) AS n_start_seqs,
      CAST(max(seq_id) AS BIGINT) AS last_seq_id
    FROM ($corpusPipelineSql) p
    GROUP BY shard"""

  /** D27: corpus report ("dataset card") — per (source, lang): doc count,
    * total BPE-ish tokens, mean quality, exact median token count. ONE
    * scan computes every per-doc feature as a projection (same expression
    * shapes text_quality / text_tokens hash-check — no join of derived
    * frames), then ONE shuffle by (source, lang) serves both the median
    * window and the aggregate. Mean quality goes through integer
    * micro-units (round(q*1e6) summed as BIGINT) so the group sum is
    * order-independent — the report's numbers are exact, not
    * float-accumulation-dependent.
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = TextOps.qualityExpr(col("text"))
    val nBpe = size(TextOps.bpeSegs(lower(col("text"))))
    val perDoc = Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"),
        nBpe.as("n_bpe_tokens"),
        round(quality * 1000000).cast("bigint").as("q_micros"))
    val w = Window.partitionBy(col("source"), col("lang"))
      .orderBy(col("n_bpe_tokens").asc, col("doc_id").asc)
    val wp = Window.partitionBy(col("source"), col("lang"))
    perDoc
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wp))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("total_tokens"),
        (sum(col("q_micros")).cast("double") /
          (count(lit(1)) * lit(1000000.0))).as("mean_quality"),
        max(when(col("rn") === expr("(n-1) div 2 + 1"), col("n_bpe_tokens")))
          .cast("bigint").as("median_tokens"))
  }
  val corpusReportSql: String =
    s"""WITH per_doc AS (
      SELECT doc_id, source, lang,
        len(regexp_extract_all(lower(text), '${TextOps.BpeTokReSql}')) AS n_bpe_tokens,
        CAST(round(${TextOps.qualityExprSql("toks")} * 1000000, 0) AS BIGINT) AS q_micros
      FROM (SELECT doc_id, source, lang, text, ${TextOps.toksSql} AS toks FROM documents)),
    w AS (
      SELECT *, row_number() OVER (PARTITION BY source, lang
                                   ORDER BY n_bpe_tokens ASC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY source, lang) AS n
      FROM per_doc)
    SELECT source, lang, count(*) AS n_docs,
      CAST(sum(n_bpe_tokens) AS BIGINT) AS total_tokens,
      CAST(sum(q_micros) AS DOUBLE) / (count(*) * 1000000.0) AS mean_quality,
      CAST(max(CASE WHEN rn = (n - 1) // 2 + 1 THEN n_bpe_tokens END) AS BIGINT) AS median_tokens
    FROM w GROUP BY source, lang"""

  /** D37: cross-source overlap matrix — for every source pair, the count
    * of distinct word-3-gram shingle hashes present in BOTH, plus an
    * overlap coefficient in integer basis points (shared·10000 div
    * min(|a|,|b|)). The corpus-provenance diagnostic behind "which feeds
    * duplicate each other" decisions (what to crawl less, what to dedup
    * against what). Shape: one distinct (source, hash) inverted index —
    * the shuffle is bounded by distinct (source, shingle) pairs, and the
    * per-hash self-join fans out at most sources²/2 rows per shingle
    * (sources is a bounded catalog, not data-scale); the corpus is never
    * joined to itself at doc granularity.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("source"), explode(
        array_distinct(TextOps.shingles(TextOps.toks(col("text"))))).as("s"))
      .select(col("source"), md5(col("s").cast("binary")).as("h"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("source").as("source_a"), col("h"))
    val b = sh.select(col("source").as("source_b"), col("h"))
    a.join(b, Seq("h")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n_sh").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n_sh").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        expr("n_shared * 10000 div least(n_a, n_b)").as("overlap_bp"))
  }
  val sourceOverlapSql: String =
    s"""WITH sh AS MATERIALIZED (
      SELECT DISTINCT source, md5(s) AS h FROM (
        SELECT source, unnest(list_distinct(${TextOps.shinglesSql("toks")})) AS s
        FROM (SELECT source, ${TextOps.toksSql} AS toks FROM documents))),
    sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT p.source_a, p.source_b, p.n_shared,
      sa.n_sh AS n_a, sb.n_sh AS n_b,
      (p.n_shared * 10000) // least(sa.n_sh, sb.n_sh) AS overlap_bp
    FROM pairs p
    JOIN sizes sa ON sa.source = p.source_a
    JOIN sizes sb ON sb.source = p.source_b"""

  /** D41: per-document n-gram novelty — the share of a doc's distinct
    * word-3-gram shingles that appear in NO other document, in exact
    * integer basis points. The inverse diagnostic to D26/D37: span dedup
    * finds what repeats, novelty scores what doesn't — low-novelty docs
    * are templated/boilerplate candidates even when no single span
    * crosses the dedup threshold, high-novelty docs carry unique content
    * worth keeping through aggressive cleaning.
    *
    * Shape: ONE distinct (doc, shingle-hash) projection (checkpointed —
    * both passes reuse it), a document-frequency aggregate bounded by
    * distinct shingles, and a co-partitioned equality join of the df=1
    * slice back onto the pairs; never a doc-granularity self-join. Zero-
    * shingle docs degrade to novelty 0.
    */
  def textNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
    val pairs = graft.Checkpoints.cp(
      docs.select(col("doc_id"), explode(
          array_distinct(TextOps.shingles(TextOps.toks(col("text"))))).as("s"))
        .select(col("doc_id"), md5(col("s").cast("binary")).as("h")))
    val dfTab = pairs.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val uniq = pairs.join(dfTab.filter(col("df") === 1), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_unique"))
    val nsh = pairs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    docs.select(col("doc_id"))
      .join(nsh, Seq("doc_id"), "left")
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty_bp",
        when(col("n_sh") > 0, expr("(n_unique * 10000) div n_sh"))
          .otherwise(lit(0L)))
  }
  val textNoveltySql: String =
    s"""WITH p AS MATERIALIZED (
      SELECT doc_id, md5(s) AS h FROM (
        SELECT doc_id, unnest(list_distinct(${TextOps.shinglesSql("toks")})) AS s
        FROM (SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents))),
    dfp AS (SELECT h, count(*) AS df FROM p GROUP BY h),
    u AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_unique
          FROM p JOIN dfp USING (h) WHERE df = 1 GROUP BY doc_id),
    n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
          FROM p GROUP BY doc_id)
    SELECT d.doc_id, coalesce(n.n_sh, 0) AS n_sh,
      coalesce(u.n_unique, 0) AS n_unique,
      CASE WHEN coalesce(n.n_sh, 0) > 0
        THEN (coalesce(u.n_unique, 0) * 10000) // n.n_sh
        ELSE 0 END AS novelty_bp
    FROM documents d
    LEFT JOIN n USING (doc_id) LEFT JOIN u USING (doc_id)"""

  val QualityTiers = 10

  /** D28: global quality-tier bucketing WITHOUT a global sort — the scale
    * trap in "assign every doc its corpus-wide decile" is ntile() over an
    * unpartitioned window (one reducer sorts the corpus). Instead the
    * score is quantized to fixed precision (4 dp — the bounded-cardinality
    * contract), the corpus does ONE partial-agg shuffle bounded by
    * DISTINCT SCORES (≤ 10^4ish rows, not docs), exact cumulative ranks
    * are computed by a window over that tiny frequency table, and the
    * value→tier map broadcasts back over the scan. Ties share the tier of
    * their value's first global rank (tier is a pure function of the
    * value — the documented policy that keeps assignment rank-free).
    */
  def qualityTiers(spark: SparkSession, dir: String): DataFrame =
    qualityTiersOf(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  /** Frame form — shared by the catalog query and the D87 text classifier's
    * weak-labeling pass (which must tier an arbitrary docs frame in specs).
    */
  private[graft] def qualityTiersOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // perDoc feeds TWO subtrees (the frequency aggregate and the output
    // join) — materialize it once (r14) so the quality expression runs one
    // pass per row instead of two; (doc_id, q4) is 16 bytes/doc
    val perDoc = graft.Checkpoints.cp(docs
      .select(col("doc_id"),
        round(TextOps.qualityExpr(col("text")) * 10000).cast("bigint").as("q4")))
    val freq = perDoc.groupBy(col("q4")).agg(count(lit(1)).as("cnt"))
    // windows over the FREQUENCY TABLE (bounded by the quantized domain,
    // not the corpus) — the unpartitioned order is deliberate and safe here
    val byVal = Window.orderBy(col("q4").asc)
    val all = Window.partitionBy()
    val tiers = freq
      .withColumn("cum_before", coalesce(
        sum(col("cnt")).over(byVal.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(all))
      .select(col("q4"),
        least(lit(QualityTiers.toLong),
          expr(s"cum_before * $QualityTiers div n") + 1).as("tier"))
    perDoc.join(broadcast(tiers), Seq("q4"))
      .select(col("doc_id"), col("q4"), col("tier"))
  }
  val qualityTiersSql: String =
    s"""WITH per_doc AS (
      SELECT doc_id, CAST(round(${TextOps.qualityExprSql("toks")} * 10000, 0) AS BIGINT) AS q4
      FROM (SELECT doc_id, text, ${TextOps.toksSql} AS toks FROM documents)),
    freq AS (SELECT q4, count(*) AS cnt FROM per_doc GROUP BY q4),
    b AS (
      SELECT q4,
        coalesce(sum(cnt) OVER (ORDER BY q4 ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
        sum(cnt) OVER () AS n
      FROM freq),
    t AS (SELECT q4, least($QualityTiers, cum_before * $QualityTiers // n + 1) AS tier FROM b)
    SELECT p.doc_id, p.q4, CAST(t.tier AS BIGINT) AS tier
    FROM per_doc p JOIN t USING (q4)"""

  /** D58: quality-signal agreement report — per D28 quality tier: doc
    * count, mean heuristic score (e4), and the tier's LM typicality (D32's
    * corpus-trained bigram score) as one exact nano-scaled integer. The
    * calibration gate for the CHEAP filter: the heuristic score is what a
    * 100 TB pipeline actually gates on (one scan, no model), and this
    * report shows whether it agrees with the statistical signal — a flat
    * or inverted typicality-by-tier curve means the heuristic is filtering
    * noise, caught BEFORE a bad gate drops petabytes.
    *
    * Determinism: per-tier typicality is Σsp div Σn over the per-doc EXACT
    * integer LM sums (TextOps.lmDocSums) — integer sums are
    * order-independent where a mean of per-doc doubles would ulp-drift
    * with aggregation order; mean_q4 likewise sums e4-quantized ints.
    * Plan: the two per-doc scans join on doc_id, ONE partial-agg shuffle
    * bounded by the tier count (10 rows out).
    */
  def qualityLmAgreement(spark: SparkSession, dir: String): DataFrame = {
    val tiers = qualityTiers(spark, dir)
    val lm = TextOps.lmDocSums(
      Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))
    tiers.join(lm, Seq("doc_id"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q4")).as("sum_q4"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("sp")).as("sum_sp"))
      .select(col("tier"), col("n_docs"),
        expr("sum_q4 div n_docs").as("mean_q4"),
        col("n_bigrams"),
        when(col("n_bigrams") > 0, expr("sum_sp div n_bigrams"))
          .otherwise(lit(0L)).as("typ_nano"))
  }

  val qualityLmAgreementSql: String = {
    val v2 = TextOps.LmAlphabetSize * TextOps.LmAlphabetSize
    s"""WITH per_doc AS (
      SELECT doc_id, CAST(round(${TextOps.qualityExprSql("toks")} * 10000, 0) AS BIGINT) AS q4
      FROM (SELECT doc_id, text, ${TextOps.toksSql} AS toks FROM documents)),
    freq AS (SELECT q4, count(*) AS cnt FROM per_doc GROUP BY q4),
    b AS (
      SELECT q4,
        coalesce(sum(cnt) OVER (ORDER BY q4 ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
        sum(cnt) OVER () AS n
      FROM freq),
    t AS (SELECT q4, least($QualityTiers, cum_before * $QualityTiers // n + 1) AS tier FROM b),
    lmt AS (SELECT doc_id, ${TextOps.lmNormSql} AS s FROM documents),
    bg AS (SELECT doc_id, unnest(${TextOps.lmBigramsSql("s")}) AS b FROM lmt),
    cnt AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
    tot AS (SELECT coalesce(sum(c), 0) AS tc FROM cnt),
    probs AS (SELECT b,
        CAST((CAST(c AS HUGEINT) + 1) * ${TextOps.LmNano} // (tc + $v2) AS BIGINT) AS p
      FROM cnt, tot),
    persum AS (
      SELECT doc_id, count(*) AS n, CAST(sum(p) AS BIGINT) AS sp
      FROM bg JOIN probs USING (b) GROUP BY doc_id),
    joined AS (
      SELECT t.tier, p.q4, coalesce(ps.n, 0) AS n, coalesce(ps.sp, 0) AS sp
      FROM per_doc p JOIN t USING (q4) LEFT JOIN persum ps USING (doc_id))
    SELECT CAST(tier AS BIGINT) AS tier, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(q4) // count(*) AS BIGINT) AS mean_q4,
           CAST(sum(n) AS BIGINT) AS n_bigrams,
           CASE WHEN sum(n) > 0 THEN CAST(sum(sp) // sum(n) AS BIGINT)
                ELSE 0 END AS typ_nano
    FROM joined GROUP BY tier"""
  }

  val TopDocs = 100

  /** D29: global top-N by quality — orderBy(...).limit(N) deliberately,
    * because Spark plans it as TakeOrderedAndProject: each partition keeps
    * its local top N and only N·partitions rows ever reach the final
    * selection — NO global sort, no full-corpus exchange (plan-audited).
    * The anti-pattern it replaces is row_number() over an unpartitioned
    * window + filter ≤ N, which sorts the corpus on one reducer.
    */
  def topDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"),
        TextOps.qualityExpr(col("text")).as("quality_score"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
      .limit(TopDocs)
  val topDocsSql: String =
    s"""SELECT doc_id, source, lang, ${TextOps.qualityExprSql("toks")} AS quality_score
    FROM (SELECT doc_id, source, lang, text, ${TextOps.toksSql} AS toks FROM documents)
    ORDER BY quality_score DESC, doc_id ASC LIMIT $TopDocs"""

  val TopNgramsPerSource = 5

  /** D50: per-source near-dup rate — the provenance QC metric behind
    * "which feed is flooding us with copies": for each source, total docs,
    * docs that are dropped members of a MinHash near-dup cluster (D19's
    * non-keepers), and the rate in exact basis points. The drop set is
    * bounded by actual duplication, so the join back onto the documents
    * scan carries NO broadcast hint (same duplication-dependent policy as
    * split_holdout / dedup_best_rep — AQE sizes it at runtime); the final
    * aggregate is bounded by the source catalog. One fact scan, one
    * bounded shuffle.
    */
  def dedupRateSource(spark: SparkSession, dir: String): DataFrame = {
    val dropped = Dedup.dedupComponents(spark, dir)
      .filter(!col("is_keeper")).select(col("doc_id"), lit(1L).as("is_dup"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("is_dup")), lit(0L)).as("n_dups"))
      .withColumn("dup_bp", expr("n_dups * 10000 div n_docs"))
  }
  val dedupRateSourceSql: String =
    s"""WITH cc AS (${Dedup.dedupComponentsSql}),
    dropped AS (SELECT doc_id FROM cc WHERE NOT is_keeper)
    SELECT source, count(*) AS n_docs,
      CAST(count(dr.doc_id) AS BIGINT) AS n_dups,
      CAST(count(dr.doc_id) * 10000 // count(*) AS BIGINT) AS dup_bp
    FROM documents d LEFT JOIN dropped dr USING (doc_id)
    GROUP BY source"""

  /** D47: per-language quality floor — flag the bottom decile of each
    * LANGUAGE separately (the language-conditioned form of the global
    * floor D21 applies): a single global threshold systematically
    * over-drops whichever languages score lower on shared heuristics,
    * so production filters cut per-language. Same bounded-cardinality
    * machinery as quality_tiers / the p99 winsorizer: scores quantize to
    * 1e4 integers, ONE partial-agg shuffle builds the (lang, q4)
    * frequency table, the type-1 p10 threshold (smallest value whose
    * cumulative count reaches 10% — exact integer cum·10 ≥ n) comes from
    * a window over that TINY table, and the per-language thresholds
    * broadcast back onto one scan. Never a per-language sort of the
    * corpus (the few-reducer trap), never ntile.
    */
  def qualityFloorLang(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), col("lang"),
        round(TextOps.qualityExpr(col("text")) * 10000).cast("bigint").as("q4"))
    val freq = perDoc.groupBy(col("lang"), col("q4")).agg(count(lit(1)).as("cnt"))
    val byLang = Window.partitionBy(col("lang")).orderBy(col("q4").asc)
    val overLang = Window.partitionBy(col("lang"))
    val thr = freq
      .withColumn("cum", sum(col("cnt")).over(
        byLang.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(overLang))
      .filter(col("cum") * 10 >= col("n"))
      .groupBy(col("lang")).agg(min(col("q4")).as("p10_q4"))
    perDoc.join(broadcast(thr), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("q4"), col("p10_q4"),
        (col("q4") >= col("p10_q4")).as("keep"))
  }
  val qualityFloorLangSql: String =
    s"""WITH per_doc AS (
      SELECT doc_id, lang,
        CAST(round(${TextOps.qualityExprSql("toks")} * 10000, 0) AS BIGINT) AS q4
      FROM (SELECT doc_id, lang, text, ${TextOps.toksSql} AS toks FROM documents)),
    freq AS (SELECT lang, q4, count(*) AS cnt FROM per_doc GROUP BY lang, q4),
    cum AS (
      SELECT lang, q4,
        sum(cnt) OVER (PARTITION BY lang ORDER BY q4 ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(cnt) OVER (PARTITION BY lang) AS n
      FROM freq),
    thr AS (SELECT lang, min(q4) AS p10_q4 FROM cum
      WHERE cum * 10 >= n GROUP BY lang)
    SELECT p.doc_id, p.lang, p.q4, t.p10_q4, p.q4 >= t.p10_q4 AS keep
    FROM per_doc p JOIN thr t USING (lang)"""

  /** D44: per-source heavy-hitter n-grams — the GROUPED form of D36's
    * corpus-wide frequency pass: for each source, its top-5 word-3-grams
    * with counts. This is the per-feed boilerplate detector ("which
    * template does each crawl feed repeat") that a global top-N hides
    * whenever one giant source dominates the tail of the others. Shape:
    * one explode → ONE partial-agg shuffle keyed (source, shingle) —
    * map-side combine absorbs the repetition that makes a shingle a heavy
    * hitter, so reducer input is bounded by DISTINCT (source, shingle) —
    * then the rank window runs over that aggregated table partitioned by
    * source (frames bounded by a source's distinct-shingle count, never by
    * occurrences; at 100 TB the aggregate output, not the corpus, is what
    * sorts). Exact total order (n DESC, shingle ASC) at the cut.
    */
  def sourceTopNgrams(spark: SparkSession, dir: String): DataFrame = {
    // fence, not cp: single linear consumer chain (shingle explode), no
    // cross-plan reuse — the fence just pins the tokenizer to one run/row
    val counts = graft.plans.Fence(
      Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
        .select(col("source"), TextOps.toks(col("text")).as("toks")))
      .select(col("source"), explode(TextOps.shingles(col("toks"))).as("shingle"))
      .groupBy(col("source"), col("shingle")).agg(count(lit(1)).as("n"))
    graft.operators.Relational.topK(counts, Seq(col("source")),
        Seq(col("n").desc, col("shingle").asc), TopNgramsPerSource, "rk")
      .withColumn("rk", col("rk").cast("bigint"))
  }
  val sourceTopNgramsSql: String =
    s"""SELECT source, shingle, n, rk FROM (
      SELECT source, shingle, n,
        row_number() OVER (PARTITION BY source ORDER BY n DESC, shingle ASC) AS rk
      FROM (SELECT source, s AS shingle, count(*) AS n FROM (
        SELECT source, unnest(${TextOps.shinglesSql("toks")}) AS s
        FROM (SELECT source, ${TextOps.toksSql} AS toks FROM documents))
      GROUP BY source, s))
    WHERE rk <= $TopNgramsPerSource"""
}
