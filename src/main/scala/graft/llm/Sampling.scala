package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic stratified sampling for corpus rebalancing (SURVEY.md
  * §2.D13): per-language keep rates applied via a content-keyed hash
  * bucket, the standard way a training-data pipeline downsamples
  * over-represented languages.
  *
  * Scale posture: the sampler is a stateless map-side filter — no shuffle,
  * no RNG state, no driver coordination — so it composes with any scan and
  * survives retries/re-partitioning bit-identically (the hash is a pure
  * function of (doc_id, lang), unlike `df.sample`, whose per-partition seed
  * stream changes under repartitioning).
  */
object Sampling {

  /** Percent of docs kept per language; languages absent keep everything.
    * en is over-represented in the corpus (≈44%) → keep 25%; es → 50%.
    */
  val Rates: Seq[(String, Int)] = Seq("en" -> 25, "es" -> 50)
  val DefaultRate = 100

  /** Uniform 0-99 bucket from md5(doc_id:lang) — same formula the oracle
    * recomputes, so the sample set is engine-independent. A null lang
    * hashes as the empty string in BOTH engines (concat_ws would silently
    * drop the separator; '||' would null-propagate — coalesce pins one
    * behavior everywhere).
    */
  def bucket(docId: Column, lang: Column): Column =
    conv(substring(md5(
      concat(docId.cast("string"), lit(":"), coalesce(lang, lit("")))), 1, 6), 16, 10)
      .cast("bigint") % 100

  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val rate = Rates.foldRight(lit(DefaultRate): Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("bucket", bucket(col("doc_id"), col("lang")))
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("bucket"))
  }

  val sampleStratifiedSql: String = {
    val cases = Rates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString(" ")
    s"""SELECT * FROM (
      SELECT doc_id, lang, source, n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || coalesce(lang, '')), 1, 6)
                  AS BIGINT) % 100 AS bucket
      FROM documents) t
    WHERE bucket < (CASE $cases ELSE $DefaultRate END)"""
  }

  /** Max documents kept per source domain (D23) and the salt fan-out of the
    * two-phase exact top-K that enforces it skew-safely.
    */
  val CapPerSource = 10
  val CapSalts = 8

  /** Deterministic priority for "which K docs represent a domain": the
    * content-keyed md5 of the doc id — an unbiased, engine-independent
    * shuffle order (a crawl pipeline would hash the URL).
    */
  private def prio(docId: Column): Column = md5(docId.cast("string").cast("binary"))

  /** D23: per-domain document cap — keep at most CapPerSource docs per
    * source, the standard "limit per domain" curation step. Exact top-K per
    * group via TWO window phases so one mega-domain cannot pin a single
    * reducer at 100 TB: phase 1 ranks within (source, salt) — CapSalts
    * partitions per domain, each ≤ corpus/salts — and keeps K per salt
    * (a superset of the global K); phase 2 ranks the ≤ K·salts survivors
    * per source, a frame bounded by domains×K·salts, not by the corpus.
    * Output rank equals the single-window rank (the spec asserts it).
    */
  def sampleCapDomain(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), prio(col("doc_id")).as("prio"))
    graft.operators.Relational.saltedTopK(docs, Seq(col("source")),
        Seq(col("prio"), col("doc_id")), CapPerSource, col("doc_id") % CapSalts, "rk")
      .select(col("doc_id"), col("source"), col("rk").cast("bigint").as("rk"))
  }
  /** The oracle states the SEMANTICS (one global rank per source); the
    * engine's salted two phases are an equivalent physical plan because
    * per-salt top-K is a superset of the global top-K.
    */
  val sampleCapDomainSql: String =
    s"""SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents) t
    WHERE rk <= $CapPerSource"""

  /** Target corpus mixture by language, in percent of total whitespace
    * tokens. Languages not listed keep everything (cap at 1 — this engine
    * downsamples only; upsampling is a repeat-epoch decision at training
    * time, not a data-pipeline one).
    */
  val MixTargets: Seq[(String, Int)] = Seq(
    "en" -> 30, "es" -> 20, "fr" -> 20, "de" -> 15, "zh" -> 15)

  /** D24: token-weighted mixture rebalancing — compute each language's
    * actual token share, derive the keep rate that hits the target share
    * (capped at 100%), and apply it with the same stateless content-keyed
    * hash filter as D13 (decorrelated via a 'mix:' salt prefix so composing
    * both samplers doesn't keep/drop the same hash slice twice).
    *
    * keep_rate_pct = floor(target_pct · total_tokens / lang_tokens), exact
    * BIGINT arithmetic in both engines — no float shares to diverge on.
    * Scale: two map-side-combinable aggregates bounded by #languages, the
    * rate table broadcast back over the corpus scan. Nothing else shuffles.
    */
  /** Holdout split percentages: buckets [0,90) train, [90,95) val, rest test. */
  val SplitTrainPct = 90
  val SplitValPct = 5

  /** D33: leakage-safe train/val/test holdout split. The naive per-doc
    * random split leaks evaluation data through duplicates: a near-copy of
    * a test doc lands in train and the eval is contaminated. Here the
    * split key is the doc's NEAR-DUP COMPONENT (D19's min-label cluster)
    * when it has one, else its exact-content hash — so every member of a
    * duplicate cluster, and every byte-identical doc, lands in the SAME
    * split by construction. Assignment is the same content-keyed md5
    * bucket sampleStratified uses (deterministic, retry/partitioning-
    * independent, engine-independent).
    *
    * Scale shape: component membership (docs with near-dup edges) joins
    * onto one documents scan with NO hard broadcast hint — on a lightly-
    * duplicated corpus AQE broadcasts it (plan-audited on the adaptive
    * plan), but a heavily-duplicated web crawl can put 30-50% of all docs
    * in components, where an unconditional broadcast would OOM and the
    * doc_id-keyed shuffle join is the right shape. Bucketing and the
    * split label are pure projections either way.
    */
  def splitHoldout(spark: SparkSession, dir: String): DataFrame = {
    val comp = Dedup.dedupComponents(spark, dir)
      .select(col("doc_id"), col("component_id"))
    val key = coalesce(
      concat(lit("c"), col("component_id").cast("string")),
      md5(TextOps.normText(col("text")).cast("binary")))
    val bucket = conv(substring(md5(concat(lit("holdout:"), key)), 1, 6), 16, 10)
      .cast("bigint") % 100
    Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), col("text"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("bucket", bucket)
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < SplitTrainPct, "train")
          .when(col("bucket") < SplitTrainPct + SplitValPct, "val")
          .otherwise("test").as("split"))
  }
  def splitHoldoutSql: String =
    s"""WITH comp AS MATERIALIZED (
      SELECT doc_id, component_id FROM (${Dedup.dedupComponentsSql}) cc),
    keyed AS (
      SELECT d.doc_id,
        CAST('0x' || substr(md5('holdout:' ||
          coalesce('c' || CAST(c.component_id AS VARCHAR),
                   md5(${TextOps.normTextSql}))), 1, 6) AS BIGINT) % 100 AS bucket
      FROM documents d LEFT JOIN comp c USING (doc_id))
    SELECT doc_id, bucket,
      CASE WHEN bucket < $SplitTrainPct THEN 'train'
           WHEN bucket < ${SplitTrainPct + SplitValPct} THEN 'val'
           ELSE 'test' END AS split
    FROM keyed"""

  /** D70 (r8): split-leakage audit — does ANY near-dup relation cross the
    * D33 train/val/test boundary? Per detector family: total links, links
    * whose endpoints land in different splits, and the crossing rate in
    * exact basis points. The split is leakage-safe BY CONSTRUCTION against
    * its own channel (exact dups share a content-hash key; minhash pairs
    * share a component key), so `exact` and `minhash` are POSITIVE
    * CONTROLS that must read 0 — a nonzero value means the split keying
    * itself regressed. `simhash` and `containment` detect similarity the
    * component key never saw (bit-level token permutations; asymmetric
    * coverage), so their crossings are the RESIDUAL eval-contamination a
    * training run actually ships — the number this audit exists to read.
    *
    * Scale shape: every family's link set is candidate-bounded (equality
    * joins on scaling bucket universes — D1-D3/D57's own contracts); the
    * audit joins links to the doc-keyed split frame (shuffle by doc id)
    * and reduces to ONE row per family. Nothing here is quadratic that
    * the underlying detectors aren't already.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val split = splitHoldout(spark, dir)
      .select(col("doc_id"), col("split"))
      .transform(graft.Checkpoints.cp)
    def crossOf(pairs: DataFrame, aCol: String, bCol: String, fam: String) =
      pairs.select(col(aCol).as("da"), col(bCol).as("db"))
        .join(split.select(col("doc_id").as("da"), col("split").as("sa")), Seq("da"))
        .join(split.select(col("doc_id").as("db"), col("split").as("sb")), Seq("db"))
        .agg(count(lit(1)).as("n_links"),
          coalesce(sum(when(col("sa") =!= col("sb"), 1L)), lit(0L)).as("n_cross"))
        .select(lit(fam).as("family"), col("n_links"), col("n_cross"))
    val exact = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(graft.llm.TextOps.normText(col("text")).cast("binary")).as("th"))
      .join(split, Seq("doc_id"))
      .groupBy(col("th"))
      .agg(count(lit(1)).as("n"), countDistinct(col("split")).as("nds"))
      .filter(col("n") > 1)
      .agg(count(lit(1)).as("n_links"),
        coalesce(sum(when(col("nds") > 1, 1L)), lit(0L)).as("n_cross"))
      .select(lit("exact").as("family"), col("n_links"), col("n_cross"))
    exact
      .unionByName(crossOf(Dedup.dedupMinhash(spark, dir), "doc_a", "doc_b", "minhash"))
      .unionByName(crossOf(Dedup.dedupSimhash(spark, dir), "doc_a", "doc_b", "simhash"))
      .unionByName(crossOf(Dedup.dedupContainment(spark, dir),
        "contained_id", "container_id", "containment"))
      .select(col("family"), col("n_links"), col("n_cross"),
        when(col("n_links") === 0, lit(0L))
          .otherwise(expr("(10000 * n_cross) div n_links")).as("cross_bp"))
  }

  /** Oracle: the split CTE is shared; each family's published pair SQL is
    * consumed verbatim as a derived table (so the audit can never drift
    * from the detectors it audits), joined to the split twice.
    */
  def splitLeakageSql: String = {
    def crossSql(pairSql: String, aCol: String, bCol: String, fam: String) =
      s"""(SELECT '$fam' AS family,
        CAST(count(*) AS BIGINT) AS n_links,
        CAST(coalesce(sum(CASE WHEN sa.split <> sb.split THEN 1 END), 0) AS BIGINT) AS n_cross
      FROM ($pairSql) p
      JOIN split sa ON p.$aCol = sa.doc_id
      JOIN split sb ON p.$bCol = sb.doc_id)"""
    s"""WITH split AS MATERIALIZED (SELECT doc_id, split FROM ($splitHoldoutSql) s0),
    raw AS (
      (SELECT 'exact' AS family,
        CAST(count(*) AS BIGINT) AS n_links,
        CAST(coalesce(sum(CASE WHEN nds > 1 THEN 1 END), 0) AS BIGINT) AS n_cross
      FROM (SELECT th, count(*) AS n, count(DISTINCT sp.split) AS nds
            FROM (SELECT doc_id, md5(${graft.llm.TextOps.normTextSql}) AS th
                  FROM documents) d
            JOIN split sp USING (doc_id) GROUP BY th) g
      WHERE n > 1)
      UNION ALL ${crossSql(Dedup.dedupMinhashSql, "doc_a", "doc_b", "minhash")}
      UNION ALL ${crossSql(Dedup.dedupSimhashSql, "doc_a", "doc_b", "simhash")}
      UNION ALL ${crossSql(Dedup.dedupContainmentSql, "contained_id", "container_id", "containment")})
    SELECT family, n_links, n_cross,
      CASE WHEN n_links = 0 THEN 0
           ELSE CAST((10000 * n_cross) // n_links AS BIGINT) END AS cross_bp
    FROM raw"""
  }

  def corpusMixture(spark: SparkSession, dir: String): DataFrame =
    corpusMixtureOf(Tables.documents(spark, dir))

  /** D24 over an arbitrary docs frame (doc_id, lang, text) — the
    * composable form corpus_pipeline feeds with the CLEANED corpus, so
    * mixture rates are computed from the mass the trainer actually
    * samples, not the raw crawl's.
    */
  private[graft] def corpusMixtureOf(docs: DataFrame): DataFrame =
    corpusMixtureOfCounts(docs.select(
      col("doc_id"), col("lang"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("bigint").as("n_ws_tokens")))

  /** D24 over precomputed (doc_id, lang, n_ws_tokens) — the stored-state
    * form the incremental flagship feeds (token counts computed once at
    * ingest; only the bounded rate aggregate reruns per batch). */
  private[graft] def corpusMixtureOfCounts(d: DataFrame): DataFrame = {
    val lt = d.groupBy(col("lang"))
      .agg(sum(col("n_ws_tokens")).as("lang_toks"))
    val tot = lt.agg(sum(col("lang_toks")).as("total_toks"))
    val tp = MixTargets.foldRight(lit(100): Column) {
      case ((l, t), acc) => when(col("lang") === l, lit(t)).otherwise(acc)
    }
    val rates = lt.crossJoin(broadcast(tot))
      .withColumn("target_pct", tp)
      .withColumn("keep_rate_pct",
        least(lit(100L), expr("(target_pct * total_toks) div lang_toks")))
    val bucket = conv(substring(md5(
      concat(lit("mix:"), col("doc_id").cast("string"), lit(":"),
        coalesce(col("lang"), lit("")))), 1, 6), 16, 10)
      .cast("bigint") % 100
    d.join(broadcast(rates.select(col("lang"), col("lang_toks"), col("keep_rate_pct"))),
        Seq("lang"))
      .withColumn("bucket", bucket)
      .filter(col("bucket") < col("keep_rate_pct"))
      .select(col("doc_id"), col("lang"), col("n_ws_tokens"),
        col("lang_toks"), col("keep_rate_pct"), col("bucket"))
  }
  val corpusMixtureSql: String = {
    val cases = MixTargets.map { case (l, t) => s"WHEN lang = '$l' THEN $t" }
      .mkString(" ")
    s"""WITH d AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_ws_tokens
      FROM documents),
    lt AS (SELECT lang, CAST(sum(n_ws_tokens) AS BIGINT) AS lang_toks
           FROM d GROUP BY lang),
    tot AS (SELECT CAST(sum(lang_toks) AS BIGINT) AS total_toks FROM lt),
    rates AS (
      SELECT lang, lang_toks,
             CAST(least(100, ((CASE $cases ELSE 100 END) * total_toks) // lang_toks)
                  AS BIGINT) AS keep_rate_pct
      FROM lt CROSS JOIN tot)
    SELECT doc_id, d.lang, n_ws_tokens, lang_toks, keep_rate_pct,
           CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR) || ':' || coalesce(d.lang, '')), 1, 6)
                AS BIGINT) % 100 AS bucket
    FROM d JOIN rates USING (lang)
    WHERE CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR) || ':' || coalesce(d.lang, '')), 1, 6)
               AS BIGINT) % 100 < keep_rate_pct"""
  }

  /** D66 (r8): realized-mixture audit — the QC row a mixture rebalance is
    * judged by: per language, the tokens the D24 selection actually KEPT,
    * the realized share of the post-selection corpus in exact basis
    * points, the target share (null for untargeted languages, which D24
    * keeps whole), and the deviation. The floor-rate + integer-bucket
    * mechanics mean realized never hits target exactly — this is the
    * operator that says by how much, BEFORE a training run discovers the
    * corpus is 3 points short of its English budget. Shape: one bounded
    * aggregate over D24's output (#languages rows), the 1-row total
    * broadcast back; exact integer arithmetic → hash-checked.
    */
  def mixtureRealized(spark: SparkSession, dir: String): DataFrame = {
    val kept = corpusMixture(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_ws_tokens")).as("kept_toks"))
    val tot = kept.agg(sum(col("kept_toks")).as("total_kept"))
    val target = MixTargets.foldRight(lit(null).cast("bigint"): Column) {
      case ((l, t), acc) => when(col("lang") === l, lit(t.toLong * 100)).otherwise(acc)
    }
    kept.crossJoin(broadcast(tot))
      .withColumn("realized_bp",
        when(col("total_kept") === 0, lit(0L))
          .otherwise(expr("kept_toks * 10000 div total_kept")))
      .withColumn("target_bp", target)
      .withColumn("dev_bp", col("realized_bp") - col("target_bp"))
      .select(col("lang"), col("n_docs"), col("kept_toks"),
        col("realized_bp"), col("target_bp"), col("dev_bp"))
  }
  def mixtureRealizedSql: String = {
    val cases = MixTargets
      .map { case (l, t) => s"WHEN lang = '$l' THEN ${t.toLong * 100}" }
      .mkString(" ")
    s"""WITH sel AS ($corpusMixtureSql),
    kept AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_ws_tokens) AS BIGINT) AS kept_toks
      FROM sel GROUP BY lang),
    tot AS (SELECT CAST(sum(kept_toks) AS BIGINT) AS total_kept FROM kept)
    SELECT lang, n_docs, kept_toks,
      CASE WHEN total_kept = 0 THEN 0
           ELSE kept_toks * 10000 // total_kept END AS realized_bp,
      CAST(CASE $cases ELSE NULL END AS BIGINT) AS target_bp,
      (CASE WHEN total_kept = 0 THEN 0
            ELSE kept_toks * 10000 // total_kept END)
        - CAST(CASE $cases ELSE NULL END AS BIGINT) AS dev_bp
    FROM kept CROSS JOIN tot"""
  }

  /** D52: temperature-flattened source mixing (τ = 2, i.e. √-smoothing —
    * the multilingual-sampling standard of Conneau & Lample 2019, applied
    * by provenance feed): target share q_s ∝ √p_s, so dominant feeds
    * downsample and tail feeds survive WITHOUT the hand-written targets
    * D24 needs. keep_rate_s = min(100%, q_s·T/t_s) = min(100, 100·T/(S·√t_s))
    * with S = Σ_r √t_r.
    *
    * Engineering: √t_s quantizes to e6-scaled integers BEFORE the sum, so
    * S is an order-independent integer sum (a raw double Σ√ would
    * ulp-drift with summation order across engines and flake the floor at
    * rate boundaries — sqrt/mul/div are individually correctly rounded,
    * an unordered double SUM is not); the rate is one exact
    * DECIMAL(38,0) division (HUGEINT in the oracle; 100·T·1e12 fits at
    * any realistic corpus). Zero-token sources fail open at rate 100
    * (no mass signal — and the guard keeps the degenerate EdgeCase
    * corpora division-safe). Doc selection is the same deterministic
    * content-keyed md5 percent bucket as D13/D24. Plan: ONE
    * source-bounded aggregate + the rate table broadcast back over one
    * scan — the corpus is never sorted or self-joined.
    */
  def corpusTemperature(spark: SparkSession, dir: String): DataFrame = {
    // source null-coalesced to '' up front so null-source docs PARTICIPATE
    // in the mass aggregate and the rate join (the fail-open posture —
    // zero-signal sources keep rate 100 — applies to the null source too;
    // an equi-join on raw source would silently drop those docs)
    val d = Tables.documents(spark, dir).select(
      col("doc_id"), coalesce(col("source"), lit("")).as("source"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("bigint").as("n_ws_tokens"))
    val st = d.groupBy(col("source"))
      .agg(sum(col("n_ws_tokens")).as("src_toks"))
      .withColumn("isq",
        floor(sqrt(col("src_toks").cast("double")) * 1e6).cast("bigint"))
    val tot = st.agg(sum(col("src_toks")).as("total_toks"),
      sum(col("isq")).as("sum_isq"))
    val rates = st.crossJoin(broadcast(tot))
      .withColumn("keep_rate_pct",
        when(col("isq") === 0 || col("sum_isq") === 0, lit(100L))
          .otherwise(least(lit(100L), expr(
            "CAST((CAST(100 AS DECIMAL(38,0)) * total_toks * 1000000000000)" +
              " div (CAST(sum_isq AS DECIMAL(38,0)) * isq) AS BIGINT)"))))
    val bucket = conv(substring(md5(
      concat(lit("temp:"), col("doc_id").cast("string"), lit(":"),
        coalesce(col("source"), lit("")))), 1, 6), 16, 10)
      .cast("bigint") % 100
    d.join(broadcast(rates.select(col("source"), col("src_toks"), col("keep_rate_pct"))),
        Seq("source"))
      .withColumn("bucket", bucket)
      .filter(col("bucket") < col("keep_rate_pct"))
      .select(col("doc_id"), col("source"), col("n_ws_tokens"),
        col("src_toks"), col("keep_rate_pct"), col("bucket"))
  }
  val corpusTemperatureSql: String =
    """WITH d AS (
      SELECT doc_id, coalesce(source, '') AS source,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens
      FROM documents),
    st AS (SELECT source, CAST(sum(n_ws_tokens) AS BIGINT) AS src_toks,
                  CAST(floor(sqrt(CAST(sum(n_ws_tokens) AS DOUBLE)) * 1e6) AS BIGINT) AS isq
           FROM d GROUP BY source),
    tot AS (SELECT CAST(sum(src_toks) AS BIGINT) AS total_toks,
                   CAST(sum(isq) AS BIGINT) AS sum_isq FROM st),
    rates AS (
      SELECT source, src_toks,
             CASE WHEN isq = 0 OR sum_isq = 0 THEN 100
                  ELSE least(100, CAST((CAST(100 AS HUGEINT) * total_toks * 1000000000000)
                       // (CAST(sum_isq AS HUGEINT) * isq) AS BIGINT)) END AS keep_rate_pct
      FROM st CROSS JOIN tot)
    SELECT doc_id, d.source, n_ws_tokens, src_toks, keep_rate_pct,
           CAST('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR) || ':' || coalesce(d.source, '')), 1, 6)
                AS BIGINT) % 100 AS bucket
    FROM d JOIN rates USING (source)
    WHERE CAST('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR) || ':' || coalesce(d.source, '')), 1, 6)
               AS BIGINT) % 100 < keep_rate_pct"""

  /** Training-token budget as a multiple of the corpus's total tokens, and
    * the per-source repetition cap in e2 fixed point (4.00 epochs — the
    * "up to ~4 epochs repeats are nearly as good as fresh data" regime of
    * Muennighoff et al. 2023, Data-Constrained Language Models).
    */
  val EpochBudgetMult = 2L
  val EpochCapE2 = 400L

  /** D55: data-constrained epoch schedule — D52's complement for the case
    * where the budget EXCEEDS the corpus instead of undershooting it:
    * given a training budget of EpochBudgetMult × total tokens, how many
    * times does each provenance feed repeat? Target tokens per source
    * follow the same √-mass share as D52 (tail feeds get proportionally
    * MORE repeats, dominant feeds fewer — temperature flattening applied
    * to repetition instead of downsampling), capped at EpochCapE2/100
    * epochs; the report carries each feed's effective token contribution
    * and the deficit the cap leaves unfilled — the number a mixture owner
    * re-allocates by hand.
    *
    * All integer arithmetic on the same e6-quantized √ masses as D52 (an
    * order-independent integer sum; one exact DECIMAL(38,0)/HUGEINT
    * division per source), so the schedule is bit-identical across
    * engines. Zero-token sources take 0 epochs (nothing to repeat — the
    * div-guard case). Plan: ONE source-bounded aggregate + a 1-row total
    * cross-joined back — output is |sources| rows, nothing corpus-sized
    * shuffles.
    */
  def mixtureEpochs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      coalesce(col("source"), lit("")).as("source"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("bigint").as("n_ws_tokens"))
    val st = d.groupBy(col("source"))
      .agg(sum(col("n_ws_tokens")).as("src_toks"))
      .withColumn("isq",
        floor(sqrt(col("src_toks").cast("double")) * 1e6).cast("bigint"))
    val tot = st.agg(sum(col("src_toks")).as("total_toks"),
      sum(col("isq")).as("sum_isq"))
    st.crossJoin(broadcast(tot))
      .withColumn("target_toks",
        when(col("sum_isq") === 0, lit(0L)).otherwise(expr(
          s"CAST((CAST($EpochBudgetMult AS DECIMAL(38,0)) * total_toks * isq)" +
            " div CAST(sum_isq AS DECIMAL(38,0)) AS BIGINT)")))
      .withColumn("epochs_e2",
        when(col("src_toks") === 0, lit(0L))
          .otherwise(least(lit(EpochCapE2),
            expr("(100 * target_toks) div src_toks"))))
      .withColumn("effective_toks", expr("(epochs_e2 * src_toks) div 100"))
      .withColumn("deficit_toks",
        greatest(lit(0L), col("target_toks") - col("effective_toks")))
      .select(col("source"), col("src_toks"), col("target_toks"),
        col("epochs_e2"), col("effective_toks"), col("deficit_toks"))
  }

  val mixtureEpochsSql: String =
    s"""WITH d AS (
      SELECT coalesce(source, '') AS source,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_ws_tokens
      FROM documents),
    st AS (SELECT source, CAST(sum(n_ws_tokens) AS BIGINT) AS src_toks,
                  CAST(floor(sqrt(CAST(sum(n_ws_tokens) AS DOUBLE)) * 1e6) AS BIGINT) AS isq
           FROM d GROUP BY source),
    tot AS (SELECT CAST(sum(src_toks) AS BIGINT) AS total_toks,
                   CAST(sum(isq) AS BIGINT) AS sum_isq FROM st),
    sched AS (
      SELECT source, src_toks,
             CASE WHEN sum_isq = 0 THEN 0
                  ELSE CAST((CAST($EpochBudgetMult AS HUGEINT) * total_toks * isq)
                            // CAST(sum_isq AS HUGEINT) AS BIGINT) END AS target_toks
      FROM st CROSS JOIN tot)
    SELECT source, src_toks, target_toks,
           CASE WHEN src_toks = 0 THEN 0
                ELSE least($EpochCapE2, (100 * target_toks) // src_toks) END AS epochs_e2,
           (CASE WHEN src_toks = 0 THEN 0
                 ELSE least($EpochCapE2, (100 * target_toks) // src_toks) END
             * src_toks) // 100 AS effective_toks,
           greatest(0, target_toks -
             (CASE WHEN src_toks = 0 THEN 0
                   ELSE least($EpochCapE2, (100 * target_toks) // src_toks) END
               * src_toks) // 100) AS deficit_toks
    FROM sched"""

  val ExactSampleN = 200

  /** D39: exact-N uniform sample WITHOUT replacement and WITHOUT a global
    * sort — rank every doc by a content-keyed md5 draw and take the N
    * smallest. The draw is a pure function of doc_id, so the sample is
    * retry/partitioning/engine independent (a re-run or a different
    * engine picks the identical N docs — rate-based D13 can't promise an
    * exact count; df.sample can't promise determinism). orderBy+limit
    * plans as TakeOrderedAndProject: per-partition top-N, only
    * N·partitions rows leave the scan — no full-corpus exchange
    * (plan-audited, same contract as D29).
    */
  def sampleExactN(spark: SparkSession, dir: String): DataFrame =
    Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), col("lang"), col("source"),
        md5(concat(lit("exact:"), col("doc_id").cast("string"))).as("draw"))
      .orderBy(col("draw").asc, col("doc_id").asc)
      .limit(ExactSampleN)

  val sampleExactNSql: String =
    s"""SELECT doc_id, lang, source,
         md5('exact:' || CAST(doc_id AS VARCHAR)) AS draw
       FROM documents
       ORDER BY draw ASC, doc_id ASC LIMIT $ExactSampleN"""

  /** Hashed-feature bucket count for the importance weights (DSIR-style):
    * small enough that the per-bucket weight table is a driver literal,
    * large enough that distinct word features spread usefully.
    */
  val DsirBuckets = 128
  val DsirNano = 1000000000L

  /** D40: data-selection importance weights (the DSIR recipe, Xie et al.
    * 2023): score every corpus doc by how much its hashed-feature
    * distribution looks like a TARGET subcorpus (here the `en` slice
    * stands in for the curated target domain), so selection can sample
    * ∝ weight instead of filtering by hand-tuned rules.
    *
    * Shape: word features hash into $DsirBuckets buckets; the target and
    * raw feature distributions are TWO bucket-bounded aggregates (≤128
    * rows each — reduced to the driver like D32's bigram table, never fact
    * rows); per-bucket add-1 likelihood ratios bake into an array literal
    * in exact BigInt nano-units ((ct+1)·(totRaw+B)·1e9 div
    * ((cr+1)·(totTarget+B)) — the oracle recomputes the identical integer
    * formula in HUGEINT); scoring is then a zero-shuffle map-only fold of
    * each doc's token buckets over the literal. Deliberately LOG-FREE for
    * the same reason as D32: the exported contract is the RANKING
    * (sample-∝-weight / top-fraction cut), and the ratio-mean is monotone
    * with the log-ratio-mean for docs dominated by typical features while
    * staying bit-identical across engines where ln() ulp drift would flake
    * the hash gate.
    */
  /** The DSIR feature hash: token → one of DsirBuckets buckets via the
    * engine's md5-prefix integerization. Shared by D40's importance
    * weighting and the D87 text-feature classifier (Classify
    * .featurizedText) — one hash, one oracle mirror.
    */
  private[graft] def dsirBucket(tok: Column): Column =
    conv(substring(md5(tok.cast("binary")), 1, 6), 16, 10)
      .cast("bigint") % DsirBuckets

  def importanceWeights(spark: SparkSession, dir: String): DataFrame = {
    val b = DsirBuckets
    def bucketOf(tok: Column): Column = dsirBucket(tok)
    val docs = Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), col("lang"), TextOps.toks(col("text")).as("toks"))
      // same load-bearing barrier as Dedup.docsWithToks: the bucket lambda
      // must see a bound token array, not the inlined tokenizer
      .transform(graft.Checkpoints.cp)
    val feats = docs.select(col("lang"), explode(col("toks")).as("tok"))
      .select(col("lang"), bucketOf(col("tok")).as("b"))
    // two bucket-bounded aggregates → driver (≤ B rows, like a broadcast dim)
    val rows = feats.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    val totR = rows.valuesIterator.map(_._1).sum
    val totT = rows.valuesIterator.map(_._2).sum
    def wNano(i: Int): Long = {
      val (cr, ct) = rows.getOrElse(i, (0L, 0L))
      ((BigInt(ct) + 1) * (BigInt(totR) + b) * DsirNano /
        ((BigInt(cr) + 1) * (BigInt(totT) + b))).toLong
    }
    val wLit = typedLit((0 until b).map(wNano))
    val n = size(col("toks"))
    val sumW = aggregate(col("toks"), lit(0L),
      (acc, t) => acc + element_at(wLit, bucketOf(t).cast("int") + 1))
    docs.select(col("doc_id"),
      n.cast("bigint").as("n_tokens"),
      when(n > 0, sumW).otherwise(0L).as("w_sum_nano"),
      when(n > 0, sumW.cast("double") / n).otherwise(0.0).as("affinity"))
  }
  /** D40b: importance RESAMPLING — the selection step D40's weights feed
    * (DSIR's "sample ∝ importance weight"): keep each doc with probability
    * min(1, affinity-ratio), decided by the same deterministic
    * content-keyed md5 draw as D13 — retry/partitioning/engine
    * independent, no RNG state. Docs scoring at or above the raw-corpus
    * mean (ratio ≥ 1) always survive; below-mean docs survive
    * proportionally, so the kept corpus's feature mix shifts toward the
    * target domain in one pass. Keep probability in exact integer basis
    * points via DECIMAL(38,0) (w_sum·10⁴ overflows BIGINT); zero-token
    * docs carry p=0 and drop. Composes D40 unchanged — one extra
    * projection + filter over the scored frame.
    */
  def importanceSample(spark: SparkSession, dir: String): DataFrame = {
    val pBp = expr(
      s"CAST(w_sum_nano AS DECIMAL(38,0)) * 10000 div " +
        s"(CAST(n_tokens AS DECIMAL(38,0)) * $DsirNano)")
    val draw = conv(substring(md5(
        concat(lit("imp:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
      .cast("bigint") % 10000
    importanceWeights(spark, dir)
      .withColumn("p_bp", when(col("n_tokens") > 0, least(lit(10000L), pBp))
        .otherwise(0L))
      .withColumn("draw", draw)
      .filter(col("draw") < col("p_bp"))
      .select(col("doc_id"), col("n_tokens"), col("w_sum_nano"),
        col("p_bp"), col("draw"))
  }
  val importanceWeightsSql: String =
    s"""WITH t AS (SELECT doc_id, lang, ${graft.llm.TextOps.toksSql} AS toks
         FROM documents),
    f AS (SELECT doc_id, lang,
        CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % $DsirBuckets AS b
      FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM t)),
    cnt AS (SELECT b, CAST(count(*) AS HUGEINT) AS cr,
        CAST(count(*) FILTER (WHERE lang = 'en') AS HUGEINT) AS ct
      FROM f GROUP BY b),
    tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM cnt),
    w AS (SELECT b,
        CAST((ct + 1) * (tr + $DsirBuckets) * $DsirNano
          // ((cr + 1) * (tt + $DsirBuckets)) AS BIGINT) AS wn
      FROM cnt, tot),
    per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(wn) AS BIGINT) AS sw
      FROM f JOIN w USING (b) GROUP BY doc_id)
    SELECT t.doc_id, coalesce(per.n, 0) AS n_tokens,
      coalesce(per.sw, 0) AS w_sum_nano,
      CASE WHEN coalesce(per.n, 0) > 0
        THEN CAST(per.sw AS DOUBLE) / per.n ELSE 0.0 END AS affinity
    FROM t LEFT JOIN per USING (doc_id)"""

  val importanceSampleSql: String =
    s"""WITH iw AS ($importanceWeightsSql),
    scored AS (
      SELECT doc_id, n_tokens, w_sum_nano,
        CASE WHEN n_tokens > 0
          THEN least(10000, CAST(CAST(w_sum_nano AS HUGEINT) * 10000
                 // (CAST(n_tokens AS HUGEINT) * $DsirNano) AS BIGINT))
          ELSE 0 END AS p_bp,
        CAST(('0x' || substr(md5('imp:' || CAST(doc_id AS VARCHAR)), 1, 6))
          AS BIGINT) % 10000 AS draw
      FROM iw)
    SELECT doc_id, n_tokens, w_sum_nano, p_bp, draw
    FROM scored WHERE draw < p_bp"""

  /** Hedge step size for D93 in hundredths (100 = η 1.0) — a query-time
    * lever like the mixture targets, never part of a stored layout.
    */
  def DoremiEtaE2: Int = {
    val e = graft.GraftConfig.int("graft.doremi.etaE2", 100)
    // upper bound keeps η·excess_e9 inside the long product headroom the
    // raw-update operands are sized for (η ≤ 10⁶ ⇒ η·excess ≤ 10¹⁵); the
    // update itself runs in DECIMAL(38,0)/HUGEINT regardless, so the bound
    // is belt-and-braces, not the exactness guarantee
    require(e >= 0 && e <= 1000000,
      s"graft.doremi.etaE2 must be in [0, 1000000], got $e")
    e
  }

  /** Hedge iteration count for D93 (the published DoReMi iterate is T
    * rounds of the multiplicative-weights update with renormalization
    * between — Xie et al. run it to convergence; the D75 `graft.logreg.
    * iters` pattern). Each round multiplies the CURRENT normalized weight
    * by the linearized hedge factor and renormalizes to exact basis
    * points, so iters=1 reproduces the single-update form bit-for-bit.
    */
  def DoremiIters: Int = {
    val t = graft.GraftConfig.int("graft.doremi.iters", 1)
    require(t >= 1 && t <= 64, s"graft.doremi.iters must be in [1,64], got $t")
    t
  }

  /** D93: DoReMi-style domain reweighting (Xie et al., NeurIPS 2023) — one
    * multiplicative-weights (hedge) update of the per-SOURCE mixture from
    * per-domain excess loss, the published remedy for "uniform or
    * token-proportional mixtures over-train easy domains". The engine form
    * is exact-integer end to end (the transcendental-free discipline):
    *
    *   proxy loss  : the D32 corpus-trained bigram LM — a domain whose
    *                 mean per-bigram typicality (e9) sits BELOW the corpus
    *                 mean is "harder" for the reference model, which is
    *                 precisely the signal DoReMi's excess loss carries;
    *   excess_e9   = max(0, corpus_typ_e9 − domain_typ_e9);
    *   update      = base_bp · (1e9 + (η·excess_e9) div 100) — the hedge
    *                 exp(η·excess) LINEARIZED (exact for the small
    *                 per-step excess the algorithm is run at; the
    *                 published iterate is a sequence of such small steps),
    *                 η from `graft.doremi.etaE2`;
    *   doremi_bp   = the update renormalized to exact basis points.
    *
    * Baseline weights are the domains' bigram-mass shares (the token
    * measure the LM itself is trained on). Shape: lmDocSums carries
    * `source` through its per-doc projection (no second corpus join), one
    * #sources-bounded aggregate, two 1-row broadcasts back — the
    * mixture_realized class. Long-sum exactness bound: Σ sp ≲ 9e18 ⇒
    * ~9e9 bigrams (the qualityLmAgreement bound); share products run in
    * DECIMAL(38,0)/HUGEINT past it.
    */
  def mixtureDoremi(spark: SparkSession, dir: String): DataFrame =
    mixtureDoremiOf(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  private[graft] def mixtureDoremiOf(docs: DataFrame): DataFrame = {
    val perSrc = TextOps.lmDocSums(
        docs.select(col("doc_id"), col("source"), col("text")), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("sp")).as("sp"))
    val tot = perSrc.agg(sum(col("n_bigrams")).as("tb"), sum(col("sp")).as("tsp"))
    val w = perSrc.crossJoin(broadcast(tot))
      .withColumn("typ_e9",
        expr("case when n_bigrams > 0 then sp div n_bigrams else cast(0 as bigint) end"))
      .withColumn("excess_e9",
        greatest(
          expr("case when tb > 0 then tsp div tb else cast(0 as bigint) end")
            - col("typ_e9"),
          lit(0L)))
      .withColumn("base_bp",
        expr("case when tb > 0 then (cast(n_bigrams as decimal(38,0)) * 10000) div tb else cast(0 as bigint) end"))
    // T hedge rounds (DoremiIters): w_bp⁰ = base_bp; each round multiplies
    // the CURRENT normalized weight by the linearized factor and
    // renormalizes to exact basis points. The raw product runs in
    // DECIMAL(38,0) (the covar-wide discipline — w_bp ≤ 10⁴ and the factor
    // ≤ 10⁹ + η·excess/100 ≤ ~10¹³, so the long form was one config away
    // from silent wrap), and the frame is #sources-bounded, so the loop is
    // T tiny aggregates + T broadcast renormalizations — never a corpus
    // pass (the LM scan above happens once).
    val iterated = (1 to DoremiIters).foldLeft(
      w.withColumn("w_bp", col("base_bp"))) { (cur, _) =>
      val raw = cur.withColumn("w_raw",
        expr(s"cast(w_bp as decimal(38,0)) * " +
          s"(1000000000 + ($DoremiEtaE2 * excess_e9) div 100)"))
      val ws = raw.agg(
        coalesce(sum(col("w_raw")), lit(java.math.BigDecimal.ZERO)
          .cast("decimal(38,0)")).as("wsum"))
      raw.crossJoin(broadcast(ws))
        .withColumn("w_bp",
          expr("case when wsum > 0 then cast((w_raw * 10000) div wsum as bigint) " +
            "else cast(0 as bigint) end"))
        .drop("w_raw", "wsum")
    }
    iterated.select(col("source"), col("n_docs"), col("n_bigrams"),
      col("typ_e9"), col("excess_e9"), col("base_bp"),
      col("w_bp").as("doremi_bp"))
  }

  def mixtureDoremiSql: String = {
    val v2 = TextOps.LmAlphabetSize * TextOps.LmAlphabetSize
    s"""WITH t AS (SELECT doc_id, source, ${TextOps.lmNormSql} AS s FROM documents),
    bg AS (SELECT doc_id, unnest(${TextOps.lmBigramsSql("s")}) AS b FROM t),
    cnt AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
    tot AS (SELECT coalesce(sum(c), 0) AS tc FROM cnt),
    probs AS (SELECT b,
        CAST((CAST(c AS HUGEINT) + 1) * ${TextOps.LmNano} // (tc + $v2) AS BIGINT) AS p
      FROM cnt, tot),
    persum AS (
      SELECT doc_id, count(*) AS n, sum(p) AS sp
      FROM bg JOIN probs USING (b) GROUP BY doc_id),
    perdoc AS (
      SELECT t.doc_id, t.source, coalesce(n, 0) AS n, coalesce(sp, 0) AS sp
      FROM t LEFT JOIN persum USING (doc_id)),
    src AS (
      SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_bigrams,
             CAST(sum(sp) AS BIGINT) AS sp
      FROM perdoc GROUP BY source),
    tt AS (SELECT CAST(sum(n_bigrams) AS BIGINT) AS tb,
                  CAST(sum(sp) AS BIGINT) AS tsp FROM src),
    w AS (
      SELECT source, n_docs, n_bigrams,
             CASE WHEN n_bigrams > 0 THEN sp // n_bigrams ELSE 0 END AS typ_e9,
             greatest((CASE WHEN tb > 0 THEN tsp // tb ELSE 0 END)
               - (CASE WHEN n_bigrams > 0 THEN sp // n_bigrams ELSE 0 END), 0)
               AS excess_e9,
             CASE WHEN tb > 0
               THEN CAST((CAST(n_bigrams AS HUGEINT) * 10000) // tb AS BIGINT)
               ELSE 0 END AS base_bp
      FROM src, tt),
    wb0 AS (SELECT *, base_bp AS w_bp FROM w),
    ${(1 to DoremiIters).map { i =>
      s"""wr$i AS (SELECT *, CAST(w_bp AS HUGEINT)
           * (1000000000 + ($DoremiEtaE2 * excess_e9) // 100) AS w_raw
         FROM wb${i - 1}),
    wb$i AS (SELECT source, n_docs, n_bigrams, typ_e9, excess_e9, base_bp,
           CASE WHEN s.ws > 0 THEN (w_raw * 10000) // s.ws ELSE 0 END AS w_bp
         FROM wr$i, (SELECT coalesce(sum(w_raw), 0) AS ws FROM wr$i) s)"""
    }.mkString(",\n    ")}
    SELECT source, n_docs, n_bigrams, CAST(typ_e9 AS BIGINT) AS typ_e9,
           CAST(excess_e9 AS BIGINT) AS excess_e9,
           CAST(base_bp AS BIGINT) AS base_bp,
           CAST(w_bp AS BIGINT) AS doremi_bp
    FROM wb$DoremiIters"""
  }
}
