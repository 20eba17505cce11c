package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for LLM training data (SURVEY.md §2.D, D1-D5).
  *
  * Scale design: every near-dup variant avoids the O(n²) all-pairs join —
  * candidate pairs come from equality joins on bounded-size buckets
  * (minhash band hash, simhash block-combo key, shared shingle hash), which at
  * 100 TB means one shuffle keyed by bucket and pair generation only inside
  * buckets. Hash functions are md5-based so the DuckDB oracle verifies real
  * signatures, not just row counts (SURVEY.md §4).
  */
object Dedup {

  val NumHashes = 16
  val Bands = 4 // 4 rows per band

  /** Memo key for the shared toks/shingles barriers: a composed query
    * (corpus_clean = components + decontaminate + …) would otherwise
    * rebuild them once per consumer, each a full documents scan plus a
    * materialize job. The frames are pure functions of the documents file
    * content, hence the fingerprint.
    */
  private def memoKey(spark: SparkSession, dir: String, frame: String) =
    (frame, spark, dir,
      graft.sources.BucketedSink.contentFingerprint(Seq(s"$dir/documents.parquet")))

  /** Tokenized docs, spread across all cores when the scan arrives narrow:
    * signature computation is CPU-bound per row, so a single-file local scan
    * must be repartitioned to keep every core busy — but a cluster-scale
    * corpus already arrives as many splits and the spread is skipped.
    */
  private[llm] def docsWithToks(spark: SparkSession, dir: String): DataFrame =
    graft.Checkpoints.memo(memoKey(spark, dir, "toks"))(
      Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
        .select(col("doc_id"), TextOps.toks(col("text")).as("toks"))
        // Load-bearing barrier: Catalyst's project collapsing would inline the
        // tokenizer expression into every element_at of the downstream
        // shingle/signature lambdas, re-running the regexp once per ELEMENT
        // access (observed ~2000× per row). Materializing the token arrays
        // makes the lambdas see bound references.
        .transform(graft.Checkpoints.cp))

  /** Docs + materialized word-3-gram shingles (same barrier rationale). */
  private def docsWithShingles(spark: SparkSession, dir: String): DataFrame =
    graft.Checkpoints.memo(memoKey(spark, dir, "shingles"))(
      docsWithToks(spark, dir)
        .withColumn("shingles", TextOps.shingles(col("toks")))
        .transform(graft.Checkpoints.cp))

  /** D1: exact dedup via normalized-text hash. Map-side-combinable groupBy;
    * keeper = min doc id per content hash.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(TextOps.normText(col("text")).cast("binary")).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_dups"))
  val dedupExactSql: String =
    s"""SELECT text_hash, min(doc_id) AS keeper_id, count(*) AS n_dups
    FROM (SELECT doc_id, md5(${TextOps.normTextSql}) AS text_hash FROM documents)
    GROUP BY text_hash"""

  /** Code-time md5 hex (seeds + any baked-in constants — mirrors
    * Ann.planeSign's construction).
    */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Per-component xor seeds, code-time deterministic (60-bit so the
    * xor'd values stay positive BIGINTs in both engines).
    */
  val Seeds: Seq[Long] =
    (1 to NumHashes).map(j => java.lang.Long.parseLong(md5Hex(s"seed:$j").take(15), 16))

  /** 60-bit integer hash of one shingle — ONE digest per shingle; the 16
    * signature components are seeded xors of it (the standard one-hash
    * minhash construction: h_j(s) = min over shingles of md5_60(s) XOR
    * seed_j). Hashing cost is 1 digest/shingle instead of NumHashes
    * digests/shingle — at 100 TB signature computation is the dominant
    * dedup cost and this is a flat 16× cut. The oracle bakes the same
    * seeds, so signatures stay exactly hash-checked.
    */
  private def shingleHash(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("bigint")
  private def shingleHashSql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  private def minhashSigSql: Seq[String] =
    Seeds.map(seed => s"list_min(list_transform(hs, h -> xor(h, CAST($seed AS BIGINT))))")

  /** Docs with ≥3 tokens get a 16-component minhash signature + 4 band keys. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    // Fence the per-shingle hashes (r14; was an eager cp): without the
    // barrier, project collapsing would inline the md5 transform into all
    // 16 component lambdas and re-digest every shingle 16× (see
    // docsWithToks) — but this is a single linear consumer chain (hs →
    // sig → bands), so the projection fence gives the same binding
    // without the materialize job every minhash consumer was paying.
    val withHs = graft.plans.Fence(docsWithShingles(spark, dir)
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), transform(col("shingles"), s => shingleHash(s)).as("hs")))
    val withSig = withHs.select(col("doc_id"),
      array(Seeds.map(seed =>
        array_min(transform(col("hs"), h => h.bitwiseXOR(lit(seed))))): _*).as("sig"))
    val bandCols = (0 until Bands).map { b =>
      val parts = (1 to NumHashes / Bands).map(r =>
        element_at(col("sig"), b * (NumHashes / Bands) + r).cast("string"))
      struct(lit(b).as("band_idx"), md5(concat_ws(",", parts: _*).cast("binary")).as("band_hash"))
    }
    withSig.withColumn("band", explode(array(bandCols: _*)))
      .select(col("doc_id"), col("sig"), col("band.band_idx"), col("band.band_hash"))
  }

  /** Signature + band rows for an ARBITRARY docs frame — the streaming-safe
    * twin of minhashSignatures: identical expressions (so band hashes and
    * signatures are byte-equal to the stored index's), but the barriers are
    * `plans.Fence` instead of materializing checkpoints, because a
    * checkpoint cannot run inside a streaming micro-batch plan while the
    * fence is a plain unary node the incremental planner passes through.
    * The fences pin toks and the per-shingle digests to one evaluation per
    * row — same blowup guard as the batch path, zero cost. Non-key columns
    * (e.g. an event-time column) pass through untouched.
    */
  private[graft] def sigBandsOf(docs: DataFrame): DataFrame = {
    val withHs = graft.plans.Fence(
      graft.plans.Fence(docs.withColumn("toks", TextOps.toks(col("text"))))
        .withColumn("shingles", TextOps.shingles(col("toks")))
        .filter(size(col("shingles")) > 0)
        .withColumn("hs", transform(col("shingles"), s => shingleHash(s)))
        .drop("text", "toks", "shingles"))
    val withSig = withHs.withColumn("sig",
      array(Seeds.map(seed =>
        array_min(transform(col("hs"), h => h.bitwiseXOR(lit(seed))))): _*))
      .drop("hs")
    val bandCols = (0 until Bands).map { b =>
      val parts = (1 to NumHashes / Bands).map(r =>
        element_at(col("sig"), b * (NumHashes / Bands) + r).cast("string"))
      struct(lit(b).as("band_idx"), md5(concat_ws(",", parts: _*).cast("binary")).as("band_hash"))
    }
    withSig.withColumn("band", explode(array(bandCols: _*)))
      .withColumn("band_idx", col("band.band_idx"))
      .withColumn("band_hash", col("band.band_hash"))
      .drop("band")
  }

  /** Signature-agreement estimate (matching component fraction) between
    * two minhash signature arrays — THE similarity every minhash consumer
    * thresholds at 0.5. One definition: dedup_minhash, the persisted-index
    * probe/self-join, and the streaming ingest probe must stay
    * byte-identical or the index-served pair sets silently desync from the
    * recompute oracle.
    */
  private[graft] def sigAgreement(sigA: Column, sigB: Column): Column =
    (1 to NumHashes).map(j =>
      when(element_at(sigA, j) === element_at(sigB, j), 1).otherwise(0))
      .reduce(_ + _).cast("double") / NumHashes

  /** D2: MinHash+LSH near-dup candidate pairs: equality-join on
    * (band_idx, band_hash) buckets; est_sim = matching signature fraction.
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    // materialize signatures once: both sides of the bucket self-join (and
    // AQE's broadcast probes) reuse the computed partitions instead of
    // re-deriving the hash pipeline per reference
    pairsOfSignatures(minhashSignatures(spark, dir).transform(graft.Checkpoints.cp))

  /** D2's banded pair generation over an explicit signature frame —
    * shared by the full-corpus query and the incremental flagship's
    * batch-batch quadrant. */
  private[graft] def pairsOfSignatures(b: DataFrame): DataFrame = {
    val a = b.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
      col("band_idx"), col("band_hash"))
    val c = b.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
      col("band_idx"), col("band_hash"))
    val est = sigAgreement(col("sig_a"), col("sig_b"))
    a.join(c, Seq("band_idx", "band_hash")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), est.as("est_sim"))
      .filter(col("est_sim") >= 0.5)
      .distinct()
  }
  /** Shared CTE preamble: shingle hashes → signatures → band rows. */
  private def sigBandsCtes: String = {
    val sigs = minhashSigSql.zipWithIndex
      .map { case (e, i) => s"$e AS h${i + 1}" }.mkString(",\n        ")
    val bandRows = (0 until Bands).map { b =>
      val parts = (1 to NumHashes / Bands)
        .map(r => s"CAST(h${b * (NumHashes / Bands) + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT *, $b AS band_idx, md5($parts) AS band_hash FROM sigs"
    }.mkString("\n      UNION ALL ")
    s"""hs0 AS (
      SELECT doc_id, list_transform(${TextOps.shinglesSql("toks")}, s -> ${shingleHashSql("s")}) AS hs
      FROM (SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents)
      WHERE len(toks) >= 3),
    sigs AS MATERIALIZED (SELECT doc_id, $sigs FROM hs0),
    bands AS MATERIALIZED ($bandRows)"""
  }
  private def estSql: String = {
    val est = (1 to NumHashes).map(j =>
      s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END").mkString(" + ")
    s"CAST($est AS DOUBLE) / $NumHashes"
  }

  def dedupMinhashSql: String =
    s"""WITH $sigBandsCtes
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           $estSql AS est_sim
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    WHERE $estSql >= 0.5"""

  /** D68 (r8): minhash candidates with an EXACT Jaccard confirm — the
    * estimate-then-verify composition a production near-dedup actually
    * ships (Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" runs exactly this two-phase shape): D2's banded
    * signature agreement is a 16-component ESTIMATE whose ±1/16
    * granularity both admits false positives at the 0.5 threshold and
    * drops borderline true pairs into the output with wrong similarity
    * values; this operator recomputes the true shingle-set Jaccard on the
    * CANDIDATES ONLY and keeps pairs at exact J ≥ 0.5, emitting both
    * numbers (the est-vs-exact gap is itself the signature-quality
    * diagnostic). Cost shape: the confirm joins the per-doc distinct
    * shingle-hash arrays onto the candidate frame — bounded by
    * |candidates|, never corpus² — and the arrays come from the SAME
    * checkpointed shingle scan the signatures used. Contract: run after
    * D1 (byte-identical copies share every band).
    */
  def dedupMinhashVerified(spark: SparkSession, dir: String): DataFrame = {
    val cand = dedupMinhash(spark, dir)
    val hsets = docsWithShingles(spark, dir)
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"),
        array_distinct(transform(col("shingles"), s => md5(s.cast("binary"))))
          .as("hs"))
      .withColumn("n_sh", size(col("hs")).cast("bigint"))
      .transform(graft.Checkpoints.cp)
    cand
      .join(hsets.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("n_sh").as("n_a")), Seq("doc_a"))
      .join(hsets.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
        col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("bigint"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("est_sim"),
        graft.functions.roundScaled(col("jaccard"), 4).as("jaccard"))
  }
  def dedupMinhashVerifiedSql: String =
    s"""WITH cand AS ($dedupMinhashSql),
    hsets AS (
      SELECT doc_id,
             list_distinct(list_transform(${TextOps.shinglesSql("toks")}, s -> md5(s))) AS hs
      FROM (SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents)
      WHERE len(${TextOps.shinglesSql("toks")}) > 0),
    joined AS (
      SELECT c.doc_a, c.doc_b, c.est_sim,
             CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
             CAST(len(a.hs) AS BIGINT) AS n_a, CAST(len(b.hs) AS BIGINT) AS n_b
      FROM cand c
      JOIN hsets a ON a.doc_id = c.doc_a
      JOIN hsets b ON b.doc_id = c.doc_b)
    SELECT doc_a, doc_b, est_sim,
           round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4) AS jaccard
    FROM joined
    WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.5"""

  /** 64-bit simhash over a pre-materialized token-word list column `ws`
    * (each element = [lo32, hi32] of the token's md5-derived 64-bit hash):
    * bit j (0..63) is set iff the weighted token vote Σ(±1) on bit j of
    * the token hashes is positive. Word 0 carries bits 0..31, word 1 bits
    * 32..63; summing disjoint powers of two is carry-free, so the signed
    * BIGINT sum IS the 64-bit pattern (bit 63's term is Long.MinValue).
    */
  def simhash64FromWords(ws: Column): Column =
    (0 until 64).map { j =>
      val word = j / 32 + 1 // element_at is 1-based
      val bit = j % 32
      val vote = aggregate(ws, lit(0), (acc, e) =>
        acc + when(shiftright(element_at(e, word), bit).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Per-token [lo32, hi32] words from an md5-hex list column — the two
    * 32-bit halves of the hash's first 16 hex digits, parsed as longs so
    * the 64 bit votes run on integer ops, not substring scans.
    */
  def simhashWords(hexes: Column): Column =
    transform(hexes, h => array(
      conv(substring(h, 1, 8), 16, 10).cast("long"),
      conv(substring(h, 9, 8), 16, 10).cast("long")))

  /** 64-bit simhash of a token-list column (test/utility entry — the
    * operator pipeline materializes hexes and words as bound columns).
    */
  def simhash(t: Column): Column =
    simhash64FromWords(simhashWords(transform(t, x => md5(x.cast("binary")))))

  /** DuckDB mirror of `simhash64FromWords` over a `ws` list column. */
  def simhashSqlOverWords: String = {
    val bits = (0 until 64).map { j =>
      val word = j / 32 + 1
      val bit = j % 32
      // DuckDB rejects 1::BIGINT << 63 (overflow); the top bit's term is
      // the min-long literal, same two's-complement pattern Spark sums
      val pow = if (j == 63) "(-9223372036854775807 - 1)" else s"(CAST(1 AS BIGINT) << $j)"
      s"""CASE WHEN list_sum(list_transform(ws, w ->
        CASE WHEN ((w[$word] >> $bit) & 1) = 1 THEN 1 ELSE -1 END)) > 0
        THEN $pow ELSE 0 END"""
    }.mkString(" + ")
    s"CAST($bits AS BIGINT)"
  }

  /** Block count b for the Manku-style simhash blocking (g = b − SimhashK
    * blocks must agree). `graft.simhash.blocks` is the scale lever: the
    * combo key is (b−6)·(64/b) bits wide, so raising b grows the bucket
    * universe exponentially (b=8 → 2^16 keys, b=10 → ~2^25, b=12 → ~2^32)
    * at the price of C(b,6) candidate rows per doc (28 / 210 / 924) —
    * choose b so per-bucket occupancy n·C(b,6)/2^keybits stays bounded.
    */
  val SimhashK = 6
  def simhashBlocks: Int = {
    val b = graft.GraftConfig.int("graft.simhash.blocks", 8)
    require(b > SimhashK && b <= 16, s"graft.simhash.blocks must be in [7,16], got $b")
    b
  }

  /** LSB-first (offset, width) layout of b contiguous blocks over 64 bits
    * (widths differ by at most 1: 64 mod b leading blocks get the extra).
    */
  def simhashLayout(b: Int): Seq[(Int, Int)] = {
    val base = 64 / b; val rem = 64 % b
    val widths = (0 until b).map(i => base + (if (i < rem) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** All Hamming-≤-k candidate pairs from a (doc_id, sh) signature frame,
    * confirmed exact — the blocking-independent core of D3.
    *
    * Completeness theorem (the Manku block-permutation argument,
    * "Detecting Near-Duplicates for Web Crawling", WWW'07 §3): partition
    * the 64 bits into b blocks and emit one bucket row per g-subset of
    * blocks (g = b − k), keyed by the concatenated block values. A pair at
    * Hamming ≤ k has ≤ k dirty blocks, hence ≥ b − k = g clean ones, hence
    * SOME g-subset of clean blocks — which is one of the C(b,g) enumerated
    * combos, so the equality join finds the pair. The exact
    * bit_count(xor) ≤ k confirm then makes the OUTPUT independent of the
    * blocking entirely: candidates ⊇ all qualifying pairs in any complete
    * scheme, the filter keeps exactly the qualifying ones, DISTINCT drops
    * combo multiplicity. SimhashCompleteSpec property-tests this against
    * brute-force Hamming on bit-mutant batteries at several b.
    *
    * Scale shape: candidates come ONLY from equality joins on the combo
    * key, whose universe is 2^((b−k)·64/b) — corpus-scaling via the b
    * config, unlike a fixed band width (the r7-flagged Θ(n²/256) shape).
    * One shuffle keyed by (combo, key); no cross join anywhere.
    */
  /** The blocking's bucket rows: one (doc_id, sh, combo, key) row per
    * g-subset of blocks, key = the subset's concatenated block bits —
    * factored out so D69's occupancy report audits EXACTLY the bucket
    * layout the candidate join consumes.
    */
  private[graft] def simhashKeyed(sigs: DataFrame, b: Int): DataFrame = {
    val layout = simhashLayout(b)
    // one literal (offset, width) list per combo, folded by ONE aggregate:
    // the plan's expression size stays constant in the combo count C(b, g)
    // (a per-combo expression tree is 924 folds at b = 12 — past what the
    // generated code of one stage can compile)
    val combos = layout.indices.combinations(b - SimhashK)
      .map(_.map(layout)).toSeq
    sigs.select(col("doc_id"), col("sh"),
        posexplode(typedLit(combos)).as(Seq("combo", "blocks")))
      // arithmetic shiftright sign-extends past bit 63−off; the block mask
      // truncates to width w, so the key bits are exact
      .select(col("doc_id"), col("sh"), col("combo"),
        expr("""aggregate(blocks, CAST(0 AS BIGINT), (acc, x) ->
          shiftleft(acc, x._2) |
            (shiftright(sh, x._1) & (shiftleft(CAST(1 AS BIGINT), x._2) - 1)))""")
          .as("key"))
  }

  def simhashPairs(sigs: DataFrame, b: Int): DataFrame = {
    val keyed = simhashKeyed(sigs, b)
    val a = keyed.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
      col("combo"), col("key"))
    val c2 = keyed.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
      col("combo"), col("key"))
    a.join(c2, Seq("combo", "key")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= SimhashK)
      .distinct()
  }

  /** (doc_id, sh) 64-bit signatures for `dir`'s documents. Hexes and token
    * words are materialized as bound columns first: the 64 bit-vote
    * aggregates each reference the list, and Catalyst's project collapsing
    * would otherwise re-run md5+conv once per vote.
    */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    docsWithToks(spark, dir).filter(size(col("toks")) >= 1)
      .withColumn("hexes", transform(col("toks"), x => md5(x.cast("binary"))))
      .transform(graft.Checkpoints.cp)
      .withColumn("ws", simhashWords(col("hexes")))
      .transform(graft.Checkpoints.cp)
      .select(col("doc_id"), simhash64FromWords(col("ws")).as("sh"))
      .transform(graft.Checkpoints.cp)

  /** D3: SimHash near-dup pairs — 64-bit signature, Manku block-combo
    * bucketing (see `simhashPairs`), exact Hamming ≤ 6 confirm.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(simhashSignatures(spark, dir), simhashBlocks)

  /** The oracle uses the SIMPLEST complete blocking — b=7 blocks, agree on
    * any one — rather than mirroring the engine's combo scheme: both are
    * complete for Hamming ≤ 6 (pigeonhole: 6 flips leave ≥1 of 7 blocks
    * clean), and `simhashPairs`' exact confirm + DISTINCT makes the output
    * of ANY complete blocking identical, so the cheap oracle verifies the
    * full pair semantics (the D4c pattern). Deliberately NOT the engine's
    * blocking: agreement across two independently-derived schemes also
    * guards against a shared blocking bug.
    */
  /** Shared CTE preamble: (doc_id, sh) 64-bit signatures — the SQL twin of
    * `simhashSignatures`, reused by the pair oracle and D69's occupancy
    * audit.
    */
  private def simhashShCtes: String =
    s"""hx AS (
      SELECT doc_id, list_transform(toks, x -> md5(x)) AS hexes
      FROM (SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents)
      WHERE len(toks) >= 1),
    wsx AS MATERIALIZED (
      SELECT doc_id, list_transform(hexes, h ->
        [CAST('0x' || substr(h, 1, 8) AS BIGINT),
         CAST('0x' || substr(h, 9, 8) AS BIGINT)]) AS ws
      FROM hx),
    sh AS MATERIALIZED (
      SELECT doc_id, $simhashSqlOverWords AS sh FROM wsx)"""

  def dedupSimhashSql: String = {
    val layout7 = simhashLayout(7)
    val keyCase = layout7.zipWithIndex.map { case ((off, w), i) =>
      s"WHEN $i THEN (sh >> $off) & ${(1L << w) - 1}"
    }.mkString(" ")
    s"""WITH $simhashShCtes,
    banded AS MATERIALIZED (
      SELECT doc_id, sh, b.band_idx,
             CASE b.band_idx $keyCase END AS band_key
      FROM sh, (SELECT unnest([0,1,2,3,4,5,6]) AS band_idx) b)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sh, b.sh)) AS hamming
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= $SimhashK"""
  }

  /** D69 oracle piece: per-band occupancy of the minhash LSH bucket layout
    * (the EXACT band rows `dedup_minhash`'s candidate join consumes).
    * Emitted as a parenthesized WITH-subquery so IndexQc can UNION the
    * three structure audits into one statement.
    */
  private[graft] def minhashOccupancySql: String =
    s"""(WITH $sigBandsCtes,
    bc AS (SELECT band_idx, band_hash, CAST(count(*) AS BIGINT) AS c
           FROM bands GROUP BY band_idx, band_hash)
    SELECT 'minhash' AS family, CAST(band_idx AS INTEGER) AS block_idx,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_pairs
    FROM bc GROUP BY band_idx)"""

  /** D69 oracle piece: per-combo occupancy of the ENGINE's Manku block
    * layout at the live `graft.simhash.blocks` width. Unlike the pair
    * oracle (which deliberately uses an independent complete blocking,
    * since the exact confirm makes pair OUTPUT blocking-independent), the
    * occupancy report is a statement ABOUT the engine's bucket layout
    * itself, so this SQL mirrors `simhashKeyed`'s key fold verbatim.
    */
  private[graft] def simhashOccupancySql: String = {
    val b = simhashBlocks
    val g = b - SimhashK
    val layout = simhashLayout(b)
    val comboRows = layout.indices.combinations(g).toSeq.zipWithIndex
      .map { case (c, ci) =>
        val keyExpr = c.foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
          val (off, w) = layout(i)
          s"(($acc << $w) | ((sh >> $off) & ${(1L << w) - 1}))"
        }
        s"SELECT doc_id, $ci AS block_idx, $keyExpr AS bkey FROM sh"
      }.mkString("\n      UNION ALL ")
    s"""(WITH $simhashShCtes,
    keyed AS ($comboRows),
    bc AS (SELECT block_idx, bkey, CAST(count(*) AS BIGINT) AS c
           FROM keyed GROUP BY block_idx, bkey)
    SELECT 'simhash' AS family, CAST(block_idx AS INTEGER) AS block_idx,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_pairs
    FROM bc GROUP BY block_idx)"""
  }

  /** D4: n-gram Jaccard pairs via a shared-shingle inverted index — pairs
    * are generated only for docs sharing ≥1 shingle hash (the 100 TB path:
    * shuffle by shingle hash, never all-pairs).
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = docsWithShingles(spark, dir)
      .select(col("doc_id"), array_distinct(col("shingles")).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .transform(graft.Checkpoints.cp)
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n_sh"))
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
    val pairs = inv.select(col("doc_id").as("doc_a"), col("h"))
      .join(inv.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }
  /** D4b: prefix-filtered Jaccard pairs (PPJoin-family) — IDENTICAL output
    * to D4 (same oracle), sharper 100 TB shape. D4 indexes EVERY shingle,
    * so a pair sharing k shingles costs k candidate rows and hot shingles
    * fan out quadratically. Here each doc indexes only its PREFIX under a
    * global (document-frequency asc, hash asc) order — length
    * |S| - ⌈t·|S|⌉ + 1, the classic prefix-filter bound: two sets with
    * J ≥ t MUST share a prefix element, so recall is exact by theorem, and
    * the rarest-first order makes the indexed shingles precisely the ones
    * with the smallest fan-out. ⌈t·|S|⌉ runs in exact integer arithmetic
    * ((3·n + 9) div 10 at t = 0.3). Candidates dedup, the exact Jaccard
    * confirms on the full (checkpointed) sets, and the final expression
    * tree is byte-for-byte D4's — the result is bit-identical.
    */
  def dedupJaccardPrefix(spark: SparkSession, dir: String): DataFrame = {
    val sh = docsWithShingles(spark, dir)
      .select(col("doc_id"), array_distinct(col("shingles")).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
    val freq = inv.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // per-doc shingle hashes in rarest-first canonical order (df, then
    // hash); checkpointed — both the prefix index and the exact confirm
    // read it
    val ordered = graft.Checkpoints.cp(
      inv.join(freq, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
        .select(col("doc_id"),
          transform(col("ord"), e => e.getField("h")).as("hs"),
          size(col("ord")).as("n_sh")))
    val prefix = ordered
      .withColumn("plen", col("n_sh") - expr("(3 * n_sh + 9) div 10") + 1)
      .select(col("doc_id"), explode(slice(col("hs"), lit(1), col("plen"))).as("h"))
    val cand = prefix.select(col("doc_id").as("doc_a"), col("h"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(ordered.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("n_sh").as("n_a")), Seq("doc_a"))
      .join(ordered.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
        col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("bigint"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }
  /** Prefix filtering never drops a qualifying pair (prefix-filter
    * theorem) and the confirm recomputes D4's exact expression — so the
    * oracle is D4's, verbatim.
    */
  def dedupJaccardPrefixSql: String = dedupNgramJaccardSql

  /** D20: benchmark decontamination — flag corpus documents sharing any
    * word-3-gram with the "benchmark" set (deterministic stand-in: every
    * 50th doc plays the eval set). The standard pretraining hygiene step:
    * build the benchmark's shingle-hash index (eval sets are small → the
    * join broadcasts it), count distinct shared shingles per corpus doc.
    * Shuffle is the per-doc hit aggregate, bounded by matching
    * (doc, shingle) pairs — the corpus is never joined to itself.
    */
  /** Per-doc distinct shingle hashes (doc_id, h) — decontamination's
    * probe unit, shared with the incremental flagship's state build. */
  private[graft] def shingleHashes(spark: SparkSession, dir: String): DataFrame =
    docsWithShingles(spark, dir)
      .select(col("doc_id"), explode(array_distinct(col("shingles"))).as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))

  /** Benchmark-membership predicate (D20): every doc_id % 50 == 0 is an
    * eval-suite stand-in. A multiple of IncrementalBatchMod, so the
    * benchmark set always arrives WITH the incremental batch slice. */
  private[graft] val BenchMod = 50

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleHashes(spark, dir)
    val isBench = col("doc_id") % BenchMod === 0
    val bench = sh.filter(isBench).select(col("h")).distinct()
    val hits = sh.filter(!isBench).join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    docsWithToks(spark, dir).filter(!isBench).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }
  def decontaminateSql: String =
    s"""WITH sh AS MATERIALIZED (
      SELECT doc_id, md5(s) AS h FROM (
        SELECT doc_id, unnest(list_distinct(${TextOps.shinglesSql("toks")})) AS s
        FROM (SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents)) t),
    bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
    hits AS (
      SELECT doc_id, count(*) AS n_hits FROM sh
      WHERE doc_id % 50 != 0 AND h IN (SELECT h FROM bench)
      GROUP BY doc_id)
    SELECT d.doc_id, coalesce(n_hits, 0) AS n_hits,
           coalesce(n_hits, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 50 != 0) d
    LEFT JOIN hits USING (doc_id)"""

  /** Bloom sizing for D20b: generous bits-per-item at testdata scale; in
    * production size from the eval set's measured distinct-shingle count.
    */
  val BloomItems = 100000L
  val BloomBits = 1600000L

  /** D20b: bloom-pre-filtered decontamination — IDENTICAL output to D20
    * (same oracle), different 100 TB shape. D20 broadcasts the benchmark's
    * exact shingle-hash set; fine while the eval suite is small, but a
    * growing blocklist (all eval sets + opt-outs) outgrows a broadcast hash
    * set long before it outgrows a bloom filter. Here the benchmark
    * shingles aggregate into ONE fixed-size sketch (partial filters
    * map-side, bitwise-OR merge — the exchange carries the sketch, not the
    * set), the corpus probes it with a codegen'd no-false-negative test,
    * and only the few surviving candidates reach the exact confirmation
    * join — which removes bloom false positives, so the result is exactly
    * D20's. The probe prunes the shuffle/join input by the corpus's
    * true-negative fraction (~99% of shingles on this testdata).
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomOps
    val sh = docsWithShingles(spark, dir)
      .select(col("doc_id"), explode(array_distinct(col("shingles"))).as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"),
        xxhash64(col("s")).as("hl"))
    val isBench = col("doc_id") % 50 === 0
    val bench = graft.Checkpoints.cp(
      sh.filter(isBench).select(col("h"), col("hl")).distinct())
    val bloom = bench.agg(
      BloomOps.bloomAgg(col("hl"), BloomItems, BloomBits).as("bf"))
    // scalar subquery: the one-row sketch evaluates once and ships to every
    // task as a literal (might_contain requires constant-or-scalar-subquery)
    val candidates = sh.filter(!isBench)
      .filter(BloomOps.bloomContains(bloom.scalar(), col("hl")))
    val hits = candidates.join(broadcast(bench.select(col("h"))), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    docsWithToks(spark, dir).filter(!isBench).select(col("doc_id"))
      // hits ≤ contaminated docs ≪ corpus; broadcast explicitly (the
      // subquery-filtered lineage has no size estimate, so the planner
      // would otherwise fall back to a corpus-wide sort-merge)
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }
  /** The bloom probe never drops a true member, and the exact join drops
    * every false positive — so the oracle is D20's, verbatim.
    */
  def decontaminateBloomSql: String = decontaminateSql

  /** Contamination threshold for D20c, in basis points of a doc's distinct
    * shingles (1000 = 10% overlap ⇒ tainted).
    */
  val TaintBasisPoints = 1000L

  /** D20c: graded contamination — the FRACTION of each corpus doc's
    * distinct shingles that appear in the benchmark set, not just the
    * binary any-hit flag of D20. Real decontamination policies threshold on
    * overlap fraction (a single shared 3-gram is noise; 10%+ is leakage),
    * so the graded score is the operational variant. Same 100 TB shape as
    * D20: benchmark index broadcasts, the corpus is never self-joined, the
    * only wide exchange is the per-doc hit aggregate. The fraction is
    * reported in integer basis points ((hits·10000) div shingles) — exact
    * integer arithmetic, no float formatting in the gate.
    */
  def contaminationFrac(spark: SparkSession, dir: String): DataFrame = {
    val sh = docsWithShingles(spark, dir)
      .select(col("doc_id"), array_distinct(col("shingles")).as("sh"))
      .filter(size(col("sh")) > 0)
    val ex = sh.select(col("doc_id"), size(col("sh")).cast("bigint").as("n_sh"),
        explode(col("sh")).as("s"))
      .select(col("doc_id"), col("n_sh"), md5(col("s").cast("binary")).as("h"))
    val isBench = col("doc_id") % 50 === 0
    val bench = ex.filter(isBench).select(col("h")).distinct()
    val hits = ex.filter(!isBench).join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id"), col("n_sh")).agg(count(lit(1)).as("n_hits"))
    sh.filter(!isBench)
      .select(col("doc_id"), size(col("sh")).cast("bigint").as("n_sh"))
      .join(hits.drop("n_sh"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("frac_bp", expr("n_hits * 10000 div n_sh"))
      .withColumn("tainted", col("frac_bp") >= TaintBasisPoints)
  }
  def contaminationFracSql: String =
    s"""WITH sh AS MATERIALIZED (
      SELECT doc_id, list_distinct(${TextOps.shinglesSql("toks")}) AS sh
      FROM (SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents)
      WHERE len(list_distinct(${TextOps.shinglesSql("toks")})) > 0),
    ex AS MATERIALIZED (
      SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh, md5(unnest(sh)) AS h
      FROM sh),
    bench AS (SELECT DISTINCT h FROM ex WHERE doc_id % 50 = 0),
    hits AS (
      SELECT doc_id, count(*) AS n_hits FROM ex
      WHERE doc_id % 50 != 0 AND h IN (SELECT h FROM bench)
      GROUP BY doc_id)
    SELECT d.doc_id, CAST(len(d.sh) AS BIGINT) AS n_sh,
      coalesce(h.n_hits, 0) AS n_hits,
      (coalesce(h.n_hits, 0) * 10000) // CAST(len(d.sh) AS BIGINT) AS frac_bp,
      (coalesce(h.n_hits, 0) * 10000) // CAST(len(d.sh) AS BIGINT) >= $TaintBasisPoints AS tainted
    FROM sh d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 50 != 0"""

  /** Fixed iteration bound for the connected-components label propagation.
    * Min-label spreading moves ONE hop per round, so after k rounds a
    * vertex holds the min id within its k-hop ball: the loop is exact for
    * every component whose min-id vertex has eccentricity ≤ MaxCcIters
    * (NOT 2^MaxCcIters — one-hop propagation has no doubling). Near-dup
    * graphs are near-cliques (diameter ~2) and the co-purchase graph's
    * communities are dense bundles, so 8 is generous for both users; a
    * long-chain graph that hits the cap is REPORTED, not silently split —
    * ccLabelsOf warns and `ccCapHit` exposes the flag for callers/specs
    * (GraphSpec asserts convergence on the testdata). The oracle unrolls
    * exactly this many rounds so both engines run the identical
    * computation either way.
    */
  val MaxCcIters = 8

  /** Eager lineage-cut cadence for ccLabelsOf's label loop (the
    * Graph.PrCpEvery twin): lazy-persisted rounds double the analyzed plan
    * (labels referenced twice per round), an eager localCheckpoint every
    * CcCpEvery rounds re-bounds it; between cuts the round's change-count
    * agg fills the lazy cache, one action per round. */
  val CcCpEvery = 2

  /** True iff the most recent ccLabelsOf call on this thread stopped at
    * the iteration cap WITHOUT reaching the fixed point — the
    * cap-observability contract (labels are then k-hop-ball minima, not
    * component minima). Thread-local: spec suites run queries in parallel.
    */
  private val ccCapHitTl = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  private[graft] def ccCapHit: Boolean = ccCapHitTl.get()

  /** D19: connected-components dedup clustering over the MinHash near-dup
    * pair graph — the step that turns pairwise candidates into KEEP/DROP
    * decisions (one keeper per duplicate cluster). Iterative min-label
    * propagation: per round, one equality join of labels onto the
    * (symmetrized, checkpointed) edge list + a map-side-combinable min
    * aggregate — the standard Spark CC shape, log-diameter rounds, no
    * driver-side graph. Each round is checkpointed so the plan stays flat
    * instead of growing exponentially. Near-dup graphs have tiny diameters
    * (duplicates of the same content), so the fixed bound is generous.
    */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    componentsOfPairs(dedupMinhash(spark, dir).select(col("doc_a"), col("doc_b")))

  /** D71 (r8): near-dup cluster-size accounting — per component size s:
    * how many clusters, how many docs they hold, and how many docs dedup
    * removes (s−1 per cluster). The histogram a curation run reads to
    * understand WHAT the near-dedup is doing: a fat tail of giant
    * clusters means boilerplate/template contamination (one keeper
    * replaces thousands), a spike at s=2 means genuine near-copies; and
    * `n_removed` summed is the exact doc count the keeper-filter drops —
    * reconciling corpus_clean's before/after without rerunning it.
    *
    * Scale shape: one count-by-component over D19's labels (shuffle
    * bounded by components), then a count-by-size (bounded by DISTINCT
    * sizes ≤ √(2·docs-in-components)); both partial-agg combinable.
    */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    dedupComponents(spark, dir)
      .groupBy(col("component_id")).agg(count(lit(1)).as("s"))
      .groupBy(col("s").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("s")).as("n_docs"),
        sum(col("s") - 1).as("n_removed"))

  def dedupClusterSizesSql: String =
    s"""WITH cc AS MATERIALIZED (SELECT component_id FROM ($dedupComponentsSql) c),
    sz AS (SELECT component_id, CAST(count(*) AS BIGINT) AS s
           FROM cc GROUP BY component_id)
    SELECT s AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(s) AS BIGINT) AS n_docs,
           CAST(sum(s - 1) AS BIGINT) AS n_removed
    FROM sz GROUP BY s"""

  /** D19's clustering over an arbitrary (doc_a, doc_b) pair frame — the
    * composable form corpus_pipeline_indexed feeds with pairs served from
    * the persisted signature index instead of the per-run recompute.
    */
  private[graft] def componentsOfPairs(pairs: DataFrame): DataFrame =
    ccLabelsOf(pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("v").as("doc_id"), col("lbl").as("component_id"))
      .withColumn("is_keeper", col("doc_id") === col("component_id"))

  /** Shared min-label connected-components loop over a SYMMETRIC
    * (src, dst) edge list — used by D19's dedup clustering and E45's
    * co-purchase communities. r6 discipline:
    *
    *  - the edge list persists LAZILY, hash-clustered on the per-round
    *    join key, so InMemoryRelation keeps partitioning + stats — AQE
    *    sizes each round's join at runtime and the edges never reshuffle
    *    after their one exchange (the pagerank lesson);
    *  - the per-round LABEL frame alternates lazy persist / eager
    *    localCheckpoint on the CcCpEvery cadence (r13; previously eager
    *    every round): every round references the previous labels TWICE
    *    (the neighbor join and the refresh), so a lineage-keeping barrier
    *    doubles the logical plan per round — 2^MaxCcIters copies of the
    *    upstream edge build, which is analysis-time death on a derived
    *    edge list (measured: 645 s / driver OOM on the co-order graph vs
    *    2 s with the lineage cut). The periodic eager cut bounds that at
    *    2x per segment while the lazy rounds fold the barrier fill into
    *    the change-count action — one job chain per round instead of
    *    materialize + re-read (measured: the eager-every-round loop spent
    *    more wall in driver gaps than in jobs);
    *  - EARLY EXIT at the exact fixed point: each round's frame carries a
    *    `chg` flag and a cheap scalar aggregate over the checkpointed RDD
    *    counts changed labels — min-label propagation is monotone, so a
    *    zero-change round makes every further round a no-op and stopping
    *    yields labels IDENTICAL to the oracle's full MaxCcIters unroll
    *    (no oracle change; unlike pagerank, whose values keep moving and
    *    need the stop rule mirrored in SQL). Near-dup graphs are
    *    near-clique, so this stops after ~3 rounds instead of 8.
    */
  private[graft] def ccLabelsOf(edgesIn: DataFrame): DataFrame = {
    val edges = graft.Checkpoints.cpLazy(edgesIn.repartition(col("dst")))
    var labels = graft.Checkpoints.cp(
      edges.select(col("src").as("v")).distinct().withColumn("lbl", col("v")))
    var round = 1
    var done = false
    while (round <= MaxCcIters && !done) {
      val nb = edges.join(labels.select(col("v").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src").as("v2")).agg(min(col("lbl")).as("nb"))
      val next0 = labels.join(nb, col("v") === col("v2"), "left")
        .select(col("v"),
          least(col("lbl"), coalesce(col("nb"), col("lbl"))).as("lbl"),
          (col("nb").isNotNull && col("nb") < col("lbl"))
            .cast("long").as("chg"))
      // pagerank's one-action-per-round cadence (r13): the change-count agg
      // FILLS a lazy cache, so a round costs one job chain instead of
      // eager-materialize + re-read; an eager cut every CcCpEvery rounds
      // still bounds the doubled-per-lazy-round analyzed plan (the 2^rounds
      // blowup the eager-every-round form guarded against) at 2x per cut.
      val next =
        if (round % CcCpEvery == 0) graft.Checkpoints.cp(next0)
        else graft.Checkpoints.cpLazy(next0)
      val changed = next.agg(coalesce(sum(col("chg")), lit(0L)))
        .first().getLong(0)
      labels = next
      if (changed == 0L) done = true
      round += 1
    }
    // Cap-hit probe: the loop exiting with changes in its FINAL round does
    // not prove the labeling is unfinished — the fixed point may have been
    // reached exactly at the cap (a component whose min-id vertex has
    // eccentricity == MaxCcIters). One extra read-only change count on the
    // final labels settles it; paid only in the rare cap-exit case.
    val capHit = !done && {
      val nb = edges.join(labels.select(col("v").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src").as("v2")).agg(min(col("lbl")).as("nb"))
      labels.join(nb, col("v") === col("v2"))
        .filter(col("nb") < col("lbl")).limit(1).count() > 0
    }
    ccCapHitTl.set(capHit)
    if (capHit)
      System.err.println(s"[graft] ccLabelsOf hit the $MaxCcIters-round cap " +
        "before the fixed point: labels are k-hop-ball minima, not component " +
        "minima (long-chain graph — raise MaxCcIters AND the oracle unroll)")
    labels.select(col("v"), col("lbl"))
  }

  def dedupComponentsSql: String = {
    val iters = (1 to MaxCcIters).map { i =>
      s"""nb$i AS (SELECT e.doc_a AS v, min(l.lbl) AS nb
            FROM edges e JOIN l${i - 1} l ON l.v = e.doc_b GROUP BY e.doc_a),
      l$i AS (SELECT l.v, least(l.lbl, coalesce(n.nb, l.lbl)) AS lbl
            FROM l${i - 1} l LEFT JOIN nb$i n ON n.v = l.v)"""
    }.mkString(",\n      ")
    s"""WITH pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ($dedupMinhashSql) mh),
    edges AS MATERIALIZED (
      SELECT doc_a, doc_b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    l0 AS (SELECT DISTINCT doc_a AS v, doc_a AS lbl FROM edges),
    $iters
    SELECT v AS doc_id, lbl AS component_id, v = lbl AS is_keeper FROM l$MaxCcIters"""
  }

  /** D19b: quality-aware cluster representative — per near-dup component,
    * keep the HIGHEST-QUALITY member (tie: min doc_id) instead of D19's
    * arbitrary min-id keeper; the selection real cleaning pipelines run
    * after clustering. Cluster membership joins into the quality scan with
    * no hard broadcast hint — AQE broadcasts it when it fits (usual case)
    * and falls back to the doc_id-keyed shuffle join on a heavily-
    * duplicated corpus whose membership table outgrows the broadcast
    * threshold. The per-component window's frames are bounded by cluster
    * size, so the ranking shuffle carries only cluster members. Scores
    * are bit-identical across engines (the same expression shapes
    * text_quality hash-checks), so argmax is exact.
    */
  def dedupBestRep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = dedupComponents(spark, dir).select(col("doc_id"), col("component_id"))
    val scored = TextOps.textQuality(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .join(members, Seq("doc_id"))
    val byComp = Window.partitionBy(col("component_id"))
    val ranked = scored
      .withColumn("rk", row_number().over(
        byComp.orderBy(col("quality_score").desc, col("doc_id").asc)))
      .withColumn("n_members", count(lit(1)).over(byComp))
    ranked.filter(col("rk") === 1)
      .select(col("component_id"), col("doc_id").as("best_doc"),
        col("quality_score").as("best_quality"), col("n_members"))
  }
  def dedupBestRepSql: String =
    s"""WITH comp AS MATERIALIZED (SELECT doc_id, component_id FROM ($dedupComponentsSql) c),
    q AS MATERIALIZED (SELECT doc_id, quality_score FROM (${TextOps.textQualitySql}) q0),
    ranked AS (
      SELECT c.component_id, c.doc_id, q.quality_score,
        row_number() OVER (PARTITION BY c.component_id
                           ORDER BY q.quality_score DESC, c.doc_id ASC) AS rk,
        count(*) OVER (PARTITION BY c.component_id) AS n_members
      FROM comp c JOIN q ON q.doc_id = c.doc_id)
    SELECT component_id, doc_id AS best_doc, quality_score AS best_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rk = 1"""

  /** Modular batch split for the incremental-dedup demonstration: every Mth
    * doc plays "today's crawl", the rest the already-ingested corpus whose
    * signature index a production deployment would have persisted. r13: a
    * GraftConfig knob (`graft.inc.batchMod`, default 5 = 20% batch) so the
    * incremental-vs-full crossover can be measured at realistic batch
    * fractions (1/M). Read at plan-construction time by both engines'
    * generators; the persisted corpus-state and batch-slice-index names
    * fold M in, so changing it builds fresh state instead of silently
    * probing a stale split.
    */
  def IncrementalBatchMod: Int = {
    val m = graft.GraftConfig.int("graft.inc.batchMod", 5)
    require(m >= 2, s"graft.inc.batchMod must be >= 2, got $m")
    m
  }

  /** D22: incremental near-dedup — probe a NEW BATCH of documents against
    * the EXISTING corpus signature index instead of re-deduplicating the
    * whole corpus. This is the shape a 100 TB pipeline actually runs daily:
    * the index side (corpus band signatures) is a stored table that never
    * recomputes or shuffles for the probe — the batch's bands are hashed
    * fresh, so the only work linear in the corpus is one scan of the
    * signature index. A batch doc is a duplicate iff some band bucket
    * collides with an index doc and the estimated signature similarity
    * clears the same 0.5 threshold as D2.
    *
    * The batch side carries NO hard broadcast hint: the demonstration's
    * modular split makes "the batch" 1/5 of all signatures, and a real
    * day's crawl can also spike, so an unconditional broadcast would OOM
    * exactly when it matters. AQE sees the runtime size and picks the
    * broadcast join whenever the batch genuinely fits (plan-audited on the
    * ADAPTIVE executed plan), degrading gracefully to a shuffled join when
    * it doesn't — the size decision belongs to the engine, not the query.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(spark, dir).transform(graft.Checkpoints.cp)
    val isBatch = col("doc_id") % IncrementalBatchMod === 0
    val index = sigs.filter(!isBatch)
      .select(col("doc_id").as("index_id"), col("sig").as("sig_a"),
        col("band_idx"), col("band_hash"))
    val batch = sigs.filter(isBatch)
      .select(col("doc_id").as("batch_id"), col("sig").as("sig_b"),
        col("band_idx"), col("band_hash"))
    val est = sigAgreement(col("sig_a"), col("sig_b"))
    val dups = index.join(batch, Seq("band_idx", "band_hash"))
      .filter(est >= 0.5)
      .select(col("batch_id"), col("index_id")).distinct()
      .groupBy(col("batch_id")).agg(count(lit(1)).as("n_index_dups"))
    // every batch doc reports, including short docs with no signature; the
    // dup-count table is one row per duplicated batch doc — AQE broadcasts
    // it back when it fits (same no-hard-hint posture as the band join)
    Tables.documents(spark, dir)
      .filter(col("doc_id") % IncrementalBatchMod === 0)
      .select(col("doc_id"))
      .join(dups.withColumnRenamed("batch_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_index_dups"), lit(0L)).as("n_index_dups"))
      .withColumn("is_new", col("n_index_dups") === 0)
  }
  def dedupIncrementalSql: String =
    s"""WITH $sigBandsCtes,
    dups AS (
      SELECT p.doc_id, count(*) AS n_index_dups FROM (
        SELECT DISTINCT a.doc_id AS index_id, b.doc_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
          AND a.doc_id % $IncrementalBatchMod != 0 AND b.doc_id % $IncrementalBatchMod = 0
        WHERE $estSql >= 0.5) p
      GROUP BY p.doc_id)
    SELECT d.doc_id, coalesce(n_index_dups, 0) AS n_index_dups,
           coalesce(n_index_dups, 0) = 0 AS is_new
    FROM (SELECT doc_id FROM documents WHERE doc_id % $IncrementalBatchMod = 0) d
    LEFT JOIN dups USING (doc_id)"""

  /** Token width of the span-dedup sliding window: long enough that a
    * shared window is memorization-grade evidence, short enough to catch
    * partial overlap (boilerplate, quoted passages).
    */
  val SpanWindow = 12

  /** D26: span-level dedup — find exact W-token spans repeated ACROSS
    * documents (the signal behind exact-substring dedup: duplicated
    * boilerplate/quotes that doc-level near-dedup misses). Sliding windows
    * explode into an inverted index and aggregate per window hash; the
    * output is one row per cross-doc span GROUP, never pairs — the shuffle
    * is bounded by distinct windows and a hot span (site boilerplate in
    * millions of docs) costs one aggregate row, not n² pair rows.
    * count(DISTINCT doc_id) expands to the same two-stage shuffle as E11,
    * skew-safe by construction.
    */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    dedupSpansOn(docsWithToks(spark, dir))

  /** Corpus-parametric core over a (doc_id, toks) frame (spec harnesses
    * feed synthetic frames).
    */
  private[graft] def dedupSpansOn(toks: DataFrame): DataFrame = {
    val wins = toks.select(col("doc_id"), explode(
      when(size(col("toks")) < SpanWindow, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(col("toks")) - (SpanWindow - 1)), i =>
          concat_ws(" ", (0 until SpanWindow).map(o => element_at(col("toks"), i + o)): _*))))
      .as("w"))
    wins.select(col("doc_id"), md5(col("w").cast("binary")).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
  }
  def dedupSpansSql: String = {
    val terms = (0 until SpanWindow).map(o => s"toks[i + $o]").mkString(" || ' ' || ")
    s"""SELECT md5(w) AS span_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occurrences, min(doc_id) AS first_doc
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - ${SpanWindow - 1}, 0) + 1),
               i -> $terms)) AS w
      FROM (SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents)) t
    GROUP BY span_hash
    HAVING count(DISTINCT doc_id) >= 2"""
  }

  /** Width ladder for the D26c multi-width sweep: spans from "suspicious"
    * (8 tokens) to "certain memorization" (32). The set Lee et al. 2022's
    * variable-length suffix-array dedup would report is bracketed by these
    * rungs: any repeat of length L ≥ 8 surfaces at every rung ≤ L, so the
    * per-width census reads as a repeat-length HISTOGRAM (a repeat group
    * present at width 16 but absent at 24 has true length in [16, 24)).
    */
  val SpanWidths: Seq[Int] = Seq(8, 12, 16, 24, 32)

  /** Per-doc SEGMENT hashes for the span family (r13 — the r12 verdict's
    * item 5): one md5 per 4-token window, from which every rung's window
    * hash is COMPOSED (width w = md5 of the w/4 segment hashes at offsets
    * 0,4,…,w−4 — contiguous disjoint cover of the window, so equal
    * composed hashes ⟺ equal token windows at md5 confidence, same
    * guarantee class as hashing the window text directly). The r12 form
    * emitted every width's token windows per position — 92·len tokens of
    * string building per doc (the catalog's worst ladder exponent,
    * +0.46); composition builds len 4-token strings once and then only
    * concatenates fixed-width hex segments (23 array lookups per position
    * across the five rungs instead of 92), independent of how many wide
    * rungs ride on top. Fence, not cp: the base array feeds each rung's
    * transform in ONE projection — the barrier stops CollapseProject
    * from re-inlining the md5 transform into every rung lambda.
    */
  private[graft] def spanBase(toks: DataFrame): DataFrame =
    graft.plans.Fence(toks.select(col("doc_id"),
      when(size(col("toks")) < 4, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(col("toks")) - 3), i =>
          md5(concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1), element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3)).cast("binary"))))
        .as("base")))

  private def spanBaseSql: String =
    s"""b AS MATERIALIZED (
      SELECT doc_id,
        list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
          i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS base
      FROM t)"""

  /** Composed width-w window hash at position `i` over the `base` column
    * (w/4 fixed-width hex segments, binary-cast concat → md5). */
  private def composedHash(w: Int): Column => Column = { i =>
    md5(concat((0 until w / 4).map(s => element_at(col("base"), i + s * 4)): _*)
      .cast("binary"))
  }
  private def composedHashSql(w: Int): String =
    "md5(" + (0 until w / 4).map(s => s"base[i + ${s * 4}]").mkString(" || ") + ")"

  /** D26c (r12; r13 composed-hash form): MULTI-WIDTH span dedup — the
    * variable-length exact-substring capability (D26's fixed 12-token
    * window approximates Lee et al.'s any-length suffix-array form; the
    * width ladder recovers the length dimension). All five widths share
    * ONE tokenize scan, ONE segment-hash pass (spanBase), and ONE
    * explode; each rung's hashes are composed from the shared segment
    * hashes, so the incremental cost of a wider rung is a few fixed-width
    * concats per position — never another pass over the token text. ONE
    * partial-agg shuffle keyed (width, span_hash) — bounded by distinct
    * windows per width; a hot boilerplate span costs one aggregate row
    * per rung. Output: one row per (width, cross-doc span group). The
    * span_hash is the composed md5 (r13) — group structure is identical
    * to hashing the window text (DedupSpec pins the partition-equality
    * against the r12 text-hash form).
    */
  def dedupSpansMulti(spark: SparkSession, dir: String): DataFrame =
    dedupSpansMultiOn(docsWithToks(spark, dir))

  private[graft] def dedupSpansMultiOn(toks: DataFrame): DataFrame = {
    val winArrays = SpanWidths.map { w =>
      when(size(col("base")) < w - 3,
        array().cast("array<struct<width:int,w:string>>"))
        .otherwise(transform(sequence(lit(1), size(col("base")) - (w - 4)), i =>
          struct(lit(w).as("width"), composedHash(w)(i).as("w"))))
    }
    spanBase(toks).select(col("doc_id"),
        explode(concat(winArrays: _*)).as("pw"))
      .select(col("doc_id"), col("pw.width").as("width"),
        col("pw.w").as("span_hash"))
      .groupBy(col("width"), col("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
  }

  def dedupSpansMultiSql: String = {
    val unions = SpanWidths.map { w =>
      s"""SELECT doc_id, $w AS width,
           unnest(list_transform(range(1, greatest(len(base) - ${w - 4}, 0) + 1),
             i -> ${composedHashSql(w)})) AS w
         FROM b"""
    }.mkString("\n      UNION ALL\n      ")
    s"""WITH t AS MATERIALIZED (
      SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents),
    ${spanBaseSql},
    wins AS (
      $unions)
    SELECT CAST(width AS INT) AS width, w AS span_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occurrences, min(doc_id) AS first_doc
    FROM wins
    GROUP BY width, span_hash
    HAVING count(DISTINCT doc_id) >= 2"""
  }

  /** D26d (r13 — the r12 verdict's item 4): MAXIMAL cross-doc repeated
    * span INTERVALS — the longest-match reading of Lee et al. 2022 the
    * rung census approximates: one row per maximal contiguous token
    * interval [span_start, span_end) of a document in which every
    * position lies inside some ≥8-token window repeated in another
    * document. Adjacent-rung subsumption is structural: a repeated
    * width-24 window's coverage IS the union of its repeated width-8
    * sub-windows (each sub-window repeats wherever the wide window
    * does), so islands built from the width-8 rung's coverage absorb
    * every wider rung's windows; the wider rungs then annotate each
    * island with `widest_rung` (the longest single rung observed inside
    * it) and `n_windows` (repeated rung-window instances it absorbed).
    *
    * Shape: the positioned rung windows are ONE explode over the shared
    * segment hashes (spanBase); repeated-hash filtering is the same
    * (width, hash) partial agg as the census; islands are the classic
    * gaps-and-islands double window — both windows partition by doc_id
    * (state bounded by one doc's repeated positions, never cross-doc);
    * the rung→island assignment is an EQUI-join on (doc_id, p) — every
    * repeated rung window starts at a repeated width-8 position (its
    * 8-prefix repeats wherever it does), so no range join is needed.
    */
  def dedupSpansMaximal(spark: SparkSession, dir: String): DataFrame =
    dedupSpansMaximalOn(docsWithToks(spark, dir))

  private[graft] def dedupSpansMaximalOn(toks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mw = SpanWidths.min
    // Stage 1 — the minimum rung carries ALL the bulk: its repeated
    // windows alone determine coverage (subsumption), so only its
    // windows are emitted corpus-wide (≈ len rows/doc, exactly
    // dedup_rewrite's volume; not 5·len).
    val base = spanBase(toks)
    def wins8 = base.select(col("doc_id"),
      explode(when(size(col("base")) < mw - 3,
        array().cast("array<struct<p:int,h:string>>"))
        .otherwise(transform(sequence(lit(1), size(col("base")) - (mw - 4)), i =>
          struct(i.cast("int").as("p"), composedHash(mw)(i).as("h"))))).as("pw"))
      .select(col("doc_id"), col("pw.p").as("p"), col("pw.h").as("h"))
    // cross-doc ⟺ min(doc) ≠ max(doc): one plain partial agg, no
    // count-distinct expand (the filter needs existence, not the count);
    // the repeated set is small after the agg, so AQE broadcasts it and
    // the bulk stream never shuffles for the join
    val rep8 = wins8.groupBy(col("h"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select(col("h"))
    val rw8 = graft.Checkpoints.cp(
      wins8.join(rep8, Seq("h")).select(col("doc_id"), col("p")))
    // Stage 2 — wider rungs are evaluated ONLY at repeated min-rung
    // starts (a cross-doc width-w window's every occurrence starts at a
    // repeated-mw position — its mw-prefix repeats wherever it does — so
    // restricting emission to those starts loses no repeated group and
    // emits a boilerplate-density-bounded fraction of the corpus).
    // Output is therefore IDENTICAL to full emission; the DuckDB oracle
    // keeps the full-emission spelling.
    val starts = rw8.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
    val widerArrays = SpanWidths.filter(_ > mw).map { w =>
      transform(
        filter(col("ps"), p => p + (w - 4) <= size(col("base"))),
        p => struct(lit(w).as("width"), p.cast("int").as("p"),
          composedHash(w)(p).as("h")))
    }
    def winsWide = base.join(starts, Seq("doc_id"))
      .select(col("doc_id"), explode(concat(widerArrays: _*)).as("pw"))
      .select(col("doc_id"), col("pw.width").as("width"),
        col("pw.p").as("p"), col("pw.h").as("h"))
    val repWide = winsWide.groupBy(col("width"), col("h"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select(col("width"), col("h"))
    // plain frame (r14; was an eager cp): single consumer (the island
    // join) — nothing re-reads it, and every expensive upstream (rw8, the
    // wide-rung hashes over `base`) is already barriered
    val repWins =
      winsWide.join(repWide, Seq("width", "h"))
        .select(col("doc_id"), col("width"), col("p"))
        .unionByName(rw8.select(col("doc_id"), lit(mw).as("width"), col("p")))
    val ordered = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val isl = rw8
      .withColumn("max_end",
        max(col("p") + mw)
          .over(ordered.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("max_end").isNull || col("p") > col("max_end"), 1).otherwise(0))
      .withColumn("island",
        sum(col("new_island"))
          .over(ordered.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("doc_id"), col("p"), col("island"))
    // one aggregate serves interval bounds AND rung annotations: every
    // rung row's start is a min-rung covered start (join on (doc, p)),
    // min(p) is achieved by a min-rung row, and max(p) too (a width-w row
    // has p ≤ end-w ≤ end-mw = the last min-rung start), so
    // span_end = max(p) + mw is exact over the joined frame
    repWins.join(isl, Seq("doc_id", "p"))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + mw).as("span_end"),
        max(col("width")).as("widest_rung"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"),
        col("widest_rung"), col("n_windows"))
  }

  def dedupSpansMaximalSql: String = {
    val mw = SpanWidths.min
    val unions = SpanWidths.map { w =>
      s"""SELECT doc_id, $w AS width, i AS p, ${composedHashSql(w)} AS h
         FROM (SELECT doc_id, base,
                 unnest(range(1, greatest(len(base) - ${w - 4}, 0) + 1)) AS i
               FROM b)"""
    }.mkString("\n      UNION ALL\n      ")
    s"""WITH t AS MATERIALIZED (
      SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents),
    ${spanBaseSql},
    wins AS MATERIALIZED (
      $unions),
    rep AS (SELECT width, h FROM wins GROUP BY width, h
            HAVING min(doc_id) != max(doc_id)),
    rw AS MATERIALIZED (
      SELECT wins.doc_id, wins.width, wins.p FROM wins JOIN rep USING (width, h)),
    isl AS MATERIALIZED (
      SELECT doc_id, p,
        sum(CASE WHEN max_end IS NULL OR p > max_end THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM (
        SELECT doc_id, p,
          max(p + $mw) OVER (PARTITION BY doc_id ORDER BY p
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_end
        FROM rw WHERE width = $mw))
    SELECT rw.doc_id,
      CAST(min(rw.p) AS INT) AS span_start,
      CAST(max(rw.p) + $mw AS INT) AS span_end,
      CAST(max(rw.p) + $mw - min(rw.p) AS INT) AS span_len,
      CAST(max(rw.width) AS INT) AS widest_rung,
      CAST(count(*) AS BIGINT) AS n_windows
    FROM rw JOIN isl ON rw.doc_id = isl.doc_id AND rw.p = isl.p
    GROUP BY rw.doc_id, isl.island"""
  }

  /** D26b: span-removal rewrite — the step AFTER the census: emit each
    * document's text with every token covered by a cross-doc repeated
    * span removed (the "deduplicating training data" rewrite of Lee et
    * al. 2022, which showed models memorize exactly these substrings).
    * The census reports what repeats; this produces the corpus a trainer
    * actually consumes.
    *
    * r13: driven by the MAXIMAL-span family (D26d) — the removal set is
    * the union of the maximal repeated intervals, which equals the
    * coverage of the minimum rung's (8-token) repeated windows (every
    * wider repeated window is the union of its repeated 8-sub-windows),
    * so the plan needs only the width-8 composed hashes, and what is
    * removed is exactly what dedup_spans_maximal reports as intervals
    * (DedupSpec pins removed-positions ≡ interval coverage).
    *
    * Shape: the positioned window table (doc, start, span-hash) is ONE
    * transform over the shared segment hashes (spanBase), reused
    * (checkpointed) by both the repeated-hash aggregate and the match
    * join; the match join is bounded by duplicated-span occurrences (no
    * hint — AQE broadcasts the repeated-hash set when it fits, same
    * policy as D22); coverage explodes matched starts into ≤ 8 positions
    * each; the rewrite is a per-doc anti-join on (doc, pos) plus an
    * order-restoring in-group sort bounded by DOC LENGTH (collect_list +
    * array_sort — never a cross-doc sort). Docs shorter than the window,
    * or with nothing repeated, pass through byte-identical; a
    * fully-covered doc degrades to empty text, never a null.
    */
  def dedupRewrite(spark: SparkSession, dir: String): DataFrame =
    dedupRewriteOn(docsWithToks(spark, dir))

  private[graft] def dedupRewriteOn(toks: DataFrame): DataFrame = {
    val mw = SpanWidths.min
    val wins = graft.Checkpoints.cp(
      spanBase(toks).select(col("doc_id"), explode(
        when(size(col("base")) < mw - 3,
          array().cast("array<struct<p:int,w:string>>"))
          .otherwise(transform(sequence(lit(1), size(col("base")) - (mw - 4)), i =>
            struct(i.cast("int").as("p"), composedHash(mw)(i).as("w")))))
        .as("pw"))
        .select(col("doc_id"), col("pw.p").as("p"),
          col("pw.w").as("span_hash")))
    val repeated = wins.groupBy(col("span_hash"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select(col("span_hash"))
    val covered = wins.join(repeated, Seq("span_hash"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (mw - 1))).as("pos"))
      .distinct()
    val pos = toks.select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val kept = pos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
    toks.select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
  def dedupRewriteSql: String = {
    val mw = SpanWidths.min
    s"""WITH t AS MATERIALIZED (
      SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents),
    ${spanBaseSql},
    w AS MATERIALIZED (
      SELECT doc_id, i AS p, ${composedHashSql(mw)} AS h
      FROM (SELECT doc_id, base,
              unnest(range(1, greatest(len(base) - ${mw - 4}, 0) + 1)) AS i
            FROM b)),
    rep AS (SELECT h FROM w GROUP BY h HAVING min(doc_id) != max(doc_id)),
    cov AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, unnest(generate_series(p, p + ${mw - 1})) AS pos
        FROM w JOIN rep USING (h))),
    pt AS (
      SELECT doc_id, pos, tok FROM (
        SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
               unnest(toks) AS tok
        FROM t)),
    kept AS (SELECT pt.* FROM pt ANTI JOIN cov USING (doc_id, pos)),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      CAST(len(t.toks) AS BIGINT) - coalesce(a.n_kept, 0) AS n_removed,
      coalesce(a.clean_text, '') AS clean_text
    FROM t LEFT JOIN agg a USING (doc_id)"""
  }

  def dedupNgramJaccardSql: String =
    s"""WITH sh AS MATERIALIZED (
      SELECT doc_id, list_distinct(${TextOps.shinglesSql("toks")}) AS shingles
      FROM (SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents)),
    sh2 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh2),
    inv AS MATERIALIZED (
      SELECT doc_id, md5(s) AS h FROM (SELECT doc_id, unnest(shingles) AS s FROM sh2)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, inter,
           CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.3"""

  /** Threshold sweep for the dedup-rate curve, in basis points (floor =
    * D4's 0.30 candidate cut; above 0.90 near-dup families collapse into
    * D1's exact dedup).
    */
  val CurveThresholds: Seq[Int] = 3000 to 9000 by 1000

  /** D63 (r7): dedup-rate curve — the THRESHOLD-tuning artifact the
    * single-threshold pair operators can't give (the D60 pattern applied
    * to near-dup policy): for every candidate Jaccard threshold, how many
    * pairs qualify, how many DOCUMENTS the keep-lowest-id rule would drop
    * (a doc is dropped iff it is the higher id of some qualifying pair),
    * and the drop rate over the corpus in exact basis points. This is the
    * number a data lead looks at before burning a threshold into a 100 TB
    * dedup pass — "0.7 drops 4% of the corpus, 0.5 drops 19%".
    *
    * ONE candidate pass serves every threshold: the D4 inverted-index
    * equality join computes each pair's exact similarity ONCE in integer
    * basis points, pairs explode only to the thresholds they meet
    * (≤ |thresholds| rows per pair), and two bounded aggregates follow. A
    * static threshold frame keeps zero-pair thresholds reporting 0s; the
    * 1-row corpus count broadcasts (no driver action). Exact integer
    * arithmetic throughout → hash-checked oracle.
    */
  def dedupRateCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = docsWithShingles(spark, dir)
      .select(col("doc_id"), array_distinct(col("shingles")).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .transform(graft.Checkpoints.cp)
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n_sh"))
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
    val pairs = inv.select(col("doc_id").as("doc_a"), col("h"))
      .join(inv.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("sim_bp", expr("(10000 * inter) div (n_a + n_b - inter)"))
    val qual = pairs.select(col("doc_b"),
      explode(filter(array(CurveThresholds.map(lit): _*),
        t => t <= col("sim_bp"))).as("threshold_bp"))
    val agg = qual.groupBy(col("threshold_bp"))
      .agg(count(lit(1)).as("c_pairs"),
        countDistinct(col("doc_b")).as("c_dropped"))
    val totals = sh.agg(count(lit(1)).as("n_docs"))
    CurveThresholds.toDF("threshold_bp")
      .join(agg, Seq("threshold_bp"), "left")
      .crossJoin(broadcast(totals))
      .select(col("threshold_bp"),
        coalesce(col("c_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("c_dropped"), lit(0L)).as("n_docs_dropped"),
        col("n_docs"),
        when(col("n_docs") === 0, lit(0L)).otherwise(
          expr("(10000 * coalesce(c_dropped, 0)) div n_docs")).as("drop_bp"))
  }

  def dedupRateCurveSql: String = {
    val ths = CurveThresholds.mkString(", ")
    s"""WITH sh AS MATERIALIZED (
      SELECT doc_id, list_distinct(${TextOps.shinglesSql("toks")}) AS shingles
      FROM (SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents)),
    sh2 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh2),
    inv AS MATERIALIZED (
      SELECT doc_id, md5(s) AS h FROM (SELECT doc_id, unnest(shingles) AS s FROM sh2)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    bp AS MATERIALIZED (
      SELECT doc_a, doc_b,
             (10000 * inter) // (sa.n_sh + sb.n_sh - inter) AS sim_bp
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sh2),
    th AS (SELECT CAST(unnest([$ths]) AS INT) AS threshold_bp),
    q AS (
      SELECT t.threshold_bp, CAST(count(*) AS BIGINT) AS c_pairs,
             CAST(count(DISTINCT doc_b) AS BIGINT) AS c_dropped
      FROM th t JOIN bp ON bp.sim_bp >= t.threshold_bp
      GROUP BY 1)
    SELECT t.threshold_bp,
      coalesce(q.c_pairs, 0) AS n_pairs,
      coalesce(q.c_dropped, 0) AS n_docs_dropped,
      n.n_docs,
      CASE WHEN n.n_docs = 0 THEN 0
           ELSE (10000 * coalesce(q.c_dropped, 0)) // n.n_docs END AS drop_bp
    FROM th t LEFT JOIN q USING (threshold_bp), n"""
  }

  /** Containment floor in basis points: 0.80 of the smaller doc's shingles
    * must appear in the larger one.
    */
  val ContainBp = 8000L

  /** D57: containment (coverage) pairs — the ASYMMETRIC complement of D4's
    * Jaccard: C(A→B) = |A∩B| / |A| flags a small document swallowed by a
    * large one (a quote reposted inside an aggregator page, a doc embedded
    * in a crawl concatenation), which symmetric Jaccard misses entirely —
    * |∩|/|∪| goes to zero as the container grows while containment stays
    * at 1. Emits (contained, container) with the intersection and an EXACT
    * integer basis-point containment of the smaller side (ties → the
    * lower id is "contained", matching the a<b pair orientation).
    *
    * Scale shape: identical to D4 — candidates ONLY from the inverted
    * shingle-hash equality join (never all-pairs), intersection as one
    * map-side-combinable count per candidate pair, sizes joined back from
    * the checkpointed shingle table. All-integer output (no double ratio),
    * so the oracle hash-checks exactly.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    dedupContainmentOfShingled(docsWithShingles(spark, dir))

  /** Core over any (doc_id, shingles) frame (spec harnesses feed synthetic
    * corpora where the Jaccard-vs-containment asymmetry is constructed).
    */
  private[graft] def dedupContainmentOfShingled(shingled: DataFrame): DataFrame = {
    val sh = shingled
      .select(col("doc_id"), array_distinct(col("shingles")).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .transform(graft.Checkpoints.cp)
    val sizes = sh.select(col("doc_id"),
      size(col("shingles")).cast("long").as("n_sh"))
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
    val pairs = inv.select(col("doc_id").as("doc_a"), col("h"))
      .join(inv.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("cont_bp", expr("(10000 * inter) div least(n_a, n_b)"))
      .filter(col("cont_bp") >= ContainBp)
      .select(
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_id"),
        when(col("n_a") <= col("n_b"), col("doc_b")).otherwise(col("doc_a"))
          .as("container_id"),
        col("inter"),
        least(col("n_a"), col("n_b")).as("n_contained"),
        greatest(col("n_a"), col("n_b")).as("n_container"),
        col("cont_bp"))
  }

  def dedupContainmentSql: String =
    s"""WITH sh AS MATERIALIZED (
      SELECT doc_id, list_distinct(${TextOps.shinglesSql("toks")}) AS shingles
      FROM (SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents)),
    sh2 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh FROM sh2),
    inv AS MATERIALIZED (
      SELECT doc_id, md5(s) AS h FROM (SELECT doc_id, unnest(shingles) AS s FROM sh2)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
      FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT doc_a, doc_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
             (10000 * inter) // least(sa.n_sh, sb.n_sh) AS cont_bp
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)
    SELECT CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS contained_id,
           CASE WHEN n_a <= n_b THEN doc_b ELSE doc_a END AS container_id,
           inter,
           least(n_a, n_b) AS n_contained,
           greatest(n_a, n_b) AS n_container,
           cont_bp
    FROM scored WHERE cont_bp >= $ContainBp"""

  val EditK = 4                 // max edit distance
  val EditSegs = EditK + 1      // pigeonhole: K edits can't touch K+1 segments

  /** D31: edit-distance similarity join (all pairs with Levenshtein ≤ K) —
    * the CHARACTER-level near-dup detector that complements the token-level
    * family (D2 minhash / D3 simhash / D4 jaccard): it catches small typo /
    * OCR / re-encode variants whose token sets barely overlap shingle-wise.
    *
    * Scale shape (PassJoin-family segment blocking, exact and complete —
    * never an all-pairs cartesian with a levenshtein predicate):
    *  - INDEX side: each doc of length l is split into K+1 contiguous
    *    segments (the standard even partition). If ed(a,b) ≤ K, at least
    *    one of b's K+1 segments survives untouched by any edit, appears
    *    EXACTLY in a, and its start position shifts by at most K.
    *  - PROBE side: each doc emits every substring that could equal
    *    segment i of a partner of length tl ∈ [l−K, l+K] at a shift ≤ K —
    *    a code-time-bounded (K+1)·(2K+1)² ≈ 405 short probes per doc.
    *  - Candidates come from ONE equality shuffle on (segment, i, tl);
    *    an exact levenshtein(a,b) ≤ K confirm makes the output independent
    *    of the blocking, so the result EQUALS the brute-force join
    *    (property-tested in LlmOpsSpec).
    * Bucket sizes are bounded by docs sharing an identical (segment text,
    * position, length) triple — rare in natural corpora ONCE EXACT DUPS
    * ARE REMOVED (D1 first is the documented contract; a corpus of byte-
    * identical docs would put every copy in one bucket).
    *
    * Asymptote (r9, measured on the amplified sf1 decade — SCALING.md):
    * candidate volume is proportional to same-length mass, which is
    * LINEAR in a corpus whose length distribution is scale-free — the
    * ladder reads ≈ +1.0 per decade, the correct slope for the operator.
    * If a future decade pushes the confirm cost past linear (a corpus
    * with a spiking length mode), the next lever is salting the
    * (segment, i, tl) key with a hash-of-remainder suffix — the
    * events_salted_join pattern — trading bounded recompute of the probe
    * fan-out for reducer-frame bounds; the exact confirm keeps the output
    * blocking-independent either way.
    */
  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame =
    dedupEditDistanceOf(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  private[graft] def dedupEditDistanceOf(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), col("text").as("t"),
        length(col("text")).as("l"))
      .transform(graft.Checkpoints.cp) // reused by segs, probes, and confirm
    val segs = d
      .withColumn("i", explode(sequence(lit(0), lit(EditSegs - 1))))
      .select(col("doc_id"), col("l"), col("i"),
        expr(s"substring(t, i * (l div $EditSegs) + least(i, l % $EditSegs) + 1," +
          s" (l div $EditSegs) + if(i < l % $EditSegs, 1, 0))").as("seg"))
    val probes = d
      .withColumn("tl", explode(sequence(greatest(col("l") - EditK, lit(0)), col("l") + EditK)))
      .withColumn("i", explode(sequence(lit(0), lit(EditSegs - 1))))
      .withColumn("sb", expr(s"i * (tl div $EditSegs) + least(i, tl % $EditSegs)"))
      .withColumn("sl", expr(s"(tl div $EditSegs) + if(i < tl % $EditSegs, 1, 0)"))
      // Spark's sequence(lo, hi) DESCENDS when lo > hi — guard to empty
      // (an over-short doc simply has no probe window for that segment)
      .withColumn("p", explode(expr(
        s"if(least(sb + $EditK, l - sl) >= greatest(sb - $EditK, 0)," +
        s" sequence(greatest(sb - $EditK, 0), least(sb + $EditK, l - sl)), array())")))
      .select(col("doc_id").as("a_id"), col("tl"), col("i"),
        expr("substring(t, p + 1, sl)").as("seg"))
    val cand = probes.join(segs,
        probes("tl") === segs("l") && probes("i") === segs("i") &&
        probes("seg") === segs("seg") && probes("a_id") =!= segs("doc_id"))
      .select(least(col("a_id"), col("doc_id")).as("doc_a"),
        greatest(col("a_id"), col("doc_id")).as("doc_b"))
      .distinct()
    cand // candidates are tiny (near-dups + rare collisions): AQE broadcasts
      .join(d.select(col("doc_id").as("doc_a"), col("t").as("ta")), Seq("doc_a"))
      .join(d.select(col("doc_id").as("doc_b"), col("t").as("tb")), Seq("doc_b"))
      .filter(levenshtein(col("ta"), col("tb")) <= EditK)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("bigint").as("dist"))
  }
  /** The oracle mirrors the blocking (a brute-force levenshtein over all
    * sf0.1 pairs would dominate the whole gate's runtime); because the
    * confirm step makes the result blocking-independent, this still
    * verifies the full pair semantics, and the spec property-tests the
    * Spark side against literal brute force on random strings.
    */
  def dedupEditDistanceSql: String =
    s"""WITH d AS MATERIALIZED (
      SELECT doc_id, text AS t, length(text) AS l FROM documents),
    segs AS (
      SELECT doc_id, l, i,
        substr(t, i * (l // $EditSegs) + least(i, l % $EditSegs) + 1,
               (l // $EditSegs) + CASE WHEN i < l % $EditSegs THEN 1 ELSE 0 END) AS seg
      FROM (SELECT doc_id, t, l, unnest([${(0 until EditSegs).mkString(",")}]) AS i FROM d)),
    pr1 AS (
      SELECT doc_id, t, l, tl, unnest([${(0 until EditSegs).mkString(",")}]) AS i
      FROM (SELECT doc_id, t, l,
              unnest(generate_series(greatest(l - $EditK, 0), l + $EditK)) AS tl FROM d)),
    pr2 AS (
      SELECT doc_id, t, l, tl, i,
        i * (tl // $EditSegs) + least(i, tl % $EditSegs) AS sb,
        (tl // $EditSegs) + CASE WHEN i < tl % $EditSegs THEN 1 ELSE 0 END AS sl
      FROM pr1),
    probes AS (
      SELECT doc_id AS a_id, tl, i, substr(t, p + 1, sl) AS seg
      FROM (SELECT *, unnest(generate_series(greatest(sb - $EditK, 0),
                                             least(sb + $EditK, l - sl))) AS p
            FROM pr2)),
    cand AS (
      SELECT DISTINCT least(p.a_id, s.doc_id) AS doc_a,
                      greatest(p.a_id, s.doc_id) AS doc_b
      FROM probes p JOIN segs s
        ON p.tl = s.l AND p.i = s.i AND p.seg = s.seg AND p.a_id <> s.doc_id)
    SELECT c.doc_a, c.doc_b, CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
    FROM cand c JOIN d a ON c.doc_a = a.doc_id JOIN d b ON c.doc_b = b.doc_id
    WHERE levenshtein(a.t, b.t) <= $EditK"""
}
