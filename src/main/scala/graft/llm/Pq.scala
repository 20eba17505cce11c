package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Relational.{saltedTopK, topK}

/** Product quantization for ANN serving (SURVEY §2 D73/D74).
  *
  * PQ (Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011 — public literature) is the 100 TB ANN serving
  * compression the D-family was missing: split each Dim-dim vector into M
  * subvectors, vector-quantize each subspace against its own K-entry
  * codebook, and serve each corpus vector as M small integer codes (M=8
  * byte-ish codes vs 64 float32s = a ~32× memory cut at the defaults).
  * Query-time distance is ADC (asymmetric distance computation): the query
  * stays un-quantized, a per-query lookup table of exact
  * query-subvector-to-centroid distances is built against the tiny
  * codebook, and each corpus vector's approximate distance is the sum of M
  * table lookups — the scan that touches every vector reads only codes,
  * never floats. A second refine stage (Jégou et al.'s "ADC + R") re-ranks
  * ONLY the R shortlisted vectors by exact L2, so the float store pays R
  * point-reads per query instead of a scan.
  *
  * Scale shape (the reason PQ exists): the codebook is M×K rows
  * (data-derived, broadcast), encoding is ONE corpus pass whose argmin is
  * a map-side-combinable min(struct(d2, code)) aggregate — no window, no
  * wide shuffle of corpus×K rows — and the serving join is
  * broadcast(LUT) ⋈ codes with a partial-agg ADC sum, so the only
  * exchange volume is (queries × corpus) rows of three small integers and
  * one decimal. At 10⁹ vectors the codes table is ~4 GB where the float
  * corpus is 256 GB: the scan PQ serves from is the one you can afford to
  * keep hot.
  *
  * Exactness discipline (the engine's established ANN conventions,
  * Ann.scala): subvector L2 distances fold left-to-right in double in both
  * engines; codebook refinement is ONE deterministic Lloyd step whose
  * element sums accumulate in DECIMAL(28,10) (order-independent, so
  * centroids are bit-identical across engines and partitionings); ADC
  * terms are cast to DECIMAL(28,10) BEFORE the sum so the M-term addition
  * is exact and order-independent; ties in every argmin/rank break on the
  * lowest code / neighbor id. The DuckDB oracle mirrors each step
  * verbatim (window-rn form where the engine uses min(struct) — same
  * (d2 asc, code asc) order, so identical selections).
  *
  * Widths are live config like the LSH/IVF levers (GraftConfig):
  * `graft.pq.subspaces` (M, default 8) and `graft.pq.codebook` (K, default
  * 16). At 10⁹-vector scale the published operating point is M=8..16,
  * K=256; both knobs thread through the oracle generator so the two
  * engines cannot disagree on a width (PqSpec pins the config plumbing).
  */
object Pq {

  val Dim: Int = Ann.Dim

  /** M — number of subspaces. Must divide Dim (contiguous equal slices). */
  def NumSubspaces: Int = {
    val m = graft.GraftConfig.int("graft.pq.subspaces", 8)
    require(m >= 1 && m <= Dim && Dim % m == 0,
      s"graft.pq.subspaces must divide Dim=$Dim, got $m")
    m
  }

  /** K — codebook entries per subspace. Seeds are the first K vectors'
    * subvectors, so K is also the seed-id range (the IVF convention).
    */
  def CodebookSize: Int = {
    val k = graft.GraftConfig.int("graft.pq.codebook", 16)
    require(k >= 2, s"graft.pq.codebook must be >= 2, got $k")
    k
  }

  private def subDim: Int = Dim / NumSubspaces

  /** Query-set contract shared with the other ANN operators: vec_id < 10. */
  private val NQueries = 10
  private val TopK = 5

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    // single-file local testdata reads as ONE scan partition; the family's
    // per-row expression work (covariance pairs, subvector argmins, ADC)
    // is CPU-bound, so spread it across cores first (no-op on a
    // multi-split cluster scan; r13 measured: ann_opq_ivfadc's covariance
    // stage 4.1 s on one task -> ~0.2 s wide)
    Tables.spreadIfNarrow(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "vec_id")

  /** Exact left-to-right double fold of the squared L2 distance between two
    * float-array columns of length `len` — the ANN-family arithmetic
    * contract (same fold order as Ann's dot/dotSql pair).
    */
  private def l2(a: Column, b: Column, len: Int): Column =
    (0 until len).map { i =>
      val d = element_at(a, i + 1).cast("double") - element_at(b, i + 1).cast("double")
      d * d
    }.reduce(_ + _)

  /** The square is written as an explicit self-product, NOT `** 2`:
    * `**` is libm pow, which is not guaranteed correctly rounded on every
    * platform, while mul/sub are — the module's exactness discipline
    * (identical floats in both engines) only holds on correctly-rounded
    * ops, so the oracle must stay on them too.
    */
  private def l2Sql(a: String, b: String, len: Int): String =
    s"list_sum(list_transform(range(1, $len + 1), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))" +
      s" * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"

  /** (vec_id, m, sv): each vector exploded into its M contiguous
    * subvectors. Map-side only — no shuffle.
    */
  private def subvecs(v: DataFrame): DataFrame = {
    val s = subDim
    v.select(col("vec_id"), posexplode(array(
      (0 until NumSubspaces).map(m => slice(col("embedding"), m * s + 1, s)): _*))
      .as(Seq("m", "sv")))
  }

  /** Per-subspace codebook: seeds = first K vectors' subvectors, one
    * deterministic Lloyd step (assign by exact L2, ties → lowest code;
    * per-(m, code) mean via exact decimal sums). Returns (m, code, cv).
    * A code whose seed duplicates an earlier seed in that subspace drops
    * out empty — identically in both engines (the IVF convention).
    */
  private[graft] def codebookOf(v: DataFrame): DataFrame = {
    val sub = subvecs(v)
    val seeds = sub.filter(col("vec_id") < CodebookSize)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("sv").as("cv"))
    val assigned = sub.join(broadcast(seeds), Seq("m"))
      .withColumn("d2", l2(col("sv"), col("cv"), subDim))
      // min(struct) = (d2 asc, code asc) argmin, partial-agg combinable —
      // the map-side-combining alternative to the IVF window (no corpus×K
      // rows ever cross an exchange). sv rides along in the struct tail;
      // code is unique per group, so comparison never reaches it.
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("code"), col("sv"))).as("best"))
      .select(col("m"), col("best.code").as("code"), col("best.sv").as("sv"))
    assigned.select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("m"), col("code"), col("pos"))
      // float → double exact; double → decimal(28,10) rounds identically
      // in Spark and DuckDB; decimal sum is order-independent
      .agg(sum(col("x").cast("double").cast("decimal(28,10)")).as("s"),
        count(lit(1)).as("n"))
      .groupBy(col("m"), col("code"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("s").cast("double") / col("n")).cast("float").as("c")))),
        x => x.getField("c")).as("cv"))
  }

  /** PQ encoding against a (broadcast) codebook frame: one corpus pass,
    * argmin per (vec_id, m) with the same min(struct) shape. Returns
    * (vec_id, m, code, d2) — d2 is the subspace quantization error the
    * distortion gauge aggregates, free at encode time.
    */
  private[graft] def encodeOf(v: DataFrame, cb: DataFrame): DataFrame =
    subvecs(v).join(broadcast(cb), Seq("m"))
      .withColumn("d2", l2(col("sv"), col("cv"), subDim))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("m"),
        col("best.code").as("code"), col("best.d2").as("d2"))

  /** Shortlist breadth R for the exact re-rank — the published "ADC + R"
    * refinement (Jégou et al. §V): the quantized scan nominates R
    * candidates per query, then ONLY those R full vectors are read for an
    * exact re-rank. At 10⁹ vectors that is R point-reads against the float
    * store per query instead of a full float scan — the quantized codes do
    * the heavy scan, the floats pay only R rows.
    */
  def ShortlistR: Int = {
    val r = graft.GraftConfig.int("graft.pq.shortlist", 50)
    require(r >= TopK, s"graft.pq.shortlist must be >= $TopK, got $r")
    // NOT part of tableFor's layout key: R is a query-time breadth over
    // the stored codes, so changing it must not force an index rebuild
    // (unlike M/K, which define what the stored pair contains)
    r
  }

  /** Salt fan-out for the two-phase shortlist rank
    * (Relational.saltedTopK): phase 1 ranks within
    * (q_id, salt) so no reducer frame exceeds candidates/salts; phase 2
    * ranks the ≤ R·salts survivors. Query-time breadth like ShortlistR —
    * never part of the stored layout, and provably output-invariant
    * (per-salt top-R is a superset of the global top-R), so the oracle
    * states the single-rank semantics unchanged.
    */
  def ShortlistSalts: Int = {
    val s = graft.GraftConfig.int("graft.pq.salts", 8)
    require(s >= 1, s"graft.pq.salts must be >= 1, got $s")
    s
  }

  /** D73: PQ-served top-k — the brute-force contract (same query set, k=5)
    * served in the published two-stage shape: (1) ADC scan over the M-code
    * quantized corpus — LUT = queries' exact subvector-to-centroid
    * distances (queries×M×K rows, broadcast); approximate distance =
    * sum over m of LUT[q, m, code_m(x)], summed in exact decimal; top-R
    * shortlist per query, ties → lowest id — then (2) exact L2 re-rank of
    * the R shortlisted full vectors only. Output ranks/distances are exact
    * L2 over the shortlist, so quantization error affects RECALL (did the
    * true neighbor make the shortlist), never the reported distance.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPqOf(vecs(spark, dir))

  private[graft] def annPqOf(v: DataFrame): DataFrame = {
    val cb = graft.Checkpoints.cp(codebookOf(v))
    servePq(v, cb, encodeOf(v, cb).select(col("vec_id"), col("m"), col("code")))
  }

  /** The serving core over an arbitrary (codebook, codes) pair — shared by
    * the recompute query (D73), the persisted-index probe (D76), and the
    * IVFADC cell-pruned variant (D80, which passes a pre-pruned `codes`).
    *
    * Shortlist rank is the TWO-PHASE SALTED top-R (r9 — the r8 verdict's
    * scale finding): a single `Window.partitionBy(q_id)` would land every
    * query's FULL candidate set on one reducer for an O(n log n) sort — a
    * billion-row single-task sort per query at 10⁹ codes. Phase 1 ranks
    * within (q_id, salt = nb_id % ShortlistSalts), bounding every reducer
    * frame by candidates/salts (raise the salt config with corpus size —
    * it is a pure query-time lever); phase 2 ranks only the ≤ R·salts
    * survivors. Per-salt top-R is a superset of the global top-R, so the
    * output is provably identical to the single-rank semantics the oracle
    * states (PqSpec pins both the equivalence and the plan shape).
    */
  private def servePq(v: DataFrame, cb: DataFrame, codes: DataFrame): DataFrame =
    refineExact(v, fullScanAdc(codes, v.filter(col("vec_id") < NQueries), cb))

  /** (q_id, nb_id, adc) of every stored code row against the query
    * vectors `q` — the unpruned ADC scan the top-k and radius forms
    * share: codes ⋈ the broadcast LUT, then the exact-decimal sum.
    */
  private def fullScanAdc(codes: DataFrame, q: DataFrame, cb: DataFrame): DataFrame =
    codes.join(broadcast(adcLut(q, cb)), Seq("m", "code"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id").as("nb_id"))
      .agg(sum(col("d2q")).as("adc"))

  /** The per-query ADC lookup table of the query vectors `q`: exact
    * query-subvector-to-centroid distances over the tiny codebook
    * (queries × M × K rows — broadcast). Every id in `q` is a query; the
    * catalog callers pass their first-NQueries set.
    */
  private def adcLut(q: DataFrame, cb: DataFrame): DataFrame =
    subvecs(q)
      .withColumnRenamed("vec_id", "q_id")
      .join(cb, Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        l2(col("sv"), col("cv"), subDim).cast("decimal(28,10)").as("d2q"))

  /** Shortlist, then the "+ R" stage: the salted two-phase top-R of the
    * (q_id, nb_id, adc) rows (see servePq) nominates each query's R
    * candidates, and only those full vectors are exact-L2 re-ranked. The
    * shortlist (queries × R rows) broadcasts into the corpus join, so the
    * re-rank costs one hash-probe pass, no corpus shuffle.
    */
  private def refineExact(v: DataFrame, adc: DataFrame): DataFrame = {
    val shortlist = saltedTopK(adc, Seq(col("q_id")), Seq(col("adc").asc, col("nb_id").asc),
      ShortlistR, col("nb_id") % ShortlistSalts, "srank")
      .select(col("q_id"), col("nb_id"))
    val qv = v.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val scored = broadcast(shortlist)
      .join(v.select(col("vec_id").as("nb_id"), col("embedding").as("nvec")), Seq("nb_id"))
      .join(broadcast(qv), Seq("q_id"))
      .withColumn("d2", l2(col("qvec"), col("nvec"), Dim))
    topK(scored, Seq(col("q_id")), Seq(col("d2").asc, col("nb_id").asc), TopK)
      .select(col("q_id"), col("nb_id"), col("rank"),
        round(col("d2"), 6).as("l2_dist"))
  }

  /** D80: IVFADC — the published 10⁹-vector serving composition (Jégou et
    * al. §VI: coarse quantizer prunes, product quantizer ranks). D73's ADC
    * scan still touches every corpus vector's codes; here the scan is
    * gated behind D7b's IVF cell pruning — only vectors whose home cell is
    * one of the query's NProbe nearest cells enter the LUT join at all, so
    * the probe-side exchange is bounded by Q × corpus·(nprobe/cells)
    * candidates instead of Q × corpus. The candidate set (home cells from
    * rn=1, probe lists from rn ≤ NProbe of the same ranking pass) starts
    * from the corpus-side members and joins the BROADCAST probe list, so
    * pruning happens map-side before anything shuffles; the ADC sum,
    * salted two-phase top-R, and exact refine are D73's stages verbatim.
    * Pruning changes WHICH candidates exist (recall drops where the true
    * neighbor lives outside the probed cells — measured honestly by the
    * spec), never the reported distances: output distances are exact L2,
    * like every serving query in the family.
    */
  def annIvfadc(spark: SparkSession, dir: String): DataFrame =
    annIvfadcOf(vecs(spark, dir))

  private[graft] def annIvfadcOf(v: DataFrame): DataFrame = {
    // one barrier: members and probes are two filters over the same
    // corpus×centroid ranking (the ivfTopk convention)
    val ranked = graft.Checkpoints.cp(Ann.ivfRankedOf(v, refined = true))
    val members = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"))
    val probes = ranked.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("cell"))
    val cands = members.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"))
    val cb = graft.Checkpoints.cp(codebookOf(v))
    val codes = encodeOf(v, cb).select(col("vec_id"), col("m"), col("code"))
    refineExact(v,
      cands.join(codes, Seq("vec_id"))
        .join(broadcast(adcLut(v.filter(col("vec_id") < NQueries), cb)),
          Seq("q_id", "m", "code"))
        .groupBy(col("q_id"), col("vec_id").as("nb_id"))
        .agg(sum(col("d2q")).as("adc")))
  }

  /** Per-dataset, content-fingerprinted PQ index table name (the
    * AnnIndexSink convention): a rewritten corpus or a width change must
    * build a FRESH pair — serving from codes quantized under another
    * codebook would silently mis-rank, not fail.
    */
  private def tableFor(dir: String, opq: Boolean = false): String = {
    // layout tag (r9: vec_id-bucketed codes for the append/tombstone
    // lifecycle; r10: + home-cell column and the pinned `_cents` centroid
    // table for cell-pruned radius serving) — a stale pair from an earlier
    // layout must rebuild, not get appended into. The OPQ pair folds its
    // rotation into the seed: permuted codes under one name would silently
    // mis-serve un-permuted probes.
    "pq_codes_" + graft.sources.BucketedSink.nameHash(
      s"$dir\n${fpOf(dir)}\nm=$NumSubspaces\nk=$CodebookSize" +
        (if (opq) "\nopq=1" else "") + "\nlayout=bucketed-v3")
  }

  private def fpOf(dir: String): String =
    graft.sources.BucketedSink.contentFingerprint(Seq(s"$dir/embeddings.parquet"))

  /** Names an earlier layout generation would have used for this
    * dir/fingerprint/width — dropped on (re)build so superseded pairs
    * don't orphan in the warehouse forever (each layout bump changes the
    * table name, and nothing else ever references the old one).
    */
  private def legacyTablesFor(dir: String): Seq[String] = {
    val fp = fpOf(dir)
    Seq(
      // pre-r9: plain-parquet codes, no layout tag
      s"$dir\n$fp\nm=$NumSubspaces\nk=$CodebookSize",
      // r9: bucketed codes, no home-cell column / _cents table
      s"$dir\n$fp\nm=$NumSubspaces\nk=$CodebookSize\nlayout=bucketed-v2"
    ).map("pq_codes_" + graft.sources.BucketedSink.nameHash(_))
  }

  private def dropLegacy(spark: SparkSession, dir: String): Unit =
    legacyTablesFor(dir).foreach(graft.sources.BucketedSink.dropIndex(spark, _))

  /** Build a PQ pair from a FRAME (ingest pipelines index frames, not
    * dirs): train + store the codebook AND the coarse IVF centroids
    * (`_cents`, r10 — pinned at build like the codebook, so home cells and
    * probe lists can never drift from the stored codes), then encode
    * against the STORED artifacts (the pair-cannot-drift invariant) into a
    * vec_id-bucketed codes table carrying each vector's home cell — the
    * layout the append/tombstone lifecycle maintains and the cell-pruned
    * radius/streaming probes serve from.
    *
    * OVERWRITE semantics (`BucketedSink.rebuildIndex`): every table the
    * pair may own is dropped first — including the `_perm` rotation so a
    * plain rebuild over an OPQ name can never leave a stale rotation
    * beside un-permuted codes, and the codebook so the NEW corpus is never
    * encoded under the OLD one (the mixed-provenance mis-ranking the
    * tableFor scaladoc warns about).
    */
  def writePqIndexOf(v: DataFrame, table: String): Unit =
    graft.sources.BucketedSink.rebuildIndex(v.sparkSession, table)(
      writePairCore(v, table))

  /** The shared build tail over an already-laid-out corpus frame (`v` is
    * the raw corpus for the plain pair, the permuted projection for the
    * OPQ pair — stored artifacts always live in the SERVING coordinate
    * system). Runs inside the caller's `rebuildIndex`.
    */
  private def writePairCore(v: DataFrame, table: String): Unit = {
    val spark = v.sparkSession
    val cbTable = table + "_cb"
    val centTable = table + "_cents"
    codebookOf(v).write.format("parquet").saveAsTable(cbTable)
    Ann.ivfCentroidsOf(v).select(col("cell").as("cent_id"), col("cv"))
      .write.format("parquet").saveAsTable(centTable)
    graft.sources.BucketedSink.writeBucketed(
      encodeWithCells(v, spark.table(cbTable), spark.table(centTable)),
      table, "vec_id", graft.sources.BucketedSink.indexBuckets(spark),
      sortCols = Seq("vec_id", "m"))
  }

  /** (vec_id, m, code, cell): the stored-codes layout — PQ codes from the
    * given codebook plus the vector's home cell under the given centroids
    * (rn=1 of the IVF ranking — one broadcast join, no extra corpus pass
    * shuffles wide; the cell repeats per code row so the lifecycle stays
    * ONE bucketed table).
    */
  private def encodeWithCells(v: DataFrame, cb: DataFrame,
                              cents: DataFrame): DataFrame =
    encodeOf(v, cb).select(col("vec_id"), col("m"), col("code"))
      .join(Ann.rankedAgainstCents(v, cents, 1)
        .select(col("vec_id"), col("cell")), Seq("vec_id"))
      .select(col("vec_id"), col("m"), col("code"), col("cell"))

  /** Build (once) the persisted PQ pair for `dir`'s corpus: `<t>_cb` = the
    * trained codebook (M×K rows), `<t>` = the encoded corpus (vec_id, m,
    * code) — the ~32×-smaller serving copy. The pair is atomic-ish by
    * existence gate: a partial build (one half present) drops both and
    * rebuilds, and the codes are encoded against the STORED codebook so
    * the pair cannot drift. Returns the codes table name.
    */
  def ensurePqIndex(spark: SparkSession, dir: String): String = {
    val table = tableFor(dir)
    // superseded-layout names for the same dir/width are dropped alongside
    // a (re)build (r10, the orphan-cleanup contract in tableFor's scaladoc)
    graft.sources.BucketedSink.ensureIndex(spark, table, "_cb", "_cents") {
      dropLegacy(spark, dir)
      writePqIndexOf(vecs(spark, dir), table)
    }
  }

  /** Build (once) the persisted OPQ pair for `dir`'s corpus (r10 — the r9
    * verdict's "rotation table a deployment STORES next to the codebook"
    * made literal): `<t>_perm` = the D81 variance-balancing permutation
    * (pos → sub_m, slot), and the codebook/centroids/codes halves all in
    * the PERMUTED coordinate system — so serving pays the rotation once at
    * ingest and probes only re-lay-out the arriving queries. The rotation
    * is pinned with the pair exactly like the codebook: re-deriving it on
    * a drifted corpus would orphan every stored code.
    */
  def ensurePqOpqIndex(spark: SparkSession, dir: String): String = {
    val table = tableFor(dir, opq = true)
    graft.sources.BucketedSink.ensureIndex(spark, table, "_cb", "_cents", "_perm")(
      writePqOpqIndexOf(vecs(spark, dir), table))
  }

  /** The OPQ build: store the permutation FIRST, then build the pair over
    * the corpus as re-laid-out by the STORED rows (never the in-flight
    * frame — the pair-cannot-drift discipline extended to the rotation).
    */
  def writePqOpqIndexOf(v: DataFrame, table: String): Unit = {
    val spark = v.sparkSession
    val permTable = table + "_perm"
    graft.sources.BucketedSink.rebuildIndex(spark, table) {
      permAsgOf(v).select(col("pos"), col("sub_m"), col("slot"))
        .write.format("parquet").saveAsTable(permTable)
      writePairCore(applyStoredPerm(v, spark.table(permTable)), table)
    }
  }

  /** Re-lay-out vectors under a STORED (pos, sub_m, slot) rotation table —
    * the serving-side twin of permutedVecs (identical transform, the perm
    * array just comes from the persisted rows instead of a fresh
    * covariance pass). One broadcast 1-row array over one map.
    */
  private[graft] def applyStoredPerm(v: DataFrame, perm: DataFrame): DataFrame = {
    val permArr = perm
      .agg(transform(
        array_sort(collect_list(struct(col("sub_m"), col("slot"), col("pos")))),
        x => x.getField("pos")).as("perm"))
    v.crossJoin(broadcast(permArr))
      .select(col("vec_id"),
        transform(col("perm"), p => element_at(col("embedding"), p + 1))
          .as("embedding"))
  }

  /** D86: OPQ serving from the PERSISTED rotation+pair — identical contract
    * and output to D81c (the oracle reuses annPqOpqSql: the stored perm,
    * codebook and codes are the recompute's expressions verbatim, the
    * pq_index_probe convention), but the per-query cost drops to
    * query re-layout + LUT + ADC scan + R-row refine: no covariance pass,
    * no permutation derivation, no encode. The exact re-rank reads the
    * permuted floats (a permutation is orthogonal, so L2 semantics are
    * preserved; the fold order is the permuted one the oracle mirrors).
    */
  def pqOpqIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val table = ensurePqOpqIndex(spark, dir)
    servePqFrom(
      graft.Checkpoints.cp(
        applyStoredPerm(vecs(spark, dir), spark.table(table + "_perm"))),
      table)
  }

  /** Incremental ingest (r9): encode a new batch against the STORED
    * codebook — never retrain; retraining would orphan every stored code,
    * which is why real PQ deployments pin the codebook at ingest-time and
    * version it with the index — and insert into the bucketed codes table
    * through `BucketedSink.appendIndex` (idempotent, reinstating, one file
    * per bucket).
    */
  def appendPqCodes(batch: DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    graft.sources.BucketedSink.appendIndex(
        batch.select(col("vec_id"), col("embedding")), table, "vec_id") { fresh =>
      // an OPQ pair's batch is re-laid-out under the STORED rotation before
      // encoding (r10) — codes, cells and codebook all live in the permuted
      // coordinate system, and the append must land in the same one
      val laid =
        if (spark.catalog.tableExists(table + "_perm"))
          applyStoredPerm(fresh, spark.table(table + "_perm"))
        else fresh
      encodeWithCells(laid, spark.table(table + "_cb"), spark.table(table + "_cents"))
    }
  }

  /** Retract vectors from the compressed serving pair: tombstones on
    * vec_id, excluded by every probe via the driver-held takedown filter
    * in `BucketedSink.readServing` — codes-side layout and exchange count
    * unchanged (the AnnIndexSink delete contract; PqSpec pins
    * delete ≡ serve-without).
    */
  def deletePqCodes(spark: SparkSession, table: String, vecIds: DataFrame): Unit =
    graft.sources.BucketedSink.appendTombstones(spark, table,
      vecIds.select(col(vecIds.columns.head).as("vec_id")))

  /** Fold tombstones into the bucketed files and clear the tombstone
    * table; probes identical before/after. The codebook never changes —
    * compaction touches only the codes half of the pair.
    */
  def compactPq(spark: SparkSession, table: String): Unit =
    graft.sources.BucketedSink.compactTombstones(spark, table, "vec_id")

  /** D76: PQ serving from the PERSISTED pair — identical contract and
    * output to D73 (the oracle reuses annPqSql, the
    * corpus_pipeline_indexed convention: same semantics by construction,
    * since the stored codes are the encode expressions verbatim), but the
    * per-query cost drops to LUT build + ADC scan of the codes table +
    * R-row refine: no codebook training, no encode pass. The
    * pay-at-ingest path a daily ANN deployment actually runs. Reads the
    * codes through the tombstone-aware serving view (r9): deleted vectors
    * stop being nominated at the shortlist, so they can never re-surface
    * as neighbors, and the takedown filter adds no exchange.
    */
  def pqIndexProbe(spark: SparkSession, dir: String): DataFrame =
    servePqFrom(vecs(spark, dir), ensurePqIndex(spark, dir))

  /** Serve from an arbitrary persisted pair (shared by the catalog probe
    * and the lifecycle specs): queries from `v`, codebook + tombstone-aware
    * codes from `table`.
    */
  private[graft] def servePqFrom(v: DataFrame, table: String): DataFrame = {
    val spark = v.sparkSession
    servePq(v, spark.table(table + "_cb"),
      graft.sources.BucketedSink.readServing(spark, table, "vec_id")
        .select(col("vec_id"), col("m"), col("code")))
  }

  /** D88: IVFADC serving from the PERSISTED pair (r10) — the last cell of
    * the serving matrix: {top-k, radius} × {recompute, persisted} ×
    * {full-scan, cell-pruned}. D80 recomputes centroids, codebook and
    * codes per query; here everything is stored (the pq_index_probe
    * convention), so the per-query cost is probe-list ranking over the
    * pinned `_cents` + the cell-gated ADC scan + the salted top-R + the
    * R-row exact refine — the recurring cost of a deployed 10⁹-vector
    * serving tier, with the scan bounded by nprobe/cells of the codes
    * table. Output ≡ D80 (stored artifacts are the recompute's
    * expressions verbatim), so the oracle reuses annIvfadcSql; the probe
    * reads the codes tombstone-aware like every persisted serve.
    */
  def pqIvfadcProbe(spark: SparkSession, dir: String): DataFrame =
    serveIvfadcFrom(vecs(spark, dir), ensurePqIndex(spark, dir))

  /** D90: the PERSISTED "OPQ,IVF,PQ" triple (the FAISS index-string
    * composition in its pay-at-ingest form) — D89 re-derives rotation,
    * centroids, codebook and codes on every query; here all four are the
    * stored artifacts of the OPQ pair (rotation pinned first, everything
    * downstream built in the permuted coordinate system), so the
    * recurring per-query cost is: re-lay-out the arriving queries under
    * the stored `_perm` (one broadcast 1-row array over one map) +
    * probe-list ranking over the pinned permuted `_cents` + the
    * cell-gated ADC scan + the salted top-R + the R-row exact refine.
    * Output ≡ D89 (stored artifacts are the recompute's expressions
    * verbatim — the pq_index_probe convention), so the oracle reuses
    * annOpqIvfadcSql; codes are read tombstone-aware like every
    * persisted serve.
    */
  def pqOpqIvfadcProbe(spark: SparkSession, dir: String): DataFrame = {
    val table = ensurePqOpqIndex(spark, dir)
    serveIvfadcFrom(
      graft.Checkpoints.cp(
        applyStoredPerm(vecs(spark, dir), spark.table(table + "_perm"))),
      table)
  }

  /** Cell-pruned top-k from an arbitrary persisted pair (shared by the
    * plain D88 probe and the D90 triple, whose `v` arrives already
    * re-laid-out under the pair's stored rotation): probe-list over the
    * pair's `_cents`, ADC over the cell-gated codes, exact refine over
    * `v`'s own floats — so the refine's fold order always matches the
    * coordinate system the pair serves in.
    */
  private[graft] def serveIvfadcFrom(v: DataFrame, table: String): DataFrame =
    refineExact(v, cellGatedAdc(v.sparkSession, table, v.filter(col("vec_id") < NQueries)))

  /** (q_id, nb_id, adc) of every candidate in the query vectors' NProbe
    * cells — the cell-pruned ADC scan the IVFADC top-k and the radius
    * probe share: probe lists over the pair's `_cents`, codes gated by
    * their stored home cell (codes ⋈ BROADCAST probe list, map-side),
    * then the LUT join and the exact-decimal sum.
    */
  private def cellGatedAdc(spark: SparkSession, table: String, q: DataFrame): DataFrame = {
    val probes = Ann.rankedAgainstCents(q, spark.table(table + "_cents"), Ann.NProbe)
      .select(col("vec_id").as("q_id"), col("cell"))
    graft.sources.BucketedSink.readServing(spark, table, "vec_id")
      .join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .join(broadcast(adcLut(q, spark.table(table + "_cb"))), Seq("q_id", "m", "code"))
      .groupBy(col("q_id"), col("vec_id").as("nb_id"))
      .agg(sum(col("d2q")).as("adc"))
  }

  /** Recompute twin for the lifecycle specs: serve `v`'s queries against
    * codes freshly encoded from `corpus` under the STORED codebook — what
    * a from-scratch encode of the current survivor set would return.
    */
  private[graft] def servePqRecomputed(v: DataFrame, corpus: DataFrame,
                                       table: String): DataFrame = {
    val cb = v.sparkSession.table(table + "_cb")
    servePq(v, cb, encodeOf(corpus, cb).select(col("vec_id"), col("m"), col("code")))
  }

  /** D81: OPQ-lite coordinate permutation — the D74 gauge's "one hot
    * subspace" diagnosis ACTED ON. PQ's contiguous split quantizes each
    * block of adjacent dims together; when the variance is concentrated
    * (exactly what D77/D79 measure), one subspace carries most of the
    * energy and its K centroids are spread too thin while the cold
    * subspaces waste theirs — the published remedy is a rotation learned
    * from the covariance (OPQ, Ge et al., CVPR 2013). The permutation is
    * OPQ's zeroth-order form (a permutation IS an orthogonal matrix): rank
    * dims by variance (the covariance diagonal D77 computes — exact
    * doubles, identical in both engines; ties → lowest dim), then deal
    * them to subspaces in SNAKE order (block b of M ranks assigns one dim
    * per subspace, direction alternating), the classic balanced-allocation
    * heuristic — every subspace gets Dim/M dims whose variance sums are
    * near-level. Output: one row per dim — its subspace, its slot, its
    * variance. The broadcast-ready rotation table a PQ deployment stores
    * next to the codebook.
    *
    * Scale shape: the corpus is touched once (the D77 covariance pass —
    * only the diagonal is consumed); the rank/deal runs on the d-row
    * frame (a contract-bounded single-partition window, the embed_pca
    * 64-row class).
    */
  def pqPermute(spark: SparkSession, dir: String): DataFrame =
    pqPermuteOf(vecs(spark, dir))

  private[graft] def pqPermuteOf(v: DataFrame): DataFrame =
    permAsgOf(v).select(col("pos"), col("sub_m"), col("slot"),
      round(col("variance"), 8).as("variance"))

  /** (pos, sub_m, slot, variance) with the UNROUNDED variance — shared by
    * the D81 report and the permuted-encode path (which must consume the
    * same assignment both engines agree on).
    */
  private def permAsgOf(v: DataFrame): DataFrame = {
    val m = NumSubspaces
    val vars = covTriangleOf(v).filter(col("i") === col("j"))
      .select(col("i"), col("cov").as("variance"))
    // global 64-row window: contract-bounded by Dim, the embed_pca class
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("variance").desc, col("i").asc)
    vars.withColumn("r0", row_number().over(w) - 1)
      .select(col("i").as("pos"), col("variance"),
        when((col("r0") / m).cast("int") % 2 === 0, col("r0") % m)
          .otherwise(lit(m - 1) - col("r0") % m).as("sub_m"),
        (col("r0") / m).cast("int").as("slot"))
  }

  /** The corpus re-laid-out under the D81 permutation: position
    * sub_m·subDim + slot of the new vector holds original dim `pos`, so
    * the plain contiguous split now slices the BALANCED subspaces. One
    * broadcast 1-row permutation array over one corpus map — no shuffle.
    */
  private def permutedVecs(v: DataFrame): DataFrame = {
    val permArr = permAsgOf(v)
      .agg(transform(
        array_sort(collect_list(struct(col("sub_m"), col("slot"), col("pos")))),
        x => x.getField("pos")).as("perm"))
    v.crossJoin(broadcast(permArr))
      .select(col("vec_id"),
        transform(col("perm"), p => element_at(col("embedding"), p + 1))
          .as("embedding"))
  }

  /** D81b: the D74 distortion gauge under the permuted split — the row
    * pair a deployment reads to decide whether the rotation earned its
    * keep (total distortion must not rise; the per-subspace spread must
    * flatten — PqOpqSpec pins both on the testdata).
    */
  def pqOpqDistortion(spark: SparkSession, dir: String): DataFrame =
    pqOpqDistortionOf(vecs(spark, dir))

  private[graft] def pqOpqDistortionOf(v: DataFrame): DataFrame =
    pqDistortionOf(graft.Checkpoints.cp(permutedVecs(v)))

  private def permCtes: String = {
    val m = NumSubspaces
    s"""vars AS (SELECT i, cov AS variance FROM cvt WHERE i = j),
    rk AS (
      SELECT i, variance,
             row_number() OVER (ORDER BY variance DESC, i ASC) - 1 AS r0
      FROM vars),
    asg AS (
      SELECT i AS pos, variance,
             CASE WHEN (r0 // $m) % 2 = 0 THEN r0 % $m
                  ELSE $m - 1 - (r0 % $m) END AS sub_m,
             r0 // $m AS slot
      FROM rk)"""
  }

  def pqPermuteSql: String =
    s"""WITH $covTriangleCtes,
    $permCtes
    SELECT CAST(pos AS INT) AS pos, CAST(sub_m AS INT) AS sub_m,
           CAST(slot AS INT) AS slot, round(variance, 8) AS variance
    FROM asg"""

  def pqOpqDistortionSql: String =
    s"""WITH $covTriangleCtes,
    $permCtes,
    permf AS (SELECT list(pos ORDER BY sub_m, slot) AS perm FROM asg),
    pvecs AS MATERIALIZED (
      SELECT vec_id, list_transform(perm, p -> embedding[p + 1]) AS embedding
      FROM embeddings, permf),
    ${pqCtes("pvecs")}
    SELECT m, CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(CAST(d2 AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS mean_err2,
           round(max(d2), 6) AS max_err2
    FROM enc GROUP BY m"""

  /** ADC radius for the range-probe serving form (e6-quantized so the
    * config carrier stays an int; 1.2 ≈ the exact top-5 band on the
    * testdata corpus). A query-time breadth like ShortlistR — never part
    * of the stored layout.
    */
  def RadiusE6: Long = {
    val r = graft.GraftConfig.int("graft.pq.radiusE6", 1200000).toLong
    require(r > 0, s"graft.pq.radiusE6 must be > 0, got $r")
    r
  }

  /** Wide covariance aggregation (`graft.covar.wide`, default false, r10):
    * TRUE sums the e10-quantized covariance terms in DECIMAL(38,0) /
    * HUGEINT instead of the primitive long — the remedy the narrow path's
    * runtime exactness guard names once a corpus passes ~9e8 rows. Both
    * paths are bit-identical where both are exact (CovarWideSpec pins it);
    * a query-time lever like ShortlistR, never part of a stored layout.
    */
  def CovarWide: Boolean = graft.GraftConfig.bool("graft.covar.wide", false)

  /** D81c: PQ serving UNDER the D81 permutation — the rotation composed
    * into the full two-stage query path, not just gauged. Queries and
    * corpus are both re-laid-out (a permutation is orthogonal, so L2
    * distances and therefore the exact re-rank semantics are preserved —
    * the fold ORDER over coordinates changes, so reported doubles differ
    * in ulps from ann_pq's and the oracle mirrors the permuted order);
    * the ADC stage runs over the BALANCED subspaces, which is where the
    * permutation earns recall at a given M×K budget on anisotropic
    * corpora. Same salted shortlist + refine machinery as D73.
    */
  def annPqOpq(spark: SparkSession, dir: String): DataFrame =
    annPqOpqOf(vecs(spark, dir))

  private[graft] def annPqOpqOf(v: DataFrame): DataFrame =
    annPqOf(graft.Checkpoints.cp(permutedVecs(v)))

  def annPqOpqSql: String =
    s"""WITH $covTriangleCtes,
    $permCtes,
    permf AS (SELECT list(pos ORDER BY sub_m, slot) AS perm FROM asg),
    pvecs AS MATERIALIZED (
      SELECT vec_id, list_transform(perm, p -> embedding[p + 1]) AS embedding
      FROM embeddings, permf),
    ${pqCtes("pvecs")},
    ${serveTailSql(
      s"""FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
      WHERE l.q_id != e.vec_id""", refSrc = "pvecs")}"""

  /** D89: OPQ + IVF + ADC — the COMPLETE published composition (the FAISS
    * index string "OPQ,IVF,PQ"; Ge et al. CVPR'13 §5 compose their
    * rotation with Jégou et al.'s IVFADC): the variance-balancing
    * permutation re-lays-out queries and corpus, the coarse quantizer
    * prunes cells IN THE PERMUTED SPACE (a permutation is orthogonal, so
    * cosine ranks are the same geometry — only the fold order over
    * coordinates differs, which the oracle mirrors), and the ADC scan +
    * salted top-R + exact refine run over the balanced subspaces. The
    * engine composition is literally D80 over D81's projection — each
    * piece verbatim, which is the point: compositions stay correct
    * because every stage is deterministic and layout-independent.
    */
  def annOpqIvfadc(spark: SparkSession, dir: String): DataFrame =
    annIvfadcOf(graft.Checkpoints.cp(permutedVecs(vecs(spark, dir))))

  def annOpqIvfadcSql: String =
    s"""WITH $covTriangleCtes,
    $permCtes,
    permf AS (SELECT list(pos ORDER BY sub_m, slot) AS perm FROM asg),
    pvecs AS MATERIALIZED (
      SELECT vec_id, list_transform(perm, p -> embedding[p + 1]) AS embedding
      FROM embeddings, permf),
    ${Ann.ivfRankedCtesComposable("pvecs")},
    ${pqCtes("pvecs")},
    members AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id AS q_id, cell FROM ranked WHERE vec_id < $NQueries),
    cands AS (
      SELECT p.q_id, mb.vec_id FROM members mb
      JOIN probes p ON mb.cell = p.cell AND p.q_id != mb.vec_id),
    ${serveTailSql(
      s"""FROM cands cd
      JOIN enc e ON e.vec_id = cd.vec_id
      JOIN lut l ON l.q_id = cd.q_id AND l.m = e.m AND l.code = e.code""",
      refSrc = "pvecs")}"""

  /** D83: PQ radius probe — the RANGE form of compressed serving ("all
    * stored vectors within ADC distance r of the query"): top-k is a rank
    * (needs the whole candidate set), a radius is a pure per-row predicate,
    * the way the minhash probe cuts its index pairs at `est ≥ 0.5`. Same LUT join + exact-decimal ADC sum as D73's scan;
    * output is every (query, neighbor) pair inside the radius with its
    * ADC distance. Reads the persisted pair (tombstone-aware).
    */
  def pqRadius(spark: SparkSession, dir: String): DataFrame =
    servePqRadiusFrom(vecs(spark, dir), ensurePqIndex(spark, dir))

  /** The full-scan radius serve over an arbitrary persisted pair — the
    * catalog query's core, and the baseline the specs hold the
    * cell-pruned probe to (pruning may only drop its pairs).
    */
  private[graft] def servePqRadiusFrom(v: DataFrame, table: String): DataFrame = {
    val spark = v.sparkSession
    radiusCut(fullScanAdc(graft.sources.BucketedSink.readServing(spark, table, "vec_id"),
      v.filter(col("vec_id") < NQueries), spark.table(table + "_cb")))
  }

  /** The radius form's one output site: the (q_id, nb_id, adc) rows within
    * `graft.pq.radiusE6`, the exact-decimal ADC as a double rounded to 6
    * places the way the DuckDB oracle's `round(CAST(adc AS DOUBLE), 6)`
    * rounds it (`roundScaled`; Spark's `round` differs at ties the
    * scaled double misses).
    */
  private[graft] def radiusCut(adc: DataFrame): DataFrame =
    adc.filter(col("adc").cast("double") <= lit(RadiusE6 / 1e6))
      .select(col("q_id"), col("nb_id"),
        graft.functions.roundScaled(col("adc").cast("double"), 6).as("adc"))

  def pqRadiusSql: String =
    s"""WITH ${pqCtes()},
    lut AS (
      SELECT s.vec_id AS q_id, s.m, c.code,
             CAST(${l2Sql("s.sv", "c.cv", subDim)} AS DECIMAL(28,10)) AS d2q
      FROM sub s JOIN cb c USING (m) WHERE s.vec_id < $NQueries),
    adc AS (
      SELECT l.q_id, e.vec_id AS nb_id, sum(l.d2q) AS adc
      FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
      WHERE l.q_id != e.vec_id GROUP BY 1, 2)
    SELECT q_id, nb_id, round(CAST(adc AS DOUBLE), 6) AS adc
    FROM adc WHERE CAST(adc AS DOUBLE) <= ${RadiusE6 / 1e6}"""

  /** D85: cell-pruned radius probe (r10 — the r9 verdict's #1: compose
    * D80's IVF gate into the radius form). D83's radius scan still reads
    * every stored code per query batch — the documented full-ADC baseline;
    * here candidates are gated by the STORED home cell (one column of the
    * persisted pair) against the query's NProbe cell list ranked over the
    * STORED `_cents` centroids, so the probe-side exchange is bounded by
    * Q × corpus·(nprobe/cells) candidate rows instead of Q × corpus. The
    * pruning happens map-side (codes ⋈ BROADCAST probe list before
    * anything shuffles); the ADC sum and radius cut are D83's verbatim.
    * Like IVFADC, pruning changes WHICH pairs can be emitted (a within-
    * radius vector outside the probed cells is not nominated — the recall
    * trade the D84 scoreboard prices), never a reported distance.
    */
  def pqRadiusIvf(spark: SparkSession, dir: String): DataFrame =
    pqRadiusForQueries(spark, ensurePqIndex(spark, dir),
      vecs(spark, dir).filter(col("vec_id") < NQueries))

  /** The persisted pair's one radius probe: every stored vector within
    * the radius of each (vec_id, embedding) query in `queries`, among
    * the candidates in its NProbe cells, as (q_id, nb_id, adc). The
    * catalog's pq_radius_ivf passes its first-NQueries set, and
    * `StreamOps.pqProbeStream` each micro-batch; any vec_id serves as a
    * query (one row per vec_id), and a query never pairs with its own id.
    */
  private[graft] def pqRadiusForQueries(spark: SparkSession, table: String,
                                        queries: DataFrame): DataFrame =
    radiusCut(cellGatedAdc(spark, table, queries))

  /** D85 oracle: the IVF ranking pipeline and the PQ pipeline in one
    * statement (the annIvfadcSql composition), radius cut on the
    * cell-gated ADC sums.
    */
  def pqRadiusIvfSql: String =
    s"""WITH ${Ann.ivfRankedCtesComposable()},
    ${pqCtes()},
    members AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id AS q_id, cell FROM ranked WHERE vec_id < $NQueries),
    cands AS (
      SELECT p.q_id, mb.vec_id FROM members mb
      JOIN probes p ON mb.cell = p.cell AND p.q_id != mb.vec_id),
    lut AS (
      SELECT s.vec_id AS q_id, s.m, c.code,
             CAST(${l2Sql("s.sv", "c.cv", subDim)} AS DECIMAL(28,10)) AS d2q
      FROM sub s JOIN cb c USING (m) WHERE s.vec_id < $NQueries),
    adc AS (
      SELECT cd.q_id, e.vec_id AS nb_id, sum(l.d2q) AS adc
      FROM cands cd
      JOIN enc e ON e.vec_id = cd.vec_id
      JOIN lut l ON l.q_id = cd.q_id AND l.m = e.m AND l.code = e.code
      GROUP BY 1, 2)
    SELECT q_id, nb_id, round(CAST(adc AS DOUBLE), 6) AS adc
    FROM adc WHERE CAST(adc AS DOUBLE) <= ${RadiusE6 / 1e6}"""

  /** D74: PQ distortion gauge — per subspace: vectors encoded, mean and max
    * squared quantization error. The QC row a serving deployment reads
    * before trusting ADC ranks: distortion that is flat across subspaces
    * and small vs the mean inter-vector distance means the codebook width
    * (K) is adequate; one hot subspace means the energy is concentrated
    * and M's contiguous split needs a rotation (OPQ) or a wider K. Mean
    * via exact decimal sums; max of double is order-independent.
    */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame =
    pqDistortionOf(vecs(spark, dir))

  private[graft] def pqDistortionOf(v: DataFrame): DataFrame = {
    val cb = graft.Checkpoints.cp(codebookOf(v))
    encodeOf(v, cb)
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d2").cast("decimal(28,10)")).as("s"),
        max(col("d2")).as("mx"))
      .select(col("m"), col("n_vecs"),
        round(col("s").cast("double") / col("n_vecs"), 6).as("mean_err2"),
        round(col("mx"), 6).as("max_err2"))
  }

  /** Exact L2 top-k over the full corpus — the ground truth D78's recall
    * QC grades the PQ tier against (brute-force shape: broadcast query
    * set over one corpus scan; same tie-breaks as the serving ranks).
    */
  private[graft] def exactL2TopK(v: DataFrame): DataFrame = {
    val q = v.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val scored = broadcast(q)
      .crossJoin(v.select(col("vec_id").as("nb_id"), col("embedding").as("nvec")))
      .filter(col("q_id") =!= col("nb_id"))
      .withColumn("d2", l2(col("qvec"), col("nvec"), Dim))
    topK(scored, Seq(col("q_id")), Seq(col("d2").asc, col("nb_id").asc), TopK)
      .select(col("q_id"), col("nb_id"))
  }

  /** D78: PQ recall QC — per query: exact-L2 top-k size, how many of those
    * the two-stage PQ serving returned, recall in exact basis points. The
    * D51 pattern applied to the compressed tier: the number a deployment
    * watches when it tunes M/K/R (raise any of them until this row says
    * the shortlist stopped losing true neighbors). All-integer output.
    */
  def pqRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val exact = exactL2TopK(v)
    val hits = annPqOf(v).select(col("q_id"), col("nb_id"), lit(1L).as("hit"))
    exact.join(hits, Seq("q_id", "nb_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .withColumn("recall_bp", expr("n_hit * 10000 div n_exact"))
  }

  /** D84: serving-tier recall scoreboard — the three compressed serving
    * paths (full ADC+R, IVFADC cell-pruned, permutation-composed) graded
    * against the SAME exact-L2 ground truth in one query: per (method,
    * query): exact top-k size, hits, recall in exact basis points. The
    * one sheet a deployment reads when choosing its serving shape: what
    * cell pruning costs in recall at its scan savings, and what the
    * rotation buys back at a fixed M×K budget. Exact-integer output;
    * the ground truth is computed once and reused across methods.
    */
  def annRecallMatrix(spark: SparkSession, dir: String): DataFrame =
    annRecallMatrixOf(vecs(spark, dir))

  private[graft] def annRecallMatrixOf(v: DataFrame): DataFrame = {
    val exact = graft.Checkpoints.cp(exactL2TopK(v))
    def grade(method: String, approx: DataFrame): DataFrame =
      exact.join(
        approx.select(col("q_id"), col("nb_id"), lit(1L).as("hit")),
        Seq("q_id", "nb_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
        .select(lit(method).as("method"), col("q_id"),
          col("n_exact"), col("n_hit"),
          expr("n_hit * 10000 div n_exact").as("recall_bp"))
    grade("pq", annPqOf(v))
      .union(grade("ivfadc", annIvfadcOf(v)))
      .union(grade("pq_opq", annPqOpqOf(v)))
  }

  def annRecallMatrixSql: String = {
    // each serving pipeline nests as its own (WITH ... SELECT) derived
    // table — their CTE namespaces intentionally repeat across methods,
    // so they cannot share one WITH block
    def gradeSql(method: String, servingSql: String) =
      s"""SELECT '$method' AS method, e.q_id,
             CAST(count(*) AS BIGINT) AS n_exact,
             CAST(count(a.nb_id) AS BIGINT) AS n_hit,
             CAST(count(a.nb_id) * 10000 // count(*) AS BIGINT) AS recall_bp
      FROM exact e LEFT JOIN ($servingSql) a
        ON e.q_id = a.q_id AND e.nb_id = a.nb_id
      GROUP BY e.q_id"""
    s"""WITH exact AS ($exactL2Sql)
    ${gradeSql("pq", annPqSql)}
    UNION ALL
    ${gradeSql("ivfadc", annIvfadcSql)}
    UNION ALL
    ${gradeSql("pq_opq", annPqOpqSql)}"""
  }

  private def exactL2Sql: String =
    s"""SELECT q_id, nb_id FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS nb_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${l2Sql("q.embedding", "c.embedding", Dim)} ASC,
                 c.vec_id ASC) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < $NQueries) WHERE rank <= $TopK"""

  def pqRecallReportSql: String =
    s"""WITH exact AS ($exactL2Sql),
    approx AS ($annPqSql)
    SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
      CAST(count(a.nb_id) AS BIGINT) AS n_hit,
      CAST(count(a.nb_id) * 10000 // count(*) AS BIGINT) AS recall_bp
    FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.nb_id = a.nb_id
    GROUP BY e.q_id"""

  /** D77: exact embedding covariance — the upper triangle of the d×d
    * covariance matrix in one corpus pass. This is the training input for
    * the rotations PQ deployments actually run (OPQ learns R from the
    * covariance structure; whitening divides it out) and D74's "one hot
    * subspace" diagnosis quantified: off-block covariance mass is exactly
    * the energy a contiguous split loses.
    *
    * Scale shape: each row map-side generates its d(d+1)/2 products
    * (one Generate, no self-join — the corpus is never joined to itself),
    * partial-aggregated into d(d+1)/2 decimal sums; the only exchange
    * carries the 2 080 groups' partials. Dim means ride a second 64-group
    * pass. cov = Σxy/n − x̄·ȳ assembled in doubles FROM the exact decimal
    * sums (identical operand order in both engines). The oracle computes
    * the identical sums via a vec_id-equality self-join — fine at oracle
    * scale, deliberately NOT the engine plan.
    */
  def embedCovar(spark: SparkSession, dir: String): DataFrame =
    embedCovarOf(vecs(spark, dir))

  private[graft] def embedCovarOf(v: DataFrame): DataFrame =
    covTriangleOf(v).select(col("i"), col("j"), col("n"),
      round(col("cov"), 8).as("cov"))

  /** Upper-triangle covariance with the UNROUNDED double value — the
    * shared core of D77's report (rounded for the gate) and D79's power
    * iteration (which must consume the exact doubles both engines agree
    * on, not re-derive them).
    */
  private def covTriangleOf(v: DataFrame): DataFrame = {
    val x = v.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("i", "xe")))
      .select(col("vec_id"), col("i"), col("xe").cast("double").as("x"))
    // mx/cnt ride the dims pass for free: they feed the exactness-bound
    // guard below (no extra corpus scan)
    val dims = x.groupBy(col("i"))
      .agg(sum(col("x").cast("decimal(28,10)")).as("sx"),
        max(abs(col("x"))).as("mx"), count(lit(1)).as("cnt"))
    // per-row generation of the upper-triangle products: explode the row
    // into (i, xi, tail = embedding[i..]) first, then one flat transform
    // over the tail — each product lands as an e10-quantized LONG
    // (round-half-away-from-zero, identical in both engines), so the hot
    // aggregate sums primitive longs instead of allocating 2 080 Decimals
    // per row. Exactness bound: |x| ≤ ~1 ⇒ |p·e10| ≤ 1e10 per term, so the
    // per-group long sum holds to ~9e8 corpus rows; past that, widen the
    // sum to decimal at the agg (the quantization itself stays exact).
    val pairs = v
      .select(posexplode(col("embedding")).as(Seq("i", "xe")), col("embedding"))
      .select(col("i"),
        posexplode(transform(slice(col("embedding"), col("i") + 1, lit(Dim) - col("i")),
          xj => round(col("xe").cast("double") * xj.cast("double") * 1e10, 0)
            .cast("long"))).as(Seq("dj", "p")))
    // graft.covar.wide (r10, the r9 guard's documented remedy made a
    // config): TRUE routes the same e10-quantized terms through
    // DECIMAL(38,0) — exact to ~1e28 ROWS, so the long-sum guard below is
    // unnecessary and skipped; the oracle mirrors in HUGEINT. The terms
    // themselves are identical longs either way, so both paths produce the
    // same integer sum and therefore the SAME doubles (spec-pinned) — the
    // trade is purely hot-aggregate cost (primitive long adds vs Decimal),
    // which is why narrow stays the default under the guard.
    val cross = pairs.select(col("i"), (col("i") + col("dj")).as("j"), col("p"))
      .groupBy(col("i"), col("j"))
      .agg((if (CovarWide) sum(col("p").cast("decimal(38,0)"))
            else sum(col("p"))).as("sxy_e10"),
        count(lit(1)).as("n"))
    // Runtime guard on the long-sum exactness bound (r9, ADVICE; narrow
    // path only): past |Σ p| ≈ 9.2e18 Spark's sum(long) wraps SILENTLY
    // while DuckDB's BIGINT sum widens to HUGEINT — the engines would
    // diverge on corrupted covariance instead of failing. Per-group
    // |Σ p| ≤ n_rows · (mx²·1e10 + 0.5), checked against half of
    // Long.MaxValue; the inputs (global max |x|, per-dim row count) ride
    // the broadcast dims frame, so the guard costs one 1-row aggregate.
    // assert_true returns NULL on pass, so the filter keeps every row and
    // the check cannot be pruned. Exceeding it is a deployment-config
    // error — fail loud, never wrap; the remedy is the config above.
    val bound = dims.agg(max(col("mx")).as("mxx"), max(col("cnt")).as("nmax"))
    val guarded =
      if (CovarWide) cross
      else cross
        .crossJoin(broadcast(bound))
        .filter(assert_true(
          // coalesce(…, true): an EMPTY corpus aggregates NULL bounds —
          // nothing can overflow, so the guard must pass, not raise
          // (assert_true treats a NULL condition as failure)
          coalesce(col("nmax").cast("double") *
            (col("mxx") * col("mxx") * lit(1e10) + lit(0.5)) < lit(4.6e18),
            lit(true)),
          lit("embed_covar: e10-quantized long sum would exceed the exact " +
            "range (max|x|^2 * 1e10 * rows > 4.6e18); set -Dgraft.covar" +
            ".wide=true (decimal aggregate) or rescale the embeddings"))
          .isNull)
        .select(col("i"), col("j"), col("sxy_e10"), col("n"))
    guarded
      .join(broadcast(dims.select(col("i"), col("sx").as("sxi"))), Seq("i"))
      .join(broadcast(dims.select(col("i").as("j"), col("sx").as("sxj"))), Seq("j"))
      .select(col("i"), col("j"), col("n"),
        ((col("sxy_e10").cast("double") / 1e10) / col("n") -
          (col("sxi").cast("double") / col("n")) *
            (col("sxj").cast("double") / col("n"))).as("cov"))
  }

  /** Shared oracle CTEs ending in `cvt(i, j, n, cov)` — the unrounded
    * triangle (mirrors covTriangleOf; D77 rounds it, D79 iterates on it).
    */
  private def covTriangleCtes: String =
    s"""e AS MATERIALIZED (
      SELECT vec_id, CAST(p.i AS INT) AS i,
             CAST(embedding[p.i + 1] AS DOUBLE) AS x
      FROM embeddings, range(0, $Dim) p(i)),
    dims AS (
      SELECT i, sum(CAST(x AS DECIMAL(28,10))) AS sx FROM e GROUP BY 1),
    crs AS (
      SELECT a.i AS i, b.i AS j,
             sum(CAST(round(a.x * b.x * 1e10, 0)
                 AS ${if (CovarWide) "HUGEINT" else "BIGINT"})) AS sxy_e10,
             CAST(count(*) AS BIGINT) AS n
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2),
    cvt AS (
      SELECT c.i, c.j, c.n,
             (CAST(c.sxy_e10 AS DOUBLE) / 1e10) / c.n
               - (CAST(di.sx AS DOUBLE) / c.n) * (CAST(dj.sx AS DOUBLE) / c.n)
               AS cov
      FROM crs c
        JOIN dims di ON di.i = c.i
        JOIN dims dj ON dj.i = c.j)"""

  def embedCovarSql: String =
    s"""WITH $covTriangleCtes
    SELECT i, j, n, round(cov, 8) AS cov FROM cvt"""

  /** Power-iteration steps for D79 (`graft.pca.iters`, default 8). Fixed
    * count, no convergence test — determinism over adaptivity (the oracle
    * unrolls the identical count; convergence quality is spec-asserted on
    * a corpus with a known dominant direction).
    */
  def PcaIters: Int = {
    val t = graft.GraftConfig.int("graft.pca.iters", 8)
    require(t >= 1 && t <= 16, s"graft.pca.iters must be in [1,16], got $t")
    t
  }

  /** Components emitted by D79 (`graft.pca.components`, default 4, r9):
    * OPQ/whitening need a BASIS, not one axis — components 2..m come from
    * Hotelling deflation (C ← C − λ·v·vᵀ, power-iterate again), every op
    * correctly-rounded on identical operands so the whole basis
    * hash-checks. Capped at Dim/4: deflation error compounds past the
    * leading subspace, and the rotation consumers only want the top few.
    */
  def PcaComponents: Int = {
    val m = graft.GraftConfig.int("graft.pca.components", 4)
    require(m >= 1 && m <= Dim / 4,
      s"graft.pca.components must be in [1, ${Dim / 4}], got $m")
    m
  }

  /** D79: top-m principal components by distributed power iteration with
    * Hotelling deflation — the basis OPQ/whitening (D77's consumers)
    * rotate against, computed end-to-end IN the engine with cross-engine
    * bit-exactness. One covariance pass (the D77 core, unrounded), then
    * per component: T fixed iterations of v ← C·v / ‖C·v‖ over the
    * broadcast 64-row matrix, Rayleigh eigenvalue, and the deflation
    * C ← C − λ·v·vᵀ before the next component. Every op is
    * add/sub/mul/div/sqrt on identical operands in identical
    * (left-to-right) fold order — all IEEE correctly-rounded, so Spark and
    * DuckDB walk the exact same float path and the whole m-component basis
    * hash-checks like a table scan. v₀ = uniform 1/8 (exactly
    * representable) for every component.
    *
    * Scale shape: the corpus is touched ONCE (the covariance pass); the
    * m·T iteration runs on the d×d matrix — 64 rows — as eager 1-row
    * barriers, cluster-trivial by construction. Output: m×Dim rows
    * (comp, pos, w, eigenvalue, explained_bp) — explained share against
    * the ORIGINAL trace, floor'd to basis points (Spark CAST truncates
    * where DuckDB CAST rounds, so the integerization is an explicit floor
    * in both).
    */
  def embedPca(spark: SparkSession, dir: String): DataFrame =
    embedPcaOf(vecs(spark, dir))

  private[graft] def embedPcaOf(v: DataFrame): DataFrame = {
    // one barrier: the triangle feeds the mirror-union (both branches) and
    // the diag — without it the covariance pass would run three times
    val tri = graft.Checkpoints.cp(covTriangleOf(v))
    val full = tri.select(col("i"), col("j"), col("cov"))
      .union(tri.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov")))
    val crows0 = graft.Checkpoints.cp(
      full.groupBy(col("i"))
        .agg(transform(array_sort(collect_list(struct(col("j"), col("cov")))),
          p => p.getField("cov")).as("carr")))
    // try_element_at: identical to element_at on the dense Dim-length
    // contract, NULL instead of ANSI error on the 1-row-empty-array frames
    // an EMPTY corpus produces (the r9 eager barriers evaluate these folds
    // where the r8 lazy plan never did) — empty in, zero rows out
    def fold(a: Column, b: Column): Column =
      (0 until Dim).map(j =>
        try_element_at(a, lit(j + 1)) * try_element_at(b, lit(j + 1))).reduce(_ + _)
    // C·v as an ordered 1-row array (collect_list sorted by row index)
    def matvec(crows: DataFrame, vf: DataFrame): DataFrame =
      crows.crossJoin(broadcast(vf))
        .select(col("i"), fold(col("carr"), col("varr")).as("z"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("z")))),
          p => p.getField("z")).as("za"))
    val v0 = v.sparkSession.range(1)
      .select(typedLit(Seq.fill(Dim)(0.125)).as("varr"))
    val diag = tri.filter(col("i") === col("j"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cov")))),
        p => p.getField("cov")).as("darr"))
    val traceF = graft.Checkpoints.cp(diag.select(
      (0 until Dim).map(j => try_element_at(col("darr"), lit(j + 1)))
        .reduce(_ + _).as("trace")))
    var crows = crows0
    val comps = (1 to PcaComponents).map { c =>
      // per-step eager barrier: measured better than lazily chaining the T
      // steps into one plan (Catalyst analysis of the T-deep nest costs
      // more than T tiny scheduled jobs: 5.3 s vs 6.5 s at sf0.1, and an
      // unbarriered chain re-executes per downstream reference)
      val vT = (1 to PcaIters).foldLeft(v0) { (vf, _) =>
        graft.Checkpoints.cp(matvec(crows, vf)
          .select(transform(col("za"),
            x => x / sqrt(fold(col("za"), col("za")))).as("varr")))
      }
      val lamF = graft.Checkpoints.cp(
        matvec(crows, vT).crossJoin(broadcast(vT))
          .select(fold(col("varr"), col("za")).as("lambda")))
      if (c < PcaComponents)
        // Hotelling deflation on the 64-row matrix: carr[j] − λ·v[i]·v[j]
        // (left-to-right mul order — the oracle writes the same)
        crows = graft.Checkpoints.cp(
          crows.crossJoin(broadcast(vT)).crossJoin(broadcast(lamF))
            .select(col("i"), transform(col("carr"), (x, j) =>
              x - col("lambda") * element_at(col("varr"), col("i") + 1) *
                element_at(col("varr"), j + 1)).as("carr")))
      vT.crossJoin(broadcast(lamF)).crossJoin(broadcast(traceF))
        .select(lit(c).as("comp"), posexplode(col("varr")).as(Seq("pos", "w")),
          col("lambda"), col("trace"))
        .select(col("comp"), col("pos"), round(col("w"), 6).as("w"),
          round(col("lambda"), 8).as("eigenvalue"),
          when(col("trace") > 0,
            floor(col("lambda") / col("trace") * 10000).cast("bigint"))
            .as("explained_bp"))
    }
    comps.reduce(_ union _)
  }

  def embedPcaSql: String = {
    val t = PcaIters
    val nc = PcaComponents
    def mv(crows: String) =
      s"list_sum(list_transform(range(1, ${Dim + 1}), j -> $crows.carr[j] * varr[j]))"
    val compCtes = (1 to nc).map { c =>
      val steps = (1 to t).map { k =>
        s"""z${c}_$k AS (
      SELECT list(z ORDER BY i) AS za FROM (
        SELECT cr.i, ${mv("cr")} AS z FROM crows$c cr, v${c}_${k - 1})),
    v${c}_$k AS (
      SELECT list_transform(za,
        x -> x / sqrt(list_sum(list_transform(za, y -> y * y)))) AS varr
      FROM z${c}_$k)"""
      }.mkString(",\n    ")
      val deflate = if (c < nc)
        s""",
    crows${c + 1} AS MATERIALIZED (
      SELECT cr.i,
             list(cr.carr[p.j + 1] - lambda * varr[cr.i + 1] * varr[p.j + 1]
                  ORDER BY p.j) AS carr
      FROM crows$c cr, range(0, $Dim) p(j), lam$c, v${c}_$t
      GROUP BY cr.i)"""
      else ""
      s"""v${c}_0 AS (SELECT list_transform(range(0, $Dim), x -> CAST(0.125 AS DOUBLE)) AS varr),
    $steps,
    zf$c AS (
      SELECT list(z ORDER BY i) AS za FROM (
        SELECT cr.i, ${mv("cr")} AS z FROM crows$c cr, v${c}_$t)),
    lam$c AS (
      SELECT list_sum(list_transform(range(1, ${Dim + 1}), j -> varr[j] * za[j])) AS lambda
      FROM zf$c, v${c}_$t)$deflate"""
    }.mkString(",\n    ")
    val unions = (1 to nc).map { c =>
      s"""SELECT CAST($c AS INT) AS comp, CAST(p.pos AS INT) AS pos,
           round(varr[p.pos + 1], 6) AS w,
           round(lambda, 8) AS eigenvalue,
           CASE WHEN trace > 0
             THEN CAST(floor(lambda / trace * 10000) AS BIGINT) END AS explained_bp
    FROM v${c}_$t, lam$c, tr, range(0, $Dim) p(pos)"""
    }.mkString("\n    UNION ALL\n    ")
    s"""WITH $covTriangleCtes,
    fullm AS (
      SELECT i, j, cov FROM cvt
      UNION ALL
      SELECT j AS i, i AS j, cov FROM cvt WHERE i != j),
    crows1 AS MATERIALIZED (
      SELECT i, list(cov ORDER BY j) AS carr FROM fullm GROUP BY i),
    diag AS (SELECT list(cov ORDER BY i) AS darr FROM cvt WHERE i = j),
    tr AS (SELECT list_sum(darr) AS trace FROM diag),
    $compCtes
    $unions"""
  }

  /** Shared oracle CTE prefix: subvector explode → seed assignment → one
    * decimal-exact Lloyd step → codebook → encode (code + error). The
    * argmins use window-rn form — same (d2 asc, code asc) order as the
    * engine's min(struct), so identical selections. The internal CTEs are
    * pq_-prefixed so the block composes with ivfRankedCtes (D80's oracle
    * runs both pipelines in one statement); `src` lets the OPQ variant
    * train/encode over the permuted projection instead of `embeddings`.
    */
  private def pqCtes(src: String = "embeddings"): String = {
    val s = subDim
    s"""sub AS MATERIALIZED (
      SELECT vec_id, CAST(t.m AS INT) AS m,
             embedding[t.m * $s + 1 : t.m * $s + $s] AS sv
      FROM $src, range(0, $NumSubspaces) t(m)),
    pq_seeds AS (
      SELECT m, CAST(vec_id AS INT) AS code, sv AS cv
      FROM sub WHERE vec_id < $CodebookSize),
    pq_a0 AS (
      SELECT s.vec_id, s.m, s.sv, d.code, ${l2Sql("s.sv", "d.cv", s)} AS d2
      FROM sub s JOIN pq_seeds d USING (m)),
    pq_a1 AS (
      SELECT m, code, sv FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
          ORDER BY d2 ASC NULLS FIRST, code ASC) AS rn FROM pq_a0) WHERE rn = 1),
    pq_sums AS (
      SELECT m, code, CAST(p.pos AS INT) AS pos,
             sum(CAST(CAST(sv[p.pos + 1] AS DOUBLE) AS DECIMAL(28,10))) AS sm,
             count(*) AS n
      FROM pq_a1, range(0, $s) p(pos) GROUP BY 1, 2, 3),
    cb AS MATERIALIZED (
      SELECT m, code, list(CAST(CAST(sm AS DOUBLE) / n AS FLOAT) ORDER BY pos) AS cv
      FROM pq_sums GROUP BY m, code),
    e0 AS (
      SELECT s.vec_id, s.m, c.code, ${l2Sql("s.sv", "c.cv", s)} AS d2
      FROM sub s JOIN cb c USING (m)),
    enc AS MATERIALIZED (
      SELECT vec_id, m, code, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
          ORDER BY d2 ASC NULLS FIRST, code ASC) AS rn FROM e0) WHERE rn = 1)"""
  }

  /** The serve tail (LUT → ADC sum over `adcFrom` → top-R shortlist →
    * exact refine) shared by annPqSql, annIvfadcSql, and annPqOpqSql;
    * `adcFrom` is the FROM/WHERE clause naming which (enc × lut) rows
    * enter the ADC sum — the full corpus for D73, the cell-pruned
    * candidates for D80; `refSrc` is the float table the exact re-rank
    * reads (the permuted projection for D81c).
    */
  private def serveTailSql(adcFrom: String, refSrc: String = "embeddings"): String =
    s"""lut AS (
      SELECT s.vec_id AS q_id, s.m, c.code,
             CAST(${l2Sql("s.sv", "c.cv", subDim)} AS DECIMAL(28,10)) AS d2q
      FROM sub s JOIN cb c USING (m) WHERE s.vec_id < $NQueries),
    adc AS (
      SELECT l.q_id, e.vec_id AS nb_id, sum(l.d2q) AS adc
      $adcFrom GROUP BY 1, 2),
    shortlist AS (
      SELECT q_id, nb_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY adc ASC, nb_id ASC) AS srank FROM adc)
      WHERE srank <= $ShortlistR)
    SELECT q_id, nb_id, rank, round(d2, 6) AS l2_dist FROM (
      SELECT s.q_id, s.nb_id,
             ${l2Sql("q.embedding", "n.embedding", Dim)} AS d2,
             row_number() OVER (PARTITION BY s.q_id
               ORDER BY ${l2Sql("q.embedding", "n.embedding", Dim)} ASC,
                 s.nb_id ASC) AS rank
      FROM shortlist s
        JOIN $refSrc q ON q.vec_id = s.q_id
        JOIN $refSrc n ON n.vec_id = s.nb_id)
    WHERE rank <= $TopK"""

  def annPqSql: String =
    s"""WITH ${pqCtes()},
    ${serveTailSql(
      s"""FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
      WHERE l.q_id != e.vec_id""")}"""

  /** D80 oracle: the IVF ranking pipeline (ivfRankedCtesAt — seeds, one
    * Lloyd step, per-vector cell ranks) and the PQ pipeline (pqCtes) run
    * in ONE statement; the ADC sum is restricted to candidates whose home
    * cell (rn=1) is in the query's probe list (rn ≤ NProbe).
    */
  def annIvfadcSql: String =
    s"""WITH ${Ann.ivfRankedCtesComposable()},
    ${pqCtes()},
    members AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id AS q_id, cell FROM ranked WHERE vec_id < $NQueries),
    cands AS (
      SELECT p.q_id, mb.vec_id FROM members mb
      JOIN probes p ON mb.cell = p.cell AND p.q_id != mb.vec_id),
    ${serveTailSql(
      s"""FROM cands cd
      JOIN enc e ON e.vec_id = cd.vec_id
      JOIN lut l ON l.q_id = cd.q_id AND l.m = e.m AND l.code = e.code""")}"""

  def pqDistortionSql: String =
    s"""WITH ${pqCtes()}
    SELECT m, CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(CAST(d2 AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS mean_err2,
           round(max(d2), 6) AS max_err2
    FROM enc GROUP BY m"""
}
