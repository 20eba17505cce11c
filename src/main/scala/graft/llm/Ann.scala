package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Relational.{lookupJoin, topK}

/** Similarity search over the embeddings table (SURVEY.md §2.D, D5-D7).
  *
  * Scale design: brute-force top-k broadcasts the (small) query set over the
  * corpus scan — one pass, no shuffle of the corpus. The LSH variant buckets
  * by a random-hyperplane signature so the 100 TB path shuffles once by
  * bucket; hyperplanes are md5-derived (deterministic, no RNG state).
  * Dot products fold left-to-right in double precision in both engines.
  */
object Ann {

  val Dim = 64

  /** Left-to-right double dot product of two float-array columns — the
    * native codegen'd expression (graft.functions.VecDot); the HOF
    * route (zip_with + aggregate) computes the identical fold but allocates
    * a zipped array per row.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot(a, b)
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, $Dim + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def norm(a: Column): Column = sqrt(dot(a, a))
  private def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** The cosine top-5 tail every ANN candidate join ends in: cosine of
    * each (q_id, qv, nb_id, cv) pair, ranked per query (cos desc, ties →
    * lowest nb_id), as (q_id, nb_id, rank, cos_sim). `bestOf` first keeps
    * each pair's best cosine: a multi-probe pair can meet in several
    * probed buckets.
    */
  private def cosTop5(bestOf: Boolean = false)(pairs: DataFrame): DataFrame = {
    val scored = pairs
      .withColumn("cos", dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))))
    val best =
      if (bestOf) scored.groupBy(col("q_id"), col("nb_id")).agg(max(col("cos")).as("cos"))
      else scored
    topK(best, Seq(col("q_id")), Seq(col("cos").desc, col("nb_id").asc), 5)
      .select(col("q_id"), col("nb_id"), col("rank"), round(col("cos"), 4).as("cos_sim"))
  }

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    // spread the single-file scan before the family's CPU-bound per-row
    // work (dot folds, argmins) — no-op on a multi-split cluster scan
    Tables.spreadIfNarrow(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "vec_id")

  /** Banded random-hyperplane LSH for the near-dup candidate join: EmbBands
    * bands of EmbPlanesPerBand hyperplanes each (same md5-derived ±1 family
    * as lshBucket, plane j = band·P + row). Two vectors are candidates iff
    * they agree on every plane of SOME band — the signed-random-projection
    * analogue of dedup_minhash's band buckets. Recall at cos θ is
    * 1-(1-p^P)^B with p = 1-θ/π (≈0.87 at cos 0.8, ≈0.95 at cos 0.9 for
    * 4×4); the 100 TB lever is P: bucket count per band is 2^P, so raising
    * P (e.g. 16 → 65k buckets) keeps per-bucket pair generation bounded
    * while B compensates recall. Both are live config since r8
    * (graft.ann.embBands / graft.ann.embPlanesPerBand, defaults = the
    * test-scale 4×4) and thread through the oracle-SQL generator too —
    * AnnWidthSpec pins the two-engine agreement at non-default widths and
    * the candidate-volume scaling that makes P the lever.
    */
  def EmbBands: Int = {
    val b = graft.GraftConfig.int("graft.ann.embBands", 4)
    require(b >= 1, s"graft.ann.embBands must be >= 1, got $b")
    // plane index band·P + row must stay clear of the ReducePlaneBase
    // (=1000) family embed_reduce draws from the same sign generator —
    // validate the PRODUCT here (the one place both knobs combine)
    require(b * EmbPlanesPerBand <= ReducePlaneBase,
      s"graft.ann.embBands * embPlanesPerBand must be <= $ReducePlaneBase " +
        s"(the embed_reduce plane family starts there), got $b * $EmbPlanesPerBand")
    b
  }
  def EmbPlanesPerBand: Int = {
    val p = graft.GraftConfig.int("graft.ann.embPlanesPerBand", 4)
    require(p >= 1 && p <= 30, s"graft.ann.embPlanesPerBand must be in [1,30], got $p")
    p
  }

  private def embPlaneBit(v: Column, j: Int): Column =
    when(planeProj(v, j) > 0, lit(1)).otherwise(0)

  /** D5: embedding-cosine near-dup pairs (cos ≥ 0.8). Candidates come from
    * the banded-LSH equality join above — one shuffle keyed by
    * (band_idx, band_key), pair generation confined to buckets, never
    * all-pairs (the pre-round-3 crossJoin form was the engine's last O(n²)
    * join). A pair matching several bands dedups via the final distinct.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingOf(vecs(spark, dir))

  /** Banded LSH signature rows at the CURRENT width config. Plane bits as
    * separate columns (one native projection each), materialized BEFORE
    * the band explode: the barrier stops project-collapse from inlining
    * them into the explode, where every band row would recompute every
    * plane, AND lets both sides of the bucket self-join reuse the computed
    * projections.
    */
  private def embBanded(v: DataFrame): DataFrame = {
    val nPlanes = EmbBands * EmbPlanesPerBand
    val sigs = graft.Checkpoints.cp(
      v.select(
        col("vec_id") +: col("embedding") +:
          (0 until nPlanes).map(j => embPlaneBit(col("embedding"), j).as(s"pb$j")): _*))
    val bandCols = (0 until EmbBands).map { b =>
      val key = (0 until EmbPlanesPerBand)
        .map(r => col(s"pb${b * EmbPlanesPerBand + r}") * (1 << r)).reduce(_ + _)
      struct(lit(b).as("band_idx"), key.as("band_key"))
    }
    sigs
      .withColumn("band", explode(array(bandCols: _*)))
      .select(col("vec_id"), col("embedding"), col("band.band_idx"), col("band.band_key"))
  }

  private[graft] def dedupEmbeddingOf(v: DataFrame): DataFrame = {
    val banded = embBanded(v)
    val a = banded.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("band_idx"), col("band_key"))
    val c = banded.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("band_idx"), col("band_key"))
    a.join(c, Seq("band_idx", "band_key")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (norm(col("va")) * norm(col("vb"))))
      .filter(col("cos") >= 0.8)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"))
      .distinct()
  }

  /** Candidate-join volume at the current width config (spec/tuning probe,
    * not a catalog query): the banded self-join's row count BEFORE the
    * cosine confirm — the quantity the `graft.ann.*` widths exist to
    * bound, measured so AnnWidthSpec can pin (a) strictly smaller volume
    * at a wider P and (b) the superlinear growth with corpus size at a
    * FIXED width that makes the lever necessary.
    */
  private[graft] def embCandidateRows(v: DataFrame): Long = {
    val banded = embBanded(v)
    banded.select(col("vec_id").as("id_a"), col("band_idx"), col("band_key"))
      .join(banded.select(col("vec_id").as("id_b"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b")).count()
  }
  /** SQL twin of `embBanded`'s band rows: same ±1 signs, same
    * left-to-right fold as the Spark expression (see annLshSql IEEE
    * notes), emitted per band — shared by the pair oracle and D69's
    * occupancy audit.
    */
  private def embBandedSqlRows: String = {
    def bandKeyExpr(b: Int): String =
      (0 until EmbPlanesPerBand).map { r =>
        val j = b * EmbPlanesPerBand + r
        val proj = (0 until Dim).map { d =>
          val term = s"CAST(embedding[${d + 1}] AS DOUBLE)"
          val s = planeSign(j, d)
          if (d == 0) { if (s > 0) term else s"(- $term)" }
          else { if (s > 0) s"+ $term" else s"- $term" }
        }.mkString(" ")
        s"(CASE WHEN ($proj) > 0 THEN ${1 << r} ELSE 0 END)"
      }.mkString(" + ")
    (0 until EmbBands).map { b =>
      s"SELECT vec_id, embedding, $b AS band_idx, ${bandKeyExpr(b)} AS band_key FROM embeddings"
    }.mkString("\n      UNION ALL ")
  }

  /** The banded-LSH bucket rows D5's candidate join consumes, exposed for
    * D69's occupancy report. */
  private[graft] def embBandedRows(spark: SparkSession, dir: String): DataFrame =
    embBanded(vecs(spark, dir))

  /** D69 oracle piece: per-band occupancy of the embedding-LSH layout at
    * the live `graft.ann.*` widths (parenthesized for IndexQc's UNION).
    */
  private[graft] def embLshOccupancySql: String =
    s"""(WITH embband AS MATERIALIZED ($embBandedSqlRows),
    bc AS (SELECT band_idx, band_key, CAST(count(*) AS BIGINT) AS c
           FROM embband GROUP BY band_idx, band_key)
    SELECT 'emb_lsh' AS family, CAST(band_idx AS INTEGER) AS block_idx,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_pairs
    FROM bc GROUP BY band_idx)"""

  /** D69: the serving structures' bucket rows, exposed for the occupancy
    * report. Both are single-block structures (block_idx 0): `ann_lsh` is
    * the 2^NumPlanes single-table layout every probe (and the persisted
    * AnnIndexSink) hashes into; `ivf` is the refined-centroid rn=1 cell
    * assignment whose within-cell sizes bound dedup_semantic/embed_kmeans
    * pair generation and IVF probe latency alike.
    */
  private[graft] def lshBucketRows(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).select(lit(0).as("block_idx"),
      lshBucket(col("embedding")).cast("string").as("bkey"))

  private[graft] def ivfCellRows(spark: SparkSession, dir: String): DataFrame =
    ivfRankedOf(vecs(spark, dir), refined = true, maxRn = 1)
      .select(lit(0).as("block_idx"), col("cell").cast("string").as("bkey"))

  /** D69 oracle pieces (parenthesized for IndexQc's UNION): the single-
    * table LSH layout at the live NumPlanes, and the refined IVF cells —
    * both mirror the serving SQL verbatim (`bucketExprSql`,
    * `ivfRankedCtesAt`), so occupancy audits EXACTLY the engine's buckets.
    */
  private[graft] def annLshOccupancySql: String =
    s"""(WITH bc AS (
      SELECT ($bucketExprSql) AS bucket, CAST(count(*) AS BIGINT) AS c
      FROM embeddings GROUP BY 1)
    SELECT 'ann_lsh' AS family, 0 AS block_idx,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_pairs
    FROM bc)"""

  private[graft] def ivfOccupancySql: String =
    s"""(WITH ${ivfRankedCtesAt(1)},
    bc AS (SELECT cell, CAST(count(*) AS BIGINT) AS c
           FROM ranked WHERE rn = 1 GROUP BY cell)
    SELECT 'ivf' AS family, 0 AS block_idx,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_pairs
    FROM bc)"""

  def dedupEmbeddingSql: String = {
    s"""WITH banded AS MATERIALIZED ($embBandedSqlRows)
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
      round(${dotSql("a.embedding", "b.embedding")}
            / (${normSql("a.embedding")} * ${normSql("b.embedding")}), 4) AS cos_sim
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id
    WHERE ${dotSql("a.embedding", "b.embedding")}
          / (${normSql("a.embedding")} * ${normSql("b.embedding")}) >= 0.8"""
  }

  /** D6: brute-force cosine top-k for a query set (vec_id < 10), k=5.
    * The query side is broadcast; ranking is one window per query id.
    */
  def annBruteforce(spark: SparkSession, dir: String): DataFrame =
    annBruteforceOf(vecs(spark, dir))

  /** Corpus-parametric core (spec harnesses feed synthetic frames). */
  private[graft] def annBruteforceOf(v: DataFrame): DataFrame = {
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = v.select(col("vec_id").as("nb_id"), col("embedding").as("cv"))
    broadcast(q).crossJoin(c).filter(col("q_id") =!= col("nb_id"))
      .transform(cosTop5())
  }
  val annBruteforceSql: String =
    s"""SELECT q_id, nb_id, rank, round(cos, 4) AS cos_sim FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS nb_id,
             ${dotSql("q.embedding", "c.embedding")}
               / (${normSql("q.embedding")} * ${normSql("c.embedding")}) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${dotSql("q.embedding", "c.embedding")}
                 / (${normSql("q.embedding")} * ${normSql("c.embedding")}) DESC,
                 c.vec_id ASC) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 10) WHERE rank <= 5"""

  /** md5-derived ±1 hyperplane component for (plane j, dimension d). */
  private def planeSign(j: Int, d: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if ((Integer.parseInt(hex.substring(0, 1), 16) & 1) == 1) 1 else -1
  }

  private val signMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  /** Plane j's first `dim` signs as ±1.0, computed once per (j, dim) — the
    * coefficients of the native projection (graft.functions.PlaneProj).
    * Shared: callers must not mutate the array.
    */
  private[graft] def planeSigns(j: Int, dim: Int): Array[Double] =
    signMemo.computeIfAbsent((j, dim),
      _ => Array.tabulate(dim)(d => planeSign(j, d).toDouble))

  /** Σ_d sign(j, d)·v[d] over the Dim components, folded left to right in
    * double — one native node (PlaneProj) per plane.
    */
  private def planeProj(v: Column, j: Int): Column =
    graft.functions.VectorOps.planeProj(v, j, Dim)

  /** Single-table LSH width: bucket universe is 2^NumPlanes, so this is
    * the per-probe occupancy lever (n/2^NumPlanes vectors per bucket) —
    * raise it as the corpus grows; the persisted index folds the value
    * into its table name, so a width change triggers a rebuild rather
    * than a silent mis-probe.
    */
  def NumPlanes: Int = {
    val p = graft.GraftConfig.int("graft.ann.numPlanes", 8)
    require(p >= 1 && p <= 62, s"graft.ann.numPlanes must be in [1,62], got $p")
    p
  }

  /** Random-hyperplane LSH bucket id: bit j set iff Σ_d sign(j,d)·x_d > 0.
    * Each plane is one native projection node (the "hyperplane matrix" is
    * code-time deterministic, memoized per plane), so the id is ~60
    * expression nodes that plan in microseconds — the literal sign chain it
    * replaced was ~3,000 nodes that every serving read and every append
    * batch re-analysed before running. A null vector or element lands in
    * bucket 0.
    */
  def lshBucket(v: Column): Column =
    (0 until NumPlanes).map { j =>
      when(planeProj(v, j) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** D7: LSH-bucketed ANN — same top-k contract as brute force but
    * candidates are restricted to the query's bucket (rows-only oracle:
    * recall is approximate by construction).
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    annLshOf(vecs(spark, dir))

  private[graft] def annLshOf(v: DataFrame): DataFrame = {
    val all = v.withColumn("bucket", lshBucket(col("embedding")))
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("bucket"))
    val c = all.select(col("vec_id").as("nb_id"), col("embedding").as("cv"), col("bucket"))
    broadcast(q).join(c, Seq("bucket")).filter(col("q_id") =!= col("nb_id"))
      .transform(cosTop5())
  }

  /** D7c: multi-probe LSH ANN — same contract as annLsh, but each query
    * also probes the NumPlanes buckets at Hamming distance 1 from its own
    * (one hyperplane bit flipped): the standard recall lever that costs
    * probes, not index size. Candidates stay an equality join on bucket;
    * the query side explodes to 1+NumPlanes probe rows before the join
    * and duplicate (q, neighbor) matches collapse via max(cos) (a pair can
    * meet in several probed buckets). Fully deterministic → hash-checked.
    */
  def annLshMultiprobe(spark: SparkSession, dir: String): DataFrame =
    annLshMultiprobeOf(vecs(spark, dir))

  private[graft] def annLshMultiprobeOf(v: DataFrame): DataFrame = {
    val all = v.withColumn("bucket", lshBucket(col("embedding")))
    val probes = (0 until NumPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        explode(array(col("bucket") +: probes: _*)).as("bucket"))
    val c = all.select(col("vec_id").as("nb_id"), col("embedding").as("cv"), col("bucket"))
    broadcast(q).join(c, Seq("bucket")).filter(col("q_id") =!= col("nb_id"))
      .transform(cosTop5(bestOf = true))
  }

  /** D7's serving form: probe the PERSISTED hyperplane-bucketed embedding
    * index (sources/AnnIndexSink) instead of recomputing signatures and
    * re-clustering the corpus per query. The index scan reports its bucket
    * layout as outputPartitioning, so the candidate join needs NO
    * index-side Exchange (AnnIndexSpec asserts the plan delta vs the
    * recompute form with broadcast disabled); with broadcast on, the tiny
    * query side broadcasts and the corpus never moves at all. No broadcast
    * HINT — the query side is data-bounded (vec_id < 10) but the planner
    * should size it, not a hardcoded hint (the part_triangles lesson).
    * Output ≡ ann_lsh row-for-row: same buckets, same codegen'd dot fold,
    * same tie-breaks — the gate hash-checks both against ONE oracle.
    */
  def annIndexProbe(spark: SparkSession, dir: String): DataFrame =
    probeIndexTable(spark,
      graft.sources.AnnIndexSink.ensureEmbeddingIndex(spark, dir))

  /** Probe an arbitrary stored index table (spec harnesses probe
    * append-built tables to prove the incremental-ingest layout).
    */
  private[graft] def probeIndexTable(spark: SparkSession, table: String): DataFrame = {
    // serving view: stored rows minus tombstoned vec_ids (a row filter
    // over the driver-held takedown list — partitioning-preserving, so
    // the bucket layout still feeds the candidate join exchange-free)
    val idx = graft.sources.BucketedSink.readServing(spark, table, "vec_id")
    val q = idx.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("bucket"))
    val c = idx.select(col("vec_id").as("nb_id"), col("embedding").as("cv"), col("bucket"))
    q.join(c, Seq("bucket")).filter(col("q_id") =!= col("nb_id"))
      .transform(cosTop5())
  }

  /** Warm-index top-k for an ARRIVING query-vectors frame — the streaming
    * vector-serving form's per-micro-batch core (E7's annTopkStream, the
    * lexTopkForQueries twin): the arriving embedding's bucket is computed
    * STATELESSLY through the same hyperplane expression the stored index
    * was built with, then the candidate join / dot fold / tie-break tail
    * is the D53 probe's verbatim — so an arrived vector that is already
    * indexed retrieves exactly its ann_index_probe rows (the parity the
    * specs pin). Self-matches excluded by vec_id.
    *
    * The query side is collected when this is called and rides in the
    * plan (`Relational.lookupJoin` on bucket), so the read runs no
    * broadcast job: a local frame (a request batch, or a stream's
    * micro-batch, which `StreamOps` hands over driver-local) collects with
    * no job, a distributed one with one.
    */
  private[graft] def annTopkForQueries(spark: SparkSession, table: String,
                                       queryVecs: DataFrame): DataFrame = {
    val idx = graft.sources.BucketedSink.readServing(spark, table, "vec_id")
    val q = queryVecs
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .withColumn("bucket", lshBucket(col("qv")))
    val c = idx.select(col("vec_id").as("nb_id"), col("embedding").as("cv"),
      col("bucket"))
    lookupJoin(c, "bucket", q).filter(col("q_id") =!= col("nb_id"))
      .transform(cosTop5())
  }

  /** D7c's serving form: multi-probe against the SAME stored index — the
    * query side explodes to its own bucket plus the NumPlanes 1-bit-flip
    * buckets before the join; the index layout still hashes exactly the
    * join key, so the index side stays exchange-free (multi-probe costs
    * probes, never an index rewrite). Output ≡ ann_lsh_multiprobe.
    */
  def annIndexMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.sources.BucketedSink.readServing(
      spark, graft.sources.AnnIndexSink.ensureEmbeddingIndex(spark, dir), "vec_id")
    val probes = (0 until NumPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val q = idx.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        explode(array(col("bucket") +: probes: _*)).as("bucket"))
    val c = idx.select(col("vec_id").as("nb_id"), col("embedding").as("cv"), col("bucket"))
    q.join(c, Seq("bucket")).filter(col("q_id") =!= col("nb_id"))
      .transform(cosTop5(bestOf = true))
  }

  /** IVF/k-means cell count: per-cell occupancy is n/NumCells, and IVF
    * probes NProbe/NumCells of the corpus per query — both scale levers.
    * Published IVF practice sizes cells ~√n; the default is the test-scale
    * value (seeds are the first NumCells vec_ids, so the corpus must have
    * at least that many rows at any chosen width).
    */
  def NumCells: Int = {
    val c = graft.GraftConfig.int("graft.ann.numCells", 16)
    require(c >= 1, s"graft.ann.numCells must be >= 1, got $c")
    c
  }

  /** Cells probed per query (`graft.ann.nprobe`, default 2, live config
    * r10): THE published IVF recall/cost lever — scan work per query is
    * ~corpus·(nprobe/cells), recall rises with nprobe (D65's curve
    * measures exactly this trade). A pure query-time breadth like
    * Pq.ShortlistR: never part of a stored layout (home cells are rn=1
    * regardless), so raising it against an existing index needs no
    * rebuild. Threads through every oracle generator via
    * ivfRankedCtesAt(NProbe), so the engines cannot disagree on it.
    */
  def NProbe: Int = {
    val p = graft.GraftConfig.int("graft.ann.nprobe", 2)
    require(p >= 1, s"graft.ann.nprobe must be >= 1, got $p")
    p
  }

  /** Deterministic one-step Lloyd (spherical k-means) refinement of the
    * IVF centroids: assign every vector to its nearest SEED (the first
    * NumCells vectors; cosine, ties → lowest id), then take the per-cell
    * mean. Element sums accumulate in DECIMAL — exact and
    * order-independent — so the refined centroids are bit-identical
    * across engines and partitionings; components land back in float32
    * (the corpus element type) for the codegen'd dot product.
    *
    * Plan: seeds broadcast, one corpus pass for assignment, the mean's
    * exchange carries cells×Dim partially-aggregated sums. A cell whose
    * seed duplicates an earlier seed can end up empty (its members tie
    * to the lower id) — it simply drops out, identically in both engines.
    */
  def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    ivfCentroidsOf(vecs(spark, dir))

  private[graft] def ivfCentroidsOf(v: DataFrame): DataFrame = {
    val seeds = v.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val assigned = rankedAgainstCents(v, seeds, 1)
      .select(col("cell"), col("embedding"))
    assigned.select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      // float → double is exact; double → decimal(28,10) rounds identically
      // (round-half-up at scale 10) in Spark and DuckDB, and the decimal
      // sum is order-independent — no IEEE summation-order divergence
      .agg(sum(col("v").cast("double").cast("decimal(28,10)")).as("s"),
        count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("s").cast("double") / col("n")).cast("float").as("c")))),
        x => x.getField("c")).as("cv"))
  }

  /** Per-vector centroid ranking for the IVF index over the REFINED
    * centroids (ivfCentroids above), ranked per vector by cosine (ties →
    * lowest cell id). rn=1 is the cell assignment; rn ≤ NProbe is the
    * query-time probe list.
    *
    * Scale shape: centroids broadcast, one pass over the corpus for
    * assignment, one shuffle by cell for search — the standard IVF
    * partition-pruning layout (probe 2 of 16 cells ⇒ ~1/8 of the corpus
    * scanned per query).
    */
  def ivfRanked(spark: SparkSession, dir: String,
                refined: Boolean = true): DataFrame =
    ivfRankedOf(vecs(spark, dir), refined)

  /** maxRn bounds the kept centroid ranks: NProbe for the serving probe
    * list (the default), NumCells for D65's full-depth recall sweep.
    */
  private[graft] def ivfRankedOf(v: DataFrame, refined: Boolean,
                                 maxRn: Int = NProbe): DataFrame = {
    val cents =
      if (refined) ivfCentroidsOf(v).select(col("cell").as("cent_id"), col("cv"))
      else v.filter(col("vec_id") < NumCells)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    rankedAgainstCents(v, cents, maxRn)
  }

  /** The ranking core against an ARBITRARY (cent_id, cv) centroid frame —
    * shared by ivfRankedOf (which derives the centroids from the corpus)
    * and the persisted-PQ-pair serving paths (r10), which rank against the
    * STORED `_cents` table so home cells and probe lists are pinned at
    * index build exactly like the codebook. Centroids broadcast; ties →
    * lowest cell id (the family convention).
    */
  private[graft] def rankedAgainstCents(v: DataFrame, cents: DataFrame,
                                        maxRn: Int): DataFrame = {
    val scored = v.crossJoin(broadcast(cents))
      .withColumn("ccos",
        dot(col("embedding"), col("cv")) / (norm(col("embedding")) * norm(col("cv"))))
    topK(scored, Seq(col("vec_id")), Seq(col("ccos").desc, col("cent_id").asc), maxRn, "rn")
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"),
        col("ccos"), col("rn"))
  }

  /** D7b: IVF ANN — same top-k contract as brute force, but candidates come
    * only from the query's NProbe nearest cells. Fully deterministic, so
    * the oracle hash-checks it like the LSH variant.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    ivfTopk(ivfRanked(spark, dir))

  /** Seed-centroid variant (no Lloyd step) — kept for the recall
    * comparison spec (LlmOpsSpec), not registered as a query. */
  private[graft] def annIvfSeeded(spark: SparkSession, dir: String): DataFrame =
    ivfTopk(ivfRanked(spark, dir, refined = false))

  private[graft] def annIvfOf(v: DataFrame, refined: Boolean): DataFrame =
    ivfTopk(ivfRankedOf(v, refined))

  private def ivfTopk(rankedIn: DataFrame): DataFrame = {
    // materialize the assignment once: probes and members are two filters
    // over it, and without the barrier Spark executes the corpus×centroid
    // ranking twice (the oracle's WITH ... AS MATERIALIZED computes it once)
    val ranked = rankedIn.transform(graft.Checkpoints.cp)
    val members = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("nb_id"), col("embedding").as("cv"), col("cell"))
    val probes = ranked.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("cell"))
    broadcast(probes).join(members, Seq("cell")).filter(col("q_id") =!= col("nb_id"))
      .transform(cosTop5())
  }

  /** Shared oracle CTE prefix: seed assignment → one Lloyd step → refined
    * centroids → per-vector probe ranking (used by annIvfSql and
    * embedKmeansSql — both engines run the identical pipeline).
    */
  private def ivfRankedCtes: String = ivfRankedCtesAt(NProbe)

  /** The ranking CTE block exposed for cross-module oracle composition:
    * Pq.annIvfadcSql (D80) runs this and the PQ pipeline in one statement
    * (CTE namespaces are disjoint — the PQ block is pq_-prefixed); `src`
    * lets the OPQ+IVFADC triple (D89) rank over the permuted projection.
    */
  private[graft] def ivfRankedCtesComposable(src: String = "embeddings"): String =
    ivfRankedCtesAt(NProbe, src)

  /** Depth-parametric variant (rn ≤ `depth`): NProbe for the serving
    * queries, NumCells for D65's full recall sweep. */
  private def ivfRankedCtesAt(depth: Int, src: String = "embeddings"): String = {
    val ccosSeed = s"${dotSql("v.embedding", "s.cv")}" +
      s" / (${normSql("v.embedding")} * ${normSql("s.cv")})"
    val ccosCent = s"${dotSql("v.embedding", "c.cv")}" +
      s" / (${normSql("v.embedding")} * ${normSql("c.cv")})"
    s"""seeds AS (
      SELECT vec_id AS cent_id, embedding AS cv FROM $src WHERE vec_id < $NumCells),
    a0 AS (
      SELECT v.vec_id, v.embedding, s.cent_id, $ccosSeed AS ccos
      FROM $src v, seeds s),
    a1 AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, cent_id ASC) AS rn FROM a0) WHERE rn = 1),
    sums AS (
      SELECT cent_id AS cell, CAST(p.pos AS INT) AS pos,
             sum(CAST(CAST(embedding[p.pos + 1] AS DOUBLE) AS DECIMAL(28,10))) AS s,
             count(*) AS n
      FROM a1, range(0, $Dim) p(pos) GROUP BY 1, 2),
    cents AS MATERIALIZED (
      SELECT cell, list(CAST(CAST(s AS DOUBLE) / n AS FLOAT) ORDER BY pos) AS cv
      FROM sums GROUP BY cell),
    r0 AS (
      SELECT v.vec_id, v.embedding, c.cell, $ccosCent AS ccos
      FROM $src v, cents c),
    ranked AS MATERIALIZED (
      SELECT vec_id, embedding, cell, ccos, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, cell ASC) AS rn FROM r0) WHERE rn <= $depth)"""
  }

  def annIvfSql: String =
    s"""WITH $ivfRankedCtes,
    members AS (SELECT vec_id AS nb_id, embedding, cell FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id AS q_id, embedding, cell FROM ranked WHERE vec_id < 10)
    SELECT q_id, nb_id, rank, round(cos, 4) AS cos_sim FROM (
      SELECT p.q_id, m.nb_id,
             ${dotSql("p.embedding", "m.embedding")}
               / (${normSql("p.embedding")} * ${normSql("m.embedding")}) AS cos,
             row_number() OVER (PARTITION BY p.q_id
               ORDER BY ${dotSql("p.embedding", "m.embedding")}
                 / (${normSql("p.embedding")} * ${normSql("m.embedding")}) DESC,
                 m.nb_id ASC) AS rank
      FROM probes p JOIN members m ON p.cell = m.cell AND p.q_id != m.nb_id)
    WHERE rank <= 5"""

  /** D25: k-means corpus clustering over the embedding column — the domain
    * -discovery / diversity-bucketing operator a curation pipeline runs
    * before mixture decisions. Reuses the IVF machinery (deterministic
    * seeds + one exact-decimal Lloyd step, centroids broadcast, ONE corpus
    * pass for assignment); cluster sizes come from a K-row aggregate
    * broadcast back, so nothing wide shuffles. Fully deterministic →
    * hash-checked like ann_ivf.
    */
  def embedKmeans(spark: SparkSession, dir: String): DataFrame = {
    // materialize assignments once: the size aggregate and the final join
    // both consume them (same barrier rationale as ivfTopk)
    val assigned = ivfRanked(spark, dir).filter(col("rn") === 1)
      .select(col("vec_id"), col("cell").as("cluster"))
      .transform(graft.Checkpoints.cp)
    val sizes = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(broadcast(sizes), Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("cluster_size"))
  }

  def embedKmeansSql: String =
    s"""WITH $ivfRankedCtes,
    asg AS (SELECT vec_id, cell AS cluster FROM ranked WHERE rn = 1),
    sz AS (SELECT cluster, count(*) AS cluster_size FROM asg GROUP BY cluster)
    SELECT vec_id, cluster, cluster_size FROM asg JOIN sz USING (cluster)"""

  /** Outlier deviation margin in shifted-e4 units: a vector whose cosine
    * to its OWN centroid sits more than 0.05 below its cluster's mean
    * centroid-cosine is flagged. The margin is data policy; the contract
    * is the shape (per-cluster mean, per-vector deviation, exact integer
    * compare).
    */
  val OutlierDevE4 = 500L

  /** D56: embedding-space outlier report — per vector: its k-means
    * cluster, its cosine to the cluster centroid, the cluster's mean
    * centroid-cosine, and an outlier flag for vectors far inside their
    * own cluster's tail. The embedding-quality gate a curation pipeline
    * runs after (re)embedding: a truncated input, a bad encode batch, or
    * genuinely out-of-distribution content shows up as a flagged row —
    * BEFORE the vectors poison dedup (D31) or ANN serving (D53).
    *
    * Determinism: the centroid cosine is the same bit-identical dot/norm
    * fold the IVF family hash-checks; it quantizes to SHIFTED e4 integers
    * (floor((ccos+1)·1e4) ∈ [0, 2e4] — the shift keeps every value
    * non-negative so integer division is truncation-consistent across
    * engines; Spark's `div` truncates toward zero while DuckDB's `//`
    * floors, which diverges on negatives). The cluster mean is an exact
    * integer sum div count. Plan: reuses the broadcast-centroid
    * assignment pass; the K-row cluster stats broadcast back over the
    * checkpointed assignment — nothing corpus-sized shuffles twice.
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val asg = ivfRanked(spark, dir).filter(col("rn") === 1)
      .select(col("vec_id"), col("cell").as("cluster"),
        floor((col("ccos") + lit(1d)) * lit(10000d)).cast("bigint").as("ce4p"))
      .transform(graft.Checkpoints.cp)
    val stats = asg.groupBy(col("cluster"))
      .agg(expr("CAST(sum(ce4p) div count(1) AS BIGINT)").as("mean_e4p"),
        count(lit(1)).as("cluster_size"))
    asg.join(broadcast(stats), Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        (col("ce4p") - lit(10000L)).as("cos_e4"),
        (col("mean_e4p") - lit(10000L)).as("cluster_mean_e4"),
        col("cluster_size"),
        (col("mean_e4p") - col("ce4p") > lit(OutlierDevE4)).as("is_outlier"))
  }

  def embedOutliersSql: String =
    s"""WITH $ivfRankedCtes,
    asg AS MATERIALIZED (
      SELECT vec_id, cell AS cluster,
             CAST(floor((ccos + 1) * 10000) AS BIGINT) AS ce4p
      FROM ranked WHERE rn = 1),
    st AS (SELECT cluster, CAST(sum(ce4p) // count(*) AS BIGINT) AS mean_e4p,
                  CAST(count(*) AS BIGINT) AS cluster_size
           FROM asg GROUP BY cluster)
    SELECT vec_id, cluster, ce4p - 10000 AS cos_e4,
           mean_e4p - 10000 AS cluster_mean_e4, cluster_size,
           (mean_e4p - ce4p) > $OutlierDevE4 AS is_outlier
    FROM asg JOIN st USING (cluster)"""

  /** D61 (r7): diversity-aware core-set selection — the curation op behind
    * "give me a small subset that COVERS the embedding space" (pretraining
    * subset selection, eval-set seeding, labeling-budget allocation). Per
    * IVF cell: the PROTOTYPE (max cosine to the refined centroid — the
    * cell's most central member, covering its mode) and the FRINGE (min
    * cosine — its most boundary member, covering diversity), each with the
    * cell size. The scalable approximation of k-center selection: the
    * budget is ≤ 2·cells rows no matter the corpus size, and at 100 TB
    * cells scale with the corpus so the core-set tracks its mode
    * structure. Ties break to the lowest vec_id; a cell whose fringe IS
    * its prototype (singleton, or all members tie) emits the prototype
    * row only — deterministic, so the oracle hash-checks it.
    *
    * Plan: reuses the IVF assignment (broadcast centroids, one corpus
    * pass); BOTH rank windows share one cell-clustered exchange; sizes
    * are a cells-bounded aggregate broadcast back.
    */
  def sampleDiverse(spark: SparkSession, dir: String): DataFrame = {
    val asg = ivfRanked(spark, dir).filter(col("rn") === 1)
      .select(col("vec_id"), col("cell").as("cluster"),
        floor((col("ccos") + lit(1d)) * lit(10000d)).cast("bigint").as("ce4p"))
      .transform(graft.Checkpoints.cp)
    val sizes = asg.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    val wProto = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("ce4p").desc, col("vec_id").asc)
    val wFringe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("ce4p").asc, col("vec_id").asc)
    val ranked = asg.withColumn("rp", row_number().over(wProto))
      .withColumn("rf", row_number().over(wFringe))
    val proto = ranked.filter(col("rp") === 1)
      .select(col("cluster"), lit("proto").as("role"), col("vec_id"), col("ce4p"))
    val fringe = ranked.filter(col("rf") === 1 && col("rp") =!= 1)
      .select(col("cluster"), lit("fringe").as("role"), col("vec_id"), col("ce4p"))
    proto.unionAll(fringe).join(broadcast(sizes), Seq("cluster"))
      .select(col("cluster"), col("role"), col("vec_id"),
        (col("ce4p") - lit(10000L)).as("cos_e4"), col("cluster_size"))
  }

  def sampleDiverseSql: String =
    s"""WITH $ivfRankedCtes,
    asg AS MATERIALIZED (
      SELECT vec_id, cell AS cluster,
             CAST(floor((ccos + 1) * 10000) AS BIGINT) AS ce4p
      FROM ranked WHERE rn = 1),
    st AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
           FROM asg GROUP BY cluster),
    rk AS (SELECT *,
             row_number() OVER (PARTITION BY cluster
               ORDER BY ce4p DESC, vec_id ASC) AS rp,
             row_number() OVER (PARTITION BY cluster
               ORDER BY ce4p ASC, vec_id ASC) AS rf
           FROM asg)
    SELECT cluster, 'proto' AS role, vec_id, ce4p - 10000 AS cos_e4, cluster_size
    FROM rk JOIN st USING (cluster) WHERE rp = 1
    UNION ALL
    SELECT cluster, 'fringe' AS role, vec_id, ce4p - 10000 AS cos_e4, cluster_size
    FROM rk JOIN st USING (cluster) WHERE rf = 1 AND rp != 1"""

  /** Semantic-dedup cosine threshold: pairs at or above it inside one
    * k-means cell are semantic duplicates. 0.35 is deliberately permissive
    * because the synthetic embeddings are uniform random (measured max
    * pairwise cos ≈ 0.48 at sf0.001 — a 0.9 SemDeDup-style threshold
    * would be vacuously all-kept); the operator contract is the shape,
    * the threshold is data policy.
    */
  val SemDedupCos = 0.35

  /** D31: semantic dedup (SemDeDup-style): k-means-cluster the embedding
    * space, then mark a vector as a semantic duplicate iff some LOWER-id
    * vector in the SAME cell has cosine ≥ SemDedupCos — near-duplicate
    * meaning, not byte similarity, which is what doc-level minhash misses
    * (paraphrases, templated rewrites). Output: one row per vector with
    * its cluster, min duplicate anchor (null if kept) and keep flag.
    *
    * Scale shape: reuses the k-means machinery (broadcast centroids, one
    * corpus pass for assignment); pair generation is confined to cells by
    * the (cell) equality self-join of the checkpointed assignment — the
    * SemDeDup insight is exactly that K bounds the candidate quadratic:
    * at 100 TB, K scales with the corpus (cells of ~thousands) so
    * per-cell pair work stays constant while the shuffle stays one
    * exchange keyed by cell. Fully deterministic (exact-decimal Lloyd
    * step + bit-identical dot folds) → hash-checked oracle.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    dedupSemanticOf(vecs(spark, dir))

  /** Corpus-parametric core (spec harnesses feed synthetic frames). */
  private[graft] def dedupSemanticOf(v: DataFrame): DataFrame = {
    val asg = ivfRankedOf(v, refined = true).filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .transform(graft.Checkpoints.cp)
    val lo = asg.select(col("vec_id").as("a_id"), col("embedding").as("va"), col("cell"))
    val hi = asg.select(col("vec_id"), col("embedding").as("vb"), col("cell"))
    val cos = dot(col("va"), col("vb")) / (norm(col("va")) * norm(col("vb")))
    val dups = lo.join(hi, Seq("cell"))
      .filter(col("a_id") < col("vec_id") && cos >= SemDedupCos)
      .groupBy(col("vec_id")).agg(min(col("a_id")).as("dup_of"))
    asg.select(col("vec_id"), col("cell").as("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of"),
        col("dup_of").isNull.as("is_kept"))
  }

  def dedupSemanticSql: String = {
    val cos = s"${dotSql("a.embedding", "b.embedding")}" +
      s" / (${normSql("a.embedding")} * ${normSql("b.embedding")})"
    s"""WITH $ivfRankedCtes,
    asg AS MATERIALIZED (SELECT vec_id, embedding, cell FROM ranked WHERE rn = 1),
    dups AS (
      SELECT b.vec_id, min(a.vec_id) AS dup_of
      FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE $cos >= $SemDedupCos
      GROUP BY b.vec_id)
    SELECT v.vec_id, v.cell AS cluster, d.dup_of, d.dup_of IS NULL AS is_kept
    FROM asg v LEFT JOIN dups d USING (vec_id)"""
  }

  /** D14: per-label mean embedding (long format: one row per (label, dim))
    * — the class-prototype / centroid build used for embedding dedup and
    * cluster seeding. posexplode then aggregate: partial (map-side) sums
    * mean the shuffle carries only label×Dim partial aggregates, never
    * vectors — at 100 TB the exchange is bounded by |labels|·Dim·cores.
    */
  def embedCentroids(spark: SparkSession, dir: String): DataFrame =
    // NO spread here (r14, closing the r13 ADVICE item): this is a plain
    // partial aggregate — the map side collapses to label×dim sums before
    // the one exchange, so there is no CPU-dense per-row stage for a
    // spread to parallelize, and the r13 spread both broke the audited
    // partial-agg-before-exchange shape and reordered the double avg()'s
    // partial-sum combination (the rounding-boundary exposure the ADVICE
    // flagged). The round(avg,4)+0.0 canonicalization below still guards
    // the multi-split cluster scan, whose partial order is layout-driven.
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        // + 0.0 canonicalizes IEEE -0.0 → +0.0 (a mean that rounds to zero
        // from below yields -0.0 in DuckDB but +0.0 in Spark)
        (round(avg(col("v").cast("double")), 4) + 0.0).as("c"))

  val embedCentroidsSql: String =
    // count(embedding[p+1]), not count(*): the cross join with range(0,Dim)
    // emits a row per vector per position even when a vector is shorter
    // than Dim, while Spark's posexplode emits only existing positions —
    // the non-null count makes n_vecs agree for ragged vectors too
    // (round-2 ADVICE; testdata is fixed-width, so values are unchanged).
    s"""SELECT label, CAST(t.p AS INT) AS pos, count(embedding[t.p + 1]) AS n_vecs,
           round(avg(CAST(embedding[t.p + 1] AS DOUBLE)), 4) + 0.0 AS c
    FROM embeddings, range(0, $Dim) t(p)
    GROUP BY label, pos"""

  /** The hyperplane matrix is code-time deterministic, so the "approximate"
    * bucketing is exactly reproducible relationally: the oracle bakes the
    * same ±1 signs and the same left-to-right double fold, making D7 fully
    * hash-checked rather than rows-only. IEEE notes: x*(-1.0) ≡ -x and
    * a + (-x) ≡ a - x bit-exactly, so emitting `- x` for negative signs
    * matches Spark's multiply-then-add fold.
    */
  private def bucketExprSql: String = (0 until NumPlanes).map { j =>
    val proj = (0 until Dim).map { d =>
      val term = s"CAST(embedding[${d + 1}] AS DOUBLE)"
      val s = planeSign(j, d)
      if (d == 0) { if (s > 0) term else s"(- $term)" }
      else { if (s > 0) s"+ $term" else s"- $term" }
    }.mkString(" ")
    s"(CASE WHEN ($proj) > 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  def annLshSql: String = {
    val bucketExpr = bucketExprSql
    s"""WITH b AS MATERIALIZED (
      SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings)
    SELECT q_id, nb_id, rank, round(cos, 4) AS cos_sim FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS nb_id,
             ${dotSql("q.embedding", "c.embedding")}
               / (${normSql("q.embedding")} * ${normSql("c.embedding")}) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${dotSql("q.embedding", "c.embedding")}
                 / (${normSql("q.embedding")} * ${normSql("c.embedding")}) DESC,
                 c.vec_id ASC) AS rank
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
      WHERE q.vec_id < 10) WHERE rank <= 5"""
  }

  def annLshMultiprobeSql: String = {
    val flips = (0 until NumPlanes).map(j => s"xor(bucket, ${1L << j})").mkString(", ")
    s"""WITH b AS MATERIALIZED (
      SELECT vec_id, embedding, $bucketExprSql AS bucket FROM embeddings),
    q AS (
      SELECT vec_id AS q_id, embedding AS qv,
             unnest([bucket, $flips]) AS bucket
      FROM b WHERE vec_id < 10),
    cand AS (
      SELECT q.q_id, c.vec_id AS nb_id,
             max(${dotSql("q.qv", "c.embedding")}
               / (${normSql("q.qv")} * ${normSql("c.embedding")})) AS cos
      FROM q JOIN b c ON q.bucket = c.bucket AND q.q_id != c.vec_id
      GROUP BY q.q_id, c.vec_id)
    SELECT q_id, nb_id, rank, round(cos, 4) AS cos_sim FROM (
      SELECT q_id, nb_id, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, nb_id ASC) AS rank
      FROM cand) WHERE rank <= 5"""
  }

  /** D51: ANN recall report — per-query recall of the single-probe LSH
    * index (D7) against the exact brute-force top-k (D6), in exact integer
    * basis points. The QC gate an embedding pipeline runs BEFORE routing
    * traffic at a new index: a silent recall collapse (bad hyperplane
    * drop, skewed bucket, degenerate embedding batch) shows up here as a
    * per-query number, not a production incident. Both inputs are already
    * top-k-bounded (k × |query set| rows), so the join and aggregate are
    * bounded by the QUERY SET — nothing scales with the corpus beyond the
    * two verified operators it composes. Fully deterministic (both sides
    * hash-checked operators) → the recall numbers themselves hash-check.
    */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val exact = annBruteforce(spark, dir).select(col("q_id"), col("nb_id"))
    val hits = annLsh(spark, dir)
      .select(col("q_id"), col("nb_id"), lit(1L).as("hit"))
    exact.join(hits, Seq("q_id", "nb_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .withColumn("recall_bp", expr("n_hit * 10000 div n_exact"))
  }
  def annRecallReportSql: String =
    s"""WITH exact AS ($annBruteforceSql),
    approx AS ($annLshSql)
    SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
      CAST(count(a.nb_id) AS BIGINT) AS n_hit,
      CAST(count(a.nb_id) * 10000 // count(*) AS BIGINT) AS recall_bp
    FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.nb_id = a.nb_id
    GROUP BY e.q_id"""

  /** D60: recall-vs-probe-breadth curve — the serving-index TUNING
    * artifact D51's single-config report can't give: for every probe
    * breadth b (own bucket + the 1-bit flips of the first b hyperplanes,
    * b = 0 .. NumPlanes), the corpus-level recall of the breadth-b top-k
    * against the exact top-k. b=0 is `ann_lsh`'s recall, b=NumPlanes is
    * `ann_lsh_multiprobe`'s — the curve between them is where an operator
    * picks the probe budget (each breadth costs ~1 more bucket of
    * candidates per query; the curve shows what that buys).
    *
    * One candidate pass serves ALL breadths: each (query, neighbor) pair
    * records the MINIMUM probe index that finds it, then explodes only to
    * the breadths where it is visible (b ≥ min-probe) and re-ranks per
    * (breadth, query) — candidate volume is query-set × bucket-size
    * bounded, never corpus-scaled, and the exact side is the top-k-bounded
    * brute-force frame. All-integer output (hits / exact / bp) over the
    * deterministic md5-derived planes, so the curve hash-checks.
    */
  def annRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val all = graft.Checkpoints.cp(
      vecs(spark, dir).withColumn("bucket", lshBucket(col("embedding"))))
    val exact = graft.Checkpoints.cp(
      annBruteforce(spark, dir).select(col("q_id"), col("nb_id")))
    val probes = (0 to NumPlanes).map { j =>
      val pb = if (j == 0) col("bucket")
               else col("bucket").bitwiseXOR(lit(1L << (j - 1)))
      struct(lit(j).as("j"), pb.as("pb"))
    }
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        explode(array(probes: _*)).as("p"))
      .select(col("q_id"), col("qv"), col("p.j").as("j"), col("p.pb").as("bucket"))
    val scored = broadcast(q)
      .join(all.select(col("vec_id").as("nb_id"), col("embedding").as("cv"),
        col("bucket")), Seq("bucket"))
      .filter(col("q_id") =!= col("nb_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))))
      .groupBy(col("q_id"), col("nb_id"))
      .agg(min(col("j")).as("minj"), max(col("cos")).as("cos"))
    val vis = scored.withColumn("breadth",
      explode(sequence(col("minj"), lit(NumPlanes))))
    val top = topK(vis, Seq(col("breadth"), col("q_id")),
      Seq(col("cos").desc, col("nb_id").asc), 5, "rk")
    val hits = top.join(exact, Seq("q_id", "nb_id"), "left_semi")
      .groupBy(col("breadth")).agg(count(lit(1)).as("n_hit"))
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    val spine = spark.range(0, NumPlanes + 1L)
      .select(col("id").cast("int").as("breadth"))
    spine.join(hits, Seq("breadth"), "left")
      .crossJoin(broadcast(tot))
      .select(col("breadth"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_bp",
        when(col("n_exact") === 0, lit(0L))
          .otherwise(expr("n_hit * 10000 div n_exact")))
  }

  def annRecallCurveSql: String =
    s"""WITH b AS MATERIALIZED (
      SELECT vec_id, embedding, $bucketExprSql AS bucket FROM embeddings),
    q AS (
      SELECT vec_id AS q_id, embedding AS qv, r.j,
             CASE WHEN r.j = 0 THEN bucket
                  ELSE xor(bucket, CAST(1 AS BIGINT) << (r.j - 1)) END AS pb
      FROM b, range(0, ${NumPlanes + 1}) r(j) WHERE vec_id < 10),
    cand AS (
      SELECT q.q_id, c.vec_id AS nb_id, min(q.j) AS minj,
             max(${dotSql("q.qv", "c.embedding")}
               / (${normSql("q.qv")} * ${normSql("c.embedding")})) AS cos
      FROM q JOIN b c ON q.pb = c.bucket AND q.q_id != c.vec_id
      GROUP BY q.q_id, c.vec_id),
    vis AS (
      SELECT q_id, nb_id, cos, unnest(range(minj, ${NumPlanes + 1})) AS breadth
      FROM cand),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY breadth, q_id
        ORDER BY cos DESC, nb_id ASC) AS rk FROM vis),
    top AS (SELECT breadth, q_id, nb_id FROM ranked WHERE rk <= 5),
    exact AS ($annBruteforceSql),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
    hits AS (
      SELECT breadth, CAST(count(*) AS BIGINT) AS n_hit
      FROM top JOIN exact e ON top.q_id = e.q_id AND top.nb_id = e.nb_id
      GROUP BY breadth),
    spine AS (SELECT unnest(range(0, ${NumPlanes + 1})) AS breadth)
    SELECT CAST(s.breadth AS INTEGER) AS breadth, t.n_exact,
           coalesce(h.n_hit, 0) AS n_hit,
           CASE WHEN t.n_exact = 0 THEN 0
                ELSE coalesce(h.n_hit, 0) * 10000 // t.n_exact END AS recall_bp
    FROM spine s CROSS JOIN tot t LEFT JOIN hits h ON h.breadth = s.breadth"""

  /** D65 (r8): recall-vs-nprobe curve for the IVF index — D60's tuning
    * artifact for the OTHER serving structure: for every probe depth
    * nprobe = 1 .. NumCells, the corpus-level recall of searching only
    * the query's nprobe nearest cells, against the exact brute-force
    * top-k. nprobe = NProbe is `ann_ivf`'s operating point (spec-asserted
    * endpoint parity); nprobe = NumCells is exhaustive, so the curve ends
    * at 10000 bp by construction — between them is where an operator
    * trades per-query scan fraction (~nprobe/NumCells of the corpus) for
    * recall. D60's one-pass trick carries over: each (query, neighbor)
    * pair's MINIMUM finding depth is just the rank of the neighbor's
    * assigned cell in the query's centroid ranking, so one assignment
    * pass + one query-side full ranking serve every depth; candidate
    * volume is query-set × corpus (the brute-force-report shape — the
    * query set is contract-bounded), never corpus². All-integer output
    * over the decimal-exact centroids → hash-checked.
    */
  def ivfRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val ranked = ivfRankedOf(vecs(spark, dir), refined = true, maxRn = NumCells)
      .transform(graft.Checkpoints.cp)
    val exact = graft.Checkpoints.cp(
      annBruteforce(spark, dir).select(col("q_id"), col("nb_id")))
    val members = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("nb_id"), col("embedding").as("cv"), col("cell"))
    val probes = ranked.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("cell"), col("rn").as("minp"))
    val cand = broadcast(probes).join(members, Seq("cell"))
      .filter(col("q_id") =!= col("nb_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))))
      .select(col("q_id"), col("nb_id"), col("cos"), col("minp"))
    val vis = cand.withColumn("nprobe",
      explode(sequence(col("minp"), lit(NumCells))))
    val top = topK(vis, Seq(col("nprobe"), col("q_id")),
      Seq(col("cos").desc, col("nb_id").asc), 5, "rk")
    val hits = top.join(exact, Seq("q_id", "nb_id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hit"))
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    val spine = spark.range(1, NumCells + 1L)
      .select(col("id").cast("int").as("nprobe"))
    spine.join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(tot))
      .select(col("nprobe"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_bp",
        when(col("n_exact") === 0, lit(0L))
          .otherwise(expr("n_hit * 10000 div n_exact")))
  }

  def ivfRecallCurveSql: String =
    s"""WITH ${ivfRankedCtesAt(NumCells)},
    members AS (SELECT vec_id AS nb_id, embedding AS cv, cell
                FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id AS q_id, embedding AS qv, cell, rn AS minp
               FROM ranked WHERE vec_id < 10),
    cand AS (
      SELECT q.q_id, m.nb_id,
             ${dotSql("q.qv", "m.cv")} / (${normSql("q.qv")} * ${normSql("m.cv")}) AS cos,
             q.minp
      FROM probes q JOIN members m USING (cell) WHERE q.q_id != m.nb_id),
    vis AS (
      SELECT q_id, nb_id, cos, unnest(range(minp, ${NumCells + 1})) AS nprobe
      FROM cand),
    rankd AS (
      SELECT *, row_number() OVER (PARTITION BY nprobe, q_id
        ORDER BY cos DESC, nb_id ASC) AS rk FROM vis),
    top AS (SELECT nprobe, q_id, nb_id FROM rankd WHERE rk <= 5),
    exact AS ($annBruteforceSql),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
    hits AS (
      SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hit
      FROM top JOIN exact e ON top.q_id = e.q_id AND top.nb_id = e.nb_id
      GROUP BY nprobe),
    spine AS (SELECT unnest(range(1, ${NumCells + 1})) AS nprobe)
    SELECT CAST(s.nprobe AS INTEGER) AS nprobe, t.n_exact,
           coalesce(h.n_hit, 0) AS n_hit,
           CASE WHEN t.n_exact = 0 THEN 0
                ELSE coalesce(h.n_hit, 0) * 10000 // t.n_exact END AS recall_bp
    FROM spine s CROSS JOIN tot t LEFT JOIN hits h ON h.nprobe = s.nprobe"""

  val ReduceDims = 16
  /** Offset into the planeSign family so the projection matrix is disjoint
    * from the LSH/banding planes (both are code-time deterministic).
    */
  val ReducePlaneBase = 1000

  /** D30: random-projection dimensionality reduction (Johnson-Lindenstrauss
    * with a ±1 sign matrix): embed 64-dim vectors into ReduceDims
    * coordinates r_k = Σ_d sign(base+k, d)·x_d / √ReduceDims. A pure
    * codegen'd projection — no shuffle, no state, the cheap pre-step that
    * makes downstream ANN/clustering pay 4× less per distance. The sign
    * matrix is the same md5-derived family the LSH planes bake in, so the
    * oracle recomputes identical coordinates (identical left-to-right
    * addition order; output rounded to 6 dp).
    */
  def embedReduce(spark: SparkSession, dir: String): DataFrame = {
    val scale = math.sqrt(ReduceDims.toDouble)
    val cols = (0 until ReduceDims).map { k =>
      round(planeProj(col("embedding"), ReducePlaneBase + k) / scale, 6).as(f"r$k%02d")
    }
    Tables.spreadIfNarrow(vecs(spark, dir), "vec_id")
      .select(col("vec_id") +: cols: _*)
  }
  def embedReduceSql: String = {
    val scale = math.sqrt(ReduceDims.toDouble)
    val cols = (0 until ReduceDims).map { k =>
      val proj = (0 until Dim).map { d =>
        val term = s"CAST(embedding[${d + 1}] AS DOUBLE)"
        val s = planeSign(ReducePlaneBase + k, d)
        if (d == 0) { if (s > 0) term else s"(- $term)" }
        else { if (s > 0) s"+ $term" else s"- $term" }
      }.mkString(" ")
      f"round(($proj) / $scale%.17g, 6) AS r$k%02d"
    }.mkString(",\n      ")
    s"""SELECT vec_id,
      $cols
    FROM embeddings"""
  }

  /** D34: symmetric int8 quantization — the storage/serving compression
    * step of an embedding pipeline (4× smaller vectors, SIMD-friendly
    * integer dot products downstream). Per vector: scale = max|x|/127
    * (floored at 1e-12 so a zero vector quantizes to zeros instead of
    * NaN), q_i = round-half-up(x_i/scale). A pure codegen'd projection —
    * no shuffle, no state; every arithmetic step (float→double widen, abs,
    * max, divide, floor) is IEEE-deterministic, so both the int codes AND
    * the double scale are bit-identical across engines and fully
    * hash-checked.
    */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables.spreadIfNarrow(vecs(spark, dir), "vec_id")
      .withColumn("scale",
        greatest(array_max(transform(col("embedding"),
          x => abs(x.cast("double")))), lit(1e-12)) / lit(127))
      .select(col("vec_id"), col("scale"),
        transform(col("embedding"),
          x => floor(x.cast("double") / col("scale") + 0.5).cast("int")).as("q"))
      .withColumn("nnz", size(filter(col("q"), e => e =!= 0)))

  /** Gate-emitted form of D34: the identical computation with the int8 code
    * array serialized to one CSV string (`q_csv`) per row. The driver's
    * oracle compare sorts rows via pandas, which cannot hash raw array
    * cells (the r4 red row: `TypeError: unhashable type numpy.ndarray`) —
    * serializing makes every cell scalar so the full codes hash-check.
    * The arrays-out `embedQuantize` stays as the library/serving form
    * (ann_int8 consumes it) and keeps its map-only plan audit.
    */
  def embedQuantizeQuery(spark: SparkSession, dir: String): DataFrame =
    embedQuantize(spark, dir).select(
      col("vec_id"), col("scale"),
      array_join(transform(col("q"), _.cast("string")), ",").as("q_csv"),
      col("nnz"))
  val embedQuantizeSql: String =
    """WITH s AS (
      SELECT vec_id, embedding,
        greatest(list_max(list_transform(embedding,
          x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127 AS scale
      FROM embeddings),
    qz AS (
      SELECT vec_id, scale,
        list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT)) AS q
      FROM s)
    SELECT vec_id, scale,
      array_to_string(q, ',') AS q_csv,
      CAST(len(list_filter(q, x -> x != 0)) AS INT) AS nnz
    FROM qz"""

  /** D34b: quantized ANN serving — brute-force top-k over the int8 codes
    * from embed_quantize, scored ENTIRELY in exact integers: the native
    * codegen'd VecDot (`int_vec_dot`) over the code arrays, times the
    * candidate's scale in integer nano-units (the query's own scale is a
    * constant within its ranking, so dropping it preserves order). This
    * is the 4×-compressed serving path D34 exists for: code arrays are a
    * quarter the bytes of the float embeddings, the kernel is one fused
    * integer loop, and — unlike float scoring — the ranking is
    * bit-identical on every engine, so the oracle hash-checks the full
    * top-k (tie-break nb_id asc). Same broadcast-query/one-corpus-scan
    * shape as D6; the candidate step swaps to D7/D7b at scale unchanged.
    */
  def annInt8(spark: SparkSession, dir: String): DataFrame = {
    val qz = graft.Checkpoints.cp(
      embedQuantize(spark, dir)
        .select(col("vec_id"), col("q"),
          floor(col("scale") * 1e9 + 0.5).cast("bigint").as("scale_e9")))
    val q = qz.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("q").as("qv"))
    val c = qz.select(col("vec_id").as("nb_id"), col("q").as("cv"), col("scale_e9"))
    val scored = broadcast(q).crossJoin(c).filter(col("q_id") =!= col("nb_id"))
      .withColumn("score",
        graft.functions.VectorOps.dot(col("qv"), col("cv")) * col("scale_e9"))
    topK(scored, Seq(col("q_id")), Seq(col("score").desc, col("nb_id").asc), 5)
      .select(col("q_id"), col("nb_id"), col("rank"), col("score"))
  }
  val annInt8Sql: String =
    """WITH s AS (
      SELECT vec_id, embedding,
        greatest(list_max(list_transform(embedding,
          x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127 AS scale
      FROM embeddings),
    qz AS (
      SELECT vec_id,
        CAST(floor(scale * 1e9 + 0.5) AS BIGINT) AS scale_e9,
        list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT)) AS q
      FROM s),
    p AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nb_id,
        CAST(list_sum(list_transform(generate_series(1, len(a.q)),
          i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) * b.scale_e9 AS score
      FROM qz a JOIN qz b ON a.vec_id != b.vec_id
      WHERE a.vec_id < 10)
    SELECT q_id, nb_id, rank, score FROM (
      SELECT q_id, nb_id, score,
        row_number() OVER (PARTITION BY q_id
          ORDER BY score DESC, nb_id ASC) AS rank
      FROM p)
    WHERE rank <= 5"""

  val KnnK = 5

  /** D35: k-NN majority-vote classification — label each held-out query
    * vector (vec_id ≡ 0 mod 10) by the majority label of its KnnK cosine
    * neighbors in the labeled corpus (ties → smaller label). The standard
    * auto-labeling / label-propagation step when extending a small
    * hand-labeled seed set over a large corpus. Same brute-force shape as
    * D6 (query set broadcast, corpus scanned once, per-query top-k
    * window); at production scale the candidate step swaps to the IVF/LSH
    * variants (D7/D7b) unchanged, since voting only consumes (q, nb,
    * label) rows.
    */
  def embedKnnClassify(spark: SparkSession, dir: String): DataFrame =
    embedKnnClassifyOf(
      Tables.spreadIfNarrow(Tables.embeddings(spark, dir), "vec_id"))

  /** Core over any (vec_id, embedding, label) frame (spec harnesses feed
    * synthetic labeled corpora).
    */
  private[graft] def embedKnnClassifyOf(v: DataFrame): DataFrame = {
    val q = v.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("label").as("true_label"))
    val c = v.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("nb_id"), col("embedding").as("cv"),
        col("label").as("nb_label"))
    val scored = broadcast(q).crossJoin(c)
      .withColumn("cos", dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))))
    val votes = topK(scored, Seq(col("q_id")), Seq(col("cos").desc, col("nb_id").asc), KnnK)
      .groupBy(col("q_id"), col("true_label"), col("nb_label"))
      .agg(count(lit(1)).as("votes"))
    topK(votes, Seq(col("q_id")), Seq(col("votes").desc, col("nb_label").asc), 1, "r")
      .select(col("q_id"), col("nb_label").as("pred_label"), col("votes"),
        col("true_label"),
        (col("nb_label") === col("true_label")).as("correct"))
  }
  val embedKnnClassifySql: String =
    s"""WITH top AS (
      SELECT q_id, true_label, nb_label FROM (
        SELECT q.vec_id AS q_id, q.label AS true_label,
               c.vec_id AS nb_id, c.label AS nb_label,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY ${dotSql("q.embedding", "c.embedding")}
                   / (${normSql("q.embedding")} * ${normSql("c.embedding")}) DESC,
                   c.vec_id ASC) AS rank
        FROM embeddings q JOIN embeddings c
          ON q.vec_id % 10 = 0 AND c.vec_id % 10 != 0)
      WHERE rank <= $KnnK),
    votes AS (
      SELECT q_id, true_label, nb_label, count(*) AS votes
      FROM top GROUP BY q_id, true_label, nb_label)
    SELECT q_id, nb_label AS pred_label, votes, true_label,
           nb_label = true_label AS correct
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY votes DESC, nb_label ASC) AS r FROM votes)
    WHERE r = 1"""

  /** D48: L2 normalization — the serving-prep projection that turns cosine
    * into plain dot product downstream (every ANN index stores unit
    * vectors so query-time scoring skips the norms). The norm is computed
    * ONCE per row behind a Fence — naively referencing it inside the
    * per-element division lambda re-runs the 64-element fold per ELEMENT
    * (the HOF-inlining trap, 64× blowup) — then the unit vector is a pure
    * map-side transform: zero exchanges over a pre-split input. All-zero
    * vectors map to zeros (guard, not NaN). Every step is IEEE-exact
    * (sqrt is correctly rounded; both engines run the identical
    * left-to-right fold), so the doubles hash-check.
    */
  def embedNorm(spark: SparkSession, dir: String): DataFrame = {
    val withNorm = graft.plans.Fence(
      vecs(spark, dir).select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("l2_norm")))
    withNorm.select(col("vec_id"), col("l2_norm"),
      transform(col("embedding"), x =>
        when(col("l2_norm") === 0.0, 0.0)
          .otherwise(x.cast("double") / col("l2_norm"))).as("unit"))
  }

  /** Gate-emitted form of D48: `l2_norm` stays a raw double (the fold is
    * IEEE-identical in both engines, like the cosine scores D35
    * hash-checks), while the unit-vector array is serialized to one CSV
    * string of e9-quantized longs — `floor(u·1e9 + 0.5)` is exact
    * round-half-up in both engines and a BIGINT string needs no float
    * formatting agreement. Raw array cells crash the driver's
    * pandas-based row sort (the r4 red row), so the emitted frame is
    * all-scalar; the arrays-out `embedNorm` stays as the library form.
    */
  def embedNormQuery(spark: SparkSession, dir: String): DataFrame =
    embedNorm(spark, dir).select(
      col("vec_id"), col("l2_norm"),
      array_join(transform(col("unit"),
        u => floor(u * 1e9 + 0.5).cast("bigint").cast("string")), ",")
        .as("unit_e9"))
  val embedNormSql: String =
    s"""SELECT vec_id, l2_norm,
      array_to_string(list_transform(unit,
        u -> CAST(floor(u * 1e9 + 0.5) AS BIGINT)), ',') AS unit_e9
    FROM (SELECT vec_id, l2_norm,
      list_transform(embedding, x -> CASE WHEN l2_norm = 0 THEN 0.0
        ELSE CAST(x AS DOUBLE) / l2_norm END) AS unit
    FROM (SELECT vec_id, embedding, ${normSql("embedding")} AS l2_norm
      FROM embeddings))"""

  /** D45: per-dimension embedding statistics — the QC pass run before any
    * geometric operator trusts a new embedding drop: a collapsed dimension
    * (min = max), a scale-exploded one, or a shifted mean each silently
    * poison cosine/LSH downstream, and this is the query that catches them.
    * posexplode → ONE partial-agg shuffle bounded by DIM (64 rows out of
    * any corpus size — map-side combine does all the work); min/max are
    * order-independent by definition and the mean uses the same
    * round(avg,4)+0.0 canonicalization embed_centroids hash-checks, so
    * the whole frame is engine-exact.
    */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame =
    // unspread like embedCentroids (r14): pure partial aggregate, nothing
    // CPU-dense for a spread to win, and the spread reordered the avg()
    // partials (r13 ADVICE exposure)
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(count(col("v")).as("n_vecs"),
        min(col("v").cast("double")).as("v_min"),
        max(col("v").cast("double")).as("v_max"),
        (round(avg(col("v").cast("double")), 4) + 0.0).as("v_mean"))
      .withColumn("degenerate", col("v_min") === col("v_max"))
  val embedDimStatsSql: String =
    s"""SELECT CAST(t.p AS INT) AS pos, count(embedding[t.p + 1]) AS n_vecs,
           min(CAST(embedding[t.p + 1] AS DOUBLE)) AS v_min,
           max(CAST(embedding[t.p + 1] AS DOUBLE)) AS v_max,
           round(avg(CAST(embedding[t.p + 1] AS DOUBLE)), 4) + 0.0 AS v_mean,
           min(CAST(embedding[t.p + 1] AS DOUBLE))
             = max(CAST(embedding[t.p + 1] AS DOUBLE)) AS degenerate
    FROM embeddings, range(0, $Dim) t(p)
    GROUP BY t.p"""

  /** K-NN graph degree (r13): neighbors kept per vector per round. */
  def GraphK: Int = {
    val k = graft.GraftConfig.int("graft.ann.graphK", 5)
    require(k >= 1 && k <= 64, s"graft.ann.graphK must be in [1, 64], got $k")
    k
  }
  /** NN-descent expansion rounds (fixed, unrolled in the oracle). */
  val GraphRounds = 4
  /** Refinement breadth multiple: rounds carry top-(B·K) candidate lists
    * (search breadth), the final graph keeps top-K (output degree) — the
    * standard NN-descent ef/K split; breadth is what escapes the weak
    * neighbor-of-neighbor correlation of near-uniform vector sets. */
  val GraphBreadth = 2

  /** D-: ann_knn_graph — corpus-wide K-NN GRAPH via IVF seeding + two
    * rounds of NN-descent neighbor-of-neighbor expansion (Dong et al.
    * 2011, made deterministic): the graph-refinement serving structure
    * the r12 verdict's item 6 asked this engine to either build or rule
    * out. Round 0 seeds each vector's neighbor list from its IVF probe
    * candidates (the same NProbe-cell members ann_ivf scans — no fresh
    * machinery, the stored-index layout already serves this); each
    * refinement round proposes every neighbor-of-neighbor (v→n1→n2 ⇒
    * candidate v→n2), rescores candidates with the EXACT cosine kernel,
    * and keeps top-K per vector (ties → lowest nb_id, the family
    * convention). Two rounds reach ≥2 hops past the cell boundary —
    * exactly the edges IVF pruning cannot see (members of unprobed cells
    * reachable through a shared neighbor).
    *
    * Determinism: candidate sets are id-DISTINCT before scoring (dup
    * pairs from multiple shared cells/paths would duplicate ranks), the
    * score is the same codegen'd dot both engines fold in index order,
    * and every selection is (cos DESC, nb_id ASC) — so the DuckDB replay
    * hash-matches, which is what makes a GRAPH build auditable: recall
    * improvements per round are measured, not vibes (AnnIndexSpec pins
    * monotone non-degrading exact-top-K recall g0 → g2).
    *
    * Scale shape: per-round candidate volume is ≤ K² per vertex (the
    * n-of-n join is graph-degree-bounded, never corpus²); rescoring
    * joins candidates to embeddings by id (shuffle bounded by candidate
    * count × Dim floats); top-K is one per-vertex window. At 100 TB the
    * rounds are a fixed number of bounded self-joins — the standard
    * distributed NN-descent layout.
    */
  def annKnnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraphAt(spark, dir, GraphRounds)

  /** Rounds-parametric core (the spec measures recall at 0 vs GraphRounds
    * rounds to pin that refinement monotonically helps). */
  /** Seed-ring width: each vector seeds against the ±SeedW rows adjacent
    * to it in every probed cell's (centroid-cosine, id) ordering — a
    * 1-D locality sketch that bounds seed volume at 2·SeedW·NProbe per
    * vector (LINEAR in the corpus; joining every probed cell's full
    * member list is n²·NProbe/cells and was measured at 54 s for a 20k
    * corpus before this bound). */
  val SeedW = 10

  private[graft] def knnGraphAt(spark: SparkSession, dir: String,
                                nRounds: Int): DataFrame = {
    // (vec_id, embedding, nrm) materialized ONCE: the five topK passes
    // (seed + nRounds) each join this frame twice, so without the barrier
    // the embeddings parquet is re-scanned/re-spread 2·(nRounds+1) times
    // and — worse — norm() is re-evaluated PER CANDIDATE PAIR after
    // CollapseProject inlines it into the cos projection (3 full-Dim dot
    // folds per scored pair instead of 1). nrm here is the identical
    // sqrt∘dot fold over the identical array, so cos = dot/(qn·nn) is
    // bit-for-bit the inline form and the oracle is unchanged. cpLazy
    // (persist), NOT cp: an InMemoryRelation keeps size stats, so AQE can
    // still broadcast this side of the per-round scoring joins — an RDD
    // barrier here forced every round onto SMJ (the partPagerank lesson).
    val v = graft.Checkpoints.cpLazy(
      vecs(spark, dir).withColumn("nrm", norm(col("embedding"))))
    val k = GraphK
    // single consumer (the ring window below, itself checkpointed) — no
    // barrier needed at all (r14; was an eager cp): ivfRanked's own
    // internals carry their barriers
    val ranked = ivfRanked(spark, dir)
    // ring-ordered linear seeding: per cell, order every probe row
    // (rn ≤ NProbe, members included at rn = 1) by (ccos desc, vec_id)
    // and pair each row with the next 1..SeedW rows — undirected, so
    // each vector sees ±SeedW neighbors per probed cell
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("ccos").desc, col("vec_id").asc)
    val o = ranked
      .withColumn("pos", row_number().over(wOrd))
      .select(col("cell"), col("vec_id"), col("pos"))
      .transform(graft.Checkpoints.cp)
    val ahead = o
      .withColumn("step", explode(lit((1 to SeedW).toArray)))
      .withColumn("pos2", col("pos") + col("step"))
    val ringPairs = ahead
      .join(o.select(col("cell"), col("vec_id").as("nb_id"),
        col("pos").as("pos2")), Seq("cell", "pos2"))
      .filter(col("vec_id") =!= col("nb_id"))
      .select(col("vec_id").as("q_id"), col("nb_id"))
    val cand0 = ringPairs
      .unionByName(ringPairs.select(col("nb_id").as("q_id"),
        col("q_id").as("nb_id")))
      .distinct()
    def nearest(cands: DataFrame, depth: Int): DataFrame = {
      val scored = cands
        .join(v.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("nrm").as("qn")), Seq("q_id"))
        .join(v.select(col("vec_id").as("nb_id"), col("embedding").as("nv"),
          col("nrm").as("nn")), Seq("nb_id"))
        .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      topK(scored, Seq(col("q_id")), Seq(col("cos").desc, col("nb_id").asc), depth)
        .select(col("q_id"), col("nb_id"), col("rank"), col("cos"))
        .transform(graft.Checkpoints.cp)
    }
    var g = nearest(cand0, k * GraphBreadth)
    for (_ <- 1 to nRounds) {
      // NN-descent local join over the UNDIRECTED graph: u = g ∪ gᵀ, then
      // every 2-path a→mid→b proposes (a, b) — reverse edges matter
      // (b being near a's neighbor is evidence even when a never ranked
      // in b's list), and they are what makes two rounds converge
      val u = g.select(col("q_id"), col("nb_id"))
        .unionByName(g.select(col("nb_id").as("q_id"), col("q_id").as("nb_id")))
      val nn = u.select(col("q_id"), col("nb_id").as("mid"))
        .join(u.select(col("q_id").as("mid"), col("nb_id").as("nb2")), Seq("mid"))
        .filter(col("q_id") =!= col("nb2"))
        .select(col("q_id"), col("nb2").as("nb_id"))
      g = nearest(g.select(col("q_id"), col("nb_id")).unionByName(nn).distinct(),
        k * GraphBreadth)
    }
    g.filter(col("rank") <= k)
      .select(col("q_id").as("vec_id"), col("nb_id"), col("rank"),
        round(col("cos"), 4).as("cos_sim"))
  }

  /** Oracle: the identical seeding + two unrolled refinement rounds. */
  def annKnnGraphSql: String = {
    val k = GraphK
    val kw = GraphK * GraphBreadth
    val cos = s"${dotSql("qe.embedding", "ne.embedding")}" +
      s" / (${normSql("qe.embedding")} * ${normSql("ne.embedding")})"
    def topK(name: String, cands: String): String =
      s"""$name AS MATERIALIZED (
      SELECT q_id, nb_id, rank, cos FROM (
        SELECT c.q_id, c.nb_id, $cos AS cos,
               row_number() OVER (PARTITION BY c.q_id
                 ORDER BY $cos DESC, c.nb_id ASC) AS rank
        FROM $cands c
        JOIN embeddings qe ON qe.vec_id = c.q_id
        JOIN embeddings ne ON ne.vec_id = c.nb_id)
      WHERE rank <= $kw)"""
    def expand(prev: String, name: String): String =
      s"""u_$name AS (
      SELECT q_id, nb_id FROM $prev
      UNION ALL SELECT nb_id AS q_id, q_id AS nb_id FROM $prev),
    $name AS (
      SELECT DISTINCT q_id, nb_id FROM (
        SELECT a.q_id, b.nb_id
        FROM u_$name a JOIN u_$name b ON a.nb_id = b.q_id
        WHERE a.q_id != b.nb_id
        UNION ALL SELECT q_id, nb_id FROM $prev))"""
    val rounds = (1 to GraphRounds).map { r =>
      s"${expand(s"g${r - 1}", s"c$r")},\n    ${topK(s"g$r", s"c$r")}"
    }.mkString(",\n    ")
    s"""WITH $ivfRankedCtes,
    o AS MATERIALIZED (
      SELECT cell, vec_id,
             row_number() OVER (PARTITION BY cell
               ORDER BY ccos DESC, vec_id ASC) AS pos
      FROM ranked),
    ring AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nb_id
      FROM (SELECT cell, vec_id, pos + st.step AS pos2
            FROM o, range(1, $SeedW + 1) st(step)) a
      JOIN o b ON a.cell = b.cell AND a.pos2 = b.pos
      WHERE a.vec_id != b.vec_id),
    cand0 AS (
      SELECT DISTINCT q_id, nb_id FROM (
        SELECT q_id, nb_id FROM ring
        UNION ALL SELECT nb_id AS q_id, q_id AS nb_id FROM ring)),
    ${topK("g0", "cand0")},
    $rounds
    SELECT q_id AS vec_id, nb_id, rank, round(cos, 4) AS cos_sim
    FROM g$GraphRounds WHERE rank <= $k"""
  }
}
