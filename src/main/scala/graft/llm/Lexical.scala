package graft.llm

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.Tables
import graft.functions.roundScaled
import graft.operators.Relational.{lookupJoin, saltedTopK, topK}

/** Lexical (keyword) retrieval and lexical×vector hybrid fusion
  * (SURVEY.md §2.D, D91/D92) — the query→document serving family the
  * embedding tier can't cover alone: RAG stacks and training-data miners
  * run BM25-class keyword retrieval beside the ANN index and fuse the two
  * lists (reciprocal-rank fusion, Cormack et al. SIGIR'09), because the
  * lexical path catches exact identifiers/rare names that embedding
  * geometry smears.
  *
  * Arithmetic discipline: the engine is transcendental-free (the D32 LM
  * convention), so the scorer is the BM25 FAMILY with the idf log dropped
  * in favor of the exact Robertson–Spärck-Jones RATIO — both factors are
  * exact integer rationals, so the two engines agree bit-for-bit:
  *
  *   idf_e4    = (10000·(2(N−df)+1)) div (2·df+1)        [RSJ ratio ×1e4]
  *   tfsat_e6  = (22·tf·total·1e6) div
  *               (10·tf·total + 3·total + 9·len·N)       [k1=1.2, b=0.75]
  *   score_e10 = Σ_t idf_e4·tfsat_e6                     [DECIMAL(38,0)]
  *
  * (tf·(k1+1)/(tf + k1(1−b+b·len/avgdl)) with avgdl=total/N, numerator
  * and denominator both multiplied by 10·total — every operand integer.)
  * Versus log-idf the ratio weights rare terms more sharply; single-term
  * rankings are identical (both monotone in df). Scale headroom: the div
  * operands run in DECIMAL(38,0)/HUGEINT, exact past N=10¹² docs and
  * 10¹⁵ total tokens (the 100 TB operating point) — the covar-wide
  * discipline, paid up front since retrieval is a serving surface.
  *
  * Queries are the first 10 documents (the ANN NQueries convention);
  * each query is its doc's `graft.lex.qterms` RAREST distinct terms
  * (global df ascending, term ascending — rare-first is the standard
  * keyword-extraction shape and bounds the posting fan-out: hot terms
  * never enter the candidate join). Self-matches are excluded.
  *
  * Scale shape: one tokenize scan → (doc,term) partial-agg postings
  * (shuffle bounded by distinct (doc,term) — the text_repetition class);
  * df is one vocab-bounded partial agg; the ≤ Q·qterms selected query
  * terms BROADCAST into the postings join so candidates arrive map-side;
  * the final top-k is the salted TWO-PHASE rank (`graft.lex.salts`), so
  * no reducer frame exceeds candidates/salts even when a query's rare
  * terms turn out hot.
  */
object Lexical {

  /** Rarest-terms-per-query width — the recall/fan-out lever: each extra
    * term adds one posting-list's worth of candidates. Query-time only,
    * never part of a stored layout.
    */
  def QueryTerms: Int = {
    val q = graft.GraftConfig.int("graft.lex.qterms", 8)
    require(q >= 1, s"graft.lex.qterms must be >= 1, got $q")
    q
  }

  /** Results per query (both the lexical list and the fused list). */
  def TopK: Int = {
    val k = graft.GraftConfig.int("graft.lex.topk", 5)
    require(k >= 1, s"graft.lex.topk must be >= 1, got $k")
    k
  }

  /** Salt width for the two-phase top-k (phase-1 frames are bounded by
    * candidates/salts; phase 2 ranks ≤ TopK·salts survivors).
    */
  def Salts: Int = {
    val s = graft.GraftConfig.int("graft.lex.salts", 4)
    require(s >= 1, s"graft.lex.salts must be >= 1, got $s")
    s
  }

  private val NQueries = 10

  /** Query-term df ceiling for the RADIUS form, in basis points of the
    * collection size: a term enters a radius query iff df ≤ N·bp/10⁴.
    * The stateless replacement for the top-k form's rare-first window —
    * a pure row predicate (so the radius needs no per-query
    * ranking state) that bounds candidate fan-out the same way: hot
    * terms never reach the posting join.
    */
  def MaxDfBp: Int = {
    val b = graft.GraftConfig.int("graft.lex.maxDfBp", 500)
    require(b >= 1 && b <= 10000, s"graft.lex.maxDfBp must be in [1,10000], got $b")
    b
  }

  /** Single-term impact radius (e4-scaled score units; contribution_e10 ≥
    * radiusE4·10⁶ emits). A query-time breadth lever like the PQ radius.
    */
  def RadiusE4: Int = {
    val r = graft.GraftConfig.int("graft.lex.radiusE4", 100000)
    require(r > 0, s"graft.lex.radiusE4 must be > 0, got $r")
    r
  }

  /** RRF smoothing constant (Cormack et al.'s k=60, the universal
    * default); contribution of rank r is 1e6 div (60+r), exact integer.
    */
  private val RrfK = 60

  def lexicalTopk(spark: SparkSession, dir: String): DataFrame =
    lexicalTopkOf(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  /** Corpus-parametric core over a (doc_id, text) frame. */
  private[graft] def lexicalTopkOf(docs0: DataFrame): DataFrame = {
    val post = postingsOf(docs0)
    rankedRetrieve(post,
      post.groupBy(col("term")).agg(count(lit(1)).as("df")),
      statsOf(docs0))
  }

  /** (n, total) collection statistics — computed from the DOCS frame, not
    * the postings (token-less docs carry no posting rows but still count
    * toward N and avgdl).
    */
  private def statsOf(docs0: DataFrame): DataFrame =
    docs0.select(size(TextOps.toks(col("text"))).as("l"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("l")), lit(0L)).as("total"))

  /** Rare-first query-term selection shared by the batch scorers: the ≤
    * Q·vocab(query docs) (q_id, term) frame joins df and keeps each
    * query's QueryTerms rarest terms — contract-bounded by the query docs'
    * own vocabularies (the embed_pca window class). The serving read makes
    * the same cut on the driver (`rareFirst`).
    */
  private[graft] def querySelOf(qterms: DataFrame, dfreq: DataFrame): DataFrame =
    topK(broadcast(qterms).join(dfreq, Seq("term")), Seq(col("q_id")),
      Seq(col("df").asc, col("term").asc), QueryTerms, "tr")
      .select(col("q_id"), col("term"), col("df"))

  /** The (q_id, term) rows of the query docs' postings. */
  private def queryTermsOf(post: DataFrame): DataFrame =
    post.filter(col("doc_id") < NQueries).select(col("doc_id").as("q_id"), col("term"))

  /** Full candidate scores under the integer RSJ-ratio scorer (the
    * pre-top-k frame) — also the left side of the rank-agreement gauge
    * that quantifies the documented log→ratio idf substitution
    * (LexicalSpec).
    */
  private[graft] def scoredCandidatesOf(post: DataFrame, dfreq: DataFrame,
                                        stats: DataFrame): DataFrame =
    scoreOf(post.join(broadcast(querySelOf(queryTermsOf(post), dfreq)), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(stats)))

  /** The TEXTBOOK log-idf BM25 scorer (double ln — transcendental, so
    * spec-side only, never an oracle surface): the ground truth the
    * engine's exact RSJ-ratio family is measured against. Deliberately
    * Lucene BM25Similarity's NON-NEGATIVE form ln(1 + (N−df+½)/(df+½)) —
    * the raw RSJ log goes negative once df > N/2 (the classic
    * negative-idf pathology, which this synthetic corpus's uniformly hot
    * vocabulary hits on every term), and no deployed engine serves that.
    * Same query selection, same k1/b, same candidate set; only the idf
    * transform differs — which is precisely the delta the gauge
    * isolates.
    */
  private[graft] def scoredCandidatesLogOf(docs0: DataFrame): DataFrame = {
    val post = postingsOf(docs0)
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    post.join(broadcast(querySelOf(queryTermsOf(post), dfreq)), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(statsOf(docs0)))
      .withColumn("idf",
        log(lit(1.0) +
          (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("tfsat",
        col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("len") * col("n") / col("total"))))
      .groupBy(col("q_id"), col("doc_id").as("nb_id"))
      .agg(sum(col("idf") * col("tfsat")).as("score"))
  }

  /** Integer-RSJ candidate scores straight from a docs frame (spec-side
    * gauge entry point — the serving paths go through rankedRetrieve).
    */
  private[graft] def scoredCandidatesOf(docs0: DataFrame): DataFrame = {
    val post = postingsOf(docs0)
    scoredCandidatesOf(post,
      post.groupBy(col("term")).agg(count(lit(1)).as("df")), statsOf(docs0))
  }

  /** The retrieval tail over any (postings, df, stats) source — live
    * frames for D91, the stored index for D91b.
    */
  private def rankedRetrieve(post: DataFrame, dfreq: DataFrame,
                             stats: DataFrame): DataFrame =
    rankTail(scoredCandidatesOf(post, dfreq, stats))

  /** Salted two-phase top-k (`graft.lex.salts`) on the EXACT integer
    * score (desc, nb_id asc), so the cut is engine-independent.
    */
  private def rankTail(scored: DataFrame): DataFrame =
    saltedTopK(scored, Seq(col("q_id")), Seq(col("s_e10").desc, col("nb_id").asc),
      TopK, col("nb_id") % Salts)
      .select(col("q_id"), col("nb_id"), col("rank"),
        roundScaled(col("s_e10").cast("double") / 1e10, 6).as("score"))

  /** querySelOf's rare-first cut on the driver, for held query terms and
    * df: each query's (q, term) rows that have a df, the QueryTerms
    * smallest by (df, term) — terms in Spark's UTF-8 binary order, the
    * order the window sorts by — as (q, term, df). Duplicate rows keep
    * their multiplicity, as in the join.
    */
  private[graft] def rareFirst[Q](qterms: Seq[(Q, String)],
                                  dfreq: Map[String, Long]): Seq[(Q, String, Long)] = {
    val order = Ordering.by((r: (Q, String, Long)) => (r._3, UTF8String.fromString(r._2)))(
      Ordering.Tuple2(Ordering.Long, Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)))
    qterms.flatMap { case (q, t) => dfreq.get(t).map(d => (q, t, d)) }
      .groupBy(_._1).values.toSeq.flatMap(_.sorted(order).take(QueryTerms))
  }

  /** Warm-index top-k for an ARRIVING query-docs frame — the streaming
    * serving form's per-micro-batch core (E7's lexTopkStream): identical
    * scoring and ranking to D91b's probe, but query terms come from
    * tokenizing the arriving docs (array_distinct(toks) ≡ the postings'
    * per-doc term set, so an arrived doc that is already indexed
    * retrieves exactly its D91b rows — the parity LexicalSpec pins)
    * rare-first against the STORED df, scored under the STORED stats.
    *
    * Every small side is held on the driver, so the read's only jobs are
    * the postings scan and its ranking: the query docs' selection is
    * built on the driver (`heldQsel`, rare-first over the held `_df`),
    * joins the postings as a plan literal (`Relational.lookupJoin`), and
    * the held `_stats` become two long literals.
    *
    * OOV contract (r12): query terms absent from the PINNED `_df` are
    * dropped — a query doc whose terms are entirely post-build retrieves
    * zero rows. Documented (rather than left-joined into a QC column)
    * because the pinned-df behavior IS the segment-based-engine semantics
    * the index family exports; the streaming wrapper
    * (StreamOps.lexTopkStream) carries the operational guidance.
    */
  private[graft] def lexTopkForQueries(spark: SparkSession, table: String,
                                       queryDocs: DataFrame): DataFrame = {
    val S = graft.sources.BucketedSink
    val qsel = heldQsel(spark, table, queryDocs)(rareFirst(_, _))
    val stats = S.heldRows(spark, table + "_stats").head
    rankTail(scoreOf(lookupJoin(S.readServing(spark, table, "doc_id"), "term", qsel)
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("n", lit(stats.getLong(0)))
      .withColumn("total", lit(stats.getLong(1)))))
  }

  /** An arriving query-docs frame's (q_id, term, df) selection, built on
    * the driver: each doc's distinct terms are collected (no job for a
    * local frame, such as a stream's micro-batch), `select` cuts
    * them against the held `_df`, and the kept rows become a local frame
    * whose q_id keeps `queryDocs`' doc_id type.
    */
  private def heldQsel(spark: SparkSession, table: String, queryDocs: DataFrame)
                      (select: (Seq[(Any, String)], Map[String, Long]) =>
                        Seq[(Any, String, Long)]): DataFrame = {
    val terms = queryDocs.select(col("doc_id"), array_distinct(TextOps.toks(col("text"))))
      .collect().toSeq.filterNot(_.isNullAt(0))
      .flatMap(r => r.getSeq[String](1).map(t => (r.get(0), t)))
    val dfreq = graft.sources.BucketedSink.heldRows(spark, table + "_df")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.createDataFrame(
      select(terms, dfreq).map { case (q, t, d) => Row(q, t, d) }.asJava,
      StructType(Seq(queryDocs.schema("doc_id").copy(name = "q_id"),
        StructField("term", StringType), StructField("df", LongType))))
  }

  /** Integer RSJ-ratio score per (q_id, nb_id) over candidate rows
    * carrying q_id, doc_id, df, tf, len and the stats n, total.
    */
  private def scoreOf(cand: DataFrame): DataFrame =
    cand
      .withColumn("idf_e4",
        expr("(10000 * (2 * (n - df) + 1)) div (2 * df + 1)"))
      .withColumn("tfsat_e6",
        expr("""(cast(22 as decimal(38,0)) * tf * total * 1000000) div
                (cast(10 as decimal(38,0)) * tf * total + 3 * total + 9 * len * n)"""))
      .groupBy(col("q_id"), col("doc_id").as("nb_id"))
      .agg(sum(expr("cast(idf_e4 as decimal(38,0)) * tfsat_e6")).as("s_e10"))

  /** (doc_id, term, len, tf): one tokenize scan, one partial-agg shuffle
    * bounded by distinct (doc, term); `len` (the doc's token count) rides
    * the grouping key — functionally dependent on doc_id, no extra pass.
    */
  private def postingsOf(docs0: DataFrame): DataFrame =
    docs0.select(col("doc_id"), TextOps.toks(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).as("len"),
        explode(col("ts")).as("term"))
      .groupBy(col("doc_id"), col("term"), col("len"))
      .agg(count(lit(1)).as("tf"))

  /** Composable oracle CTE chain ending in `lexrk` = (q_id, nb_id, s_e10,
    * rank ≤ TopK) — shared by the D91 oracle and the D92 fusion oracle.
    */
  private def lexCtes: String =
    s"""ltk AS (SELECT doc_id, ${TextOps.toksSql} AS ts FROM documents),
    lpost AS (
      SELECT doc_id, term, len, count(*) AS tf FROM (
        SELECT doc_id, len(ts) AS len, unnest(ts) AS term FROM ltk)
      GROUP BY doc_id, term, len),
    ldf AS (SELECT term, count(*) AS df FROM lpost GROUP BY term),
    lstats AS (SELECT count(*) AS n, coalesce(sum(len(ts)), 0) AS total FROM ltk),
    lqsel AS (
      SELECT q_id, term, df FROM (
        SELECT p.doc_id AS q_id, p.term, d.df,
               row_number() OVER (PARTITION BY p.doc_id
                 ORDER BY d.df ASC, p.term ASC) AS tr
        FROM lpost p JOIN ldf d USING (term) WHERE p.doc_id < $NQueries)
      WHERE tr <= $QueryTerms),
    lsc AS (
      SELECT q.q_id, p.doc_id AS nb_id,
        sum( ((10000 * (2 * (s.n - q.df) + 1)) // (2 * q.df + 1))
           * ((CAST(22 AS HUGEINT) * p.tf * s.total * 1000000) //
              (CAST(10 AS HUGEINT) * p.tf * s.total + 3 * s.total + 9 * p.len * s.n)) )
          AS s_e10
      FROM lqsel q JOIN lpost p USING (term), lstats s
      WHERE p.doc_id != q.q_id
      GROUP BY q.q_id, p.doc_id),
    lexrk AS (
      SELECT q_id, nb_id, s_e10, rank FROM (
        SELECT q_id, nb_id, s_e10,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY s_e10 DESC, nb_id ASC) AS rank
        FROM lsc)
      WHERE rank <= $TopK)"""

  def lexicalTopkSql: String =
    s"""WITH $lexCtes
    SELECT q_id, nb_id, rank,
           round(CAST(s_e10 AS DOUBLE) / 1e10, 6) AS score
    FROM lexrk"""

  // ---------------------------------------------------------------------
  // D91b: the PERSISTED inverted index (pay-at-ingest lexical serving)
  // ---------------------------------------------------------------------

  /** Per-dataset, content-fingerprinted index name (the AnnIndexSink
    * convention): a rewritten corpus must build a FRESH index — serving
    * postings from another corpus would silently mis-rank, not fail. The
    * query-time levers (qterms/topk/salts) are NOT in the name: the
    * stored layout doesn't depend on them (unlike the PQ widths, which
    * define the codes themselves).
    */
  private def tableFor(dir: String): String =
    "lex_post_" + graft.sources.BucketedSink.nameHash(
      s"$dir\n${graft.sources.BucketedSink.contentFingerprint(
        Seq(s"$dir/documents.parquet"))}\nlayout=bucketed-v1")

  /** Build (once) the persisted lexical index for `dir`'s corpus:
    * `<t>` = the doc_id-bucketed postings (doc_id, term, len, tf),
    * `<t>_df` = per-term document frequencies, `<t>_stats` = the 1-row
    * (N, total-tokens) collection statistics. A partial triple rebuilds
    * everything (`BucketedSink.ensureIndex`).
    */
  def ensureLexIndex(spark: SparkSession, dir: String): String = {
    val table = tableFor(dir)
    graft.sources.BucketedSink.ensureIndex(spark, table, "_df", "_stats")(
      writeLexIndexOf(
        Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"), table))
  }

  /** Build the index from a FRAME with `BucketedSink.rebuildIndex`'s
    * overwrite contract. df and stats are PINNED at build time — the
    * collection statistics an appended document is scored under are the
    * build's, exactly how segment-based lexical engines serve idf between
    * merges, and the lexical twin of the pinned-codebook discipline:
    * re-deriving df on append would re-rank every stored document's terms.
    */
  def writeLexIndexOf(docs0: DataFrame, table: String): Unit = {
    val spark = docs0.sparkSession
    graft.sources.BucketedSink.rebuildIndex(spark, table) {
      graft.sources.BucketedSink.writeBucketed(postingsOf(docs0), table, "doc_id",
        graft.sources.BucketedSink.indexBuckets(spark), sortCols = Seq("doc_id", "term"))
      spark.table(table).groupBy(col("term")).agg(count(lit(1)).as("df"))
        .write.format("parquet").saveAsTable(table + "_df")
      statsOf(docs0).write.format("parquet").saveAsTable(table + "_stats")
    }
  }

  /** D91b: lexical retrieval from the PERSISTED index — identical
    * contract and output to D91 (the oracle reuses lexicalTopkSql: the
    * stored postings/df/stats are the recompute's expressions verbatim,
    * the pq_index_probe convention), but the per-query cost drops to the
    * broadcast query-term join + the candidate scan + the salted top-k:
    * no corpus tokenize, no vocab aggregation. Postings are read through
    * the tombstone-aware serving view, so deleted documents stop being
    * candidates with no added exchange.
    */
  def lexicalIndexProbe(spark: SparkSession, dir: String): DataFrame =
    lexProbeFromStore(spark, ensureLexIndex(spark, dir))

  /** Serve from an arbitrary persisted index (shared by the catalog probe
    * and the lifecycle specs): tombstone-aware postings + pinned df/stats
    * from `table`.
    */
  private[graft] def lexProbeFromStore(spark: SparkSession, table: String): DataFrame =
    rankedRetrieve(
      graft.sources.BucketedSink.readServing(spark, table, "doc_id"),
      spark.table(table + "_df"), spark.table(table + "_stats"))

  /** Recompute twin for the lifecycle specs: retrieve over postings
    * freshly tokenized from `docs0` but under the STORED df/stats — what
    * a from-scratch tokenize of the current survivor set would return
    * given the pinned collection statistics.
    */
  private[graft] def lexProbeRecomputed(docs0: DataFrame, table: String): DataFrame = {
    val spark = docs0.sparkSession
    rankedRetrieve(postingsOf(docs0),
      spark.table(table + "_df"), spark.table(table + "_stats"))
  }

  /** Incremental ingest: tokenize a new batch and insert its posting rows
    * through `BucketedSink.appendIndex` (idempotent, reinstating, one file
    * per bucket) — df/stats stay PINNED (see writeLexIndexOf).
    */
  def appendLexDocs(batch: DataFrame, table: String): Unit =
    graft.sources.BucketedSink.appendIndex(
      batch.select(col("doc_id"), col("text")), table, "doc_id")(postingsOf)

  /** The per-term contribution expression shared by the radius hits and
    * the guard query — idf_e4 · tfsat_e6 with the collection stats
    * as literals (2 longs held on the driver by `BucketedSink.heldRows`,
    * so the hot path carries no stats join at all). Expects columns df,
    * tf, len on the row.
    */
  private[graft] def contribE10(n: Long, total: Long): org.apache.spark.sql.Column =
    expr(s"""((10000 * (2 * ($n - df) + 1)) div (2 * df + 1))
           * ((cast(22 as decimal(38,0)) * tf * $total * 1000000) div
              (cast(10 as decimal(38,0)) * tf * $total + 3 * $total + 9 * len * $n))""")

  /** D91c: single-term impact radius over the persisted index — the RANGE
    * form of lexical retrieval (the pq_radius lineage): emit every
    * (query, doc) pair whose BEST shared rare term alone clears the
    * radius. "Best single term clears r" is the impact-ordered-index
    * emission rule (Anh & Moffat's impact sorting; MaxScore's bound) made
    * a pure per-row predicate: no per-pair aggregation, no ranking state
    * — which is exactly what makes the form STREAMABLE (top-k is a rank,
    * a radius is a filter; the decontaminateStream shape with a weighted
    * threshold). Query terms are the df-thresholded rare set (MaxDfBp —
    * a row predicate, not a window), stats are literals, and the
    * only exchange is the final pair distinct, bounded by emitted pairs.
    */
  /** The catalog D91c key (r12 form): the standard first-NQueries query
    * set PLUS the guaranteed-emission GUARD query — the r11 verdict's
    * item 8: at sf0.1 the first-10 queries happened to share no
    * radius-clearing rare term with anything, so the key was green on an
    * EMPTY result, which a gate cannot distinguish from "the radius
    * machinery is broken". The guard picks, deterministically in both
    * engines, the rarest qualifying posting row corpus-wide (df in
    * [2, maxDf], contribution clears the radius; ties df → term →
    * doc_id) and adds the SMALLEST OTHER doc holding that term as an
    * extra query on that one term — so whenever ANY radius-clearing
    * rare-term pair exists in the corpus, the output is provably
    * non-empty, and an empty output now MEANS no qualifying pair exists.
    * Cost: one TakeOrdered over the already-computed candidate rows.
    */
  def lexicalRadius(spark: SparkSession, dir: String): DataFrame = {
    val table = ensureLexIndex(spark, dir)
    val st = graft.sources.BucketedSink.heldRows(spark, table + "_stats").head
    val (n, total) = (st.getLong(0), st.getLong(1))
    radiusHits(spark, table, n, total,
      radiusQsel(spark, table, n).unionByName(guardQsel(spark, table, n, total))
        .distinct())
  }

  /** The first-NQueries radius form, its query terms read from the stored
    * postings — the reference the text-side `lexRadiusForQueries` is held
    * to (LexicalSpec pins lexRadiusStream ≡ this, pair-for-pair). */
  private[graft] def lexRadiusFromStore(spark: SparkSession, table: String): DataFrame = {
    val st = graft.sources.BucketedSink.heldRows(spark, table + "_stats").head
    val (n, total) = (st.getLong(0), st.getLong(1))
    radiusHits(spark, table, n, total, radiusQsel(spark, table, n))
  }

  /** The persisted index's radius probe for an ARRIVING (doc_id, text)
    * query frame — `StreamOps.lexRadiusStream`'s per-micro-batch core:
    * each doc's distinct terms within the stored `_df`'s MaxDfBp cut,
    * selected on the driver (`heldQsel`), through the catalog radius's
    * own `radiusHits`. An arrived doc that is already indexed emits
    * exactly its `lexRadiusFromStore` pairs.
    */
  private[graft] def lexRadiusForQueries(spark: SparkSession, table: String,
                                         queryDocs: DataFrame): DataFrame = {
    val st = graft.sources.BucketedSink.heldRows(spark, table + "_stats").head
    val (n, total) = (st.getLong(0), st.getLong(1))
    val maxDf = n * MaxDfBp / 10000
    radiusHits(spark, table, n, total, heldQsel(spark, table, queryDocs) { (terms, dfreq) =>
      terms.flatMap { case (q, t) => dfreq.get(t).filter(_ <= maxDf).map(d => (q, t, d)) }
    })
  }

  private def radiusQsel(spark: SparkSession, table: String, n: Long): DataFrame = {
    val maxDf = n * MaxDfBp / 10000
    val post = graft.sources.BucketedSink.readServing(spark, table, "doc_id")
    post.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("q_id"), col("term"))
      .join(spark.table(table + "_df").filter(col("df") <= maxDf), Seq("term"))
      .select(col("q_id"), col("term"), col("df"))
  }

  /** The guard query: rarest qualifying (doc, term) posting row →
    * the smallest other doc with that term, querying that term only. */
  private def guardQsel(spark: SparkSession, table: String,
                        n: Long, total: Long): DataFrame = {
    val maxDf = n * MaxDfBp / 10000
    val post = graft.sources.BucketedSink.readServing(spark, table, "doc_id")
    val qual = post
      .join(spark.table(table + "_df")
        .filter(col("df") >= 2 && col("df") <= maxDf), Seq("term"))
      .filter(contribE10(n, total) >= lit(RadiusE4.toLong) * 1000000L)
      .orderBy(col("df").asc, col("term").asc, col("doc_id").asc).limit(1)
      .select(col("term").as("qt"), col("doc_id").as("qd"), col("df").as("qdf"))
    post.join(broadcast(qual),
        col("term") === col("qt") && col("doc_id") =!= col("qd"))
      .groupBy(col("qt"), col("qdf"))
      .agg(min(col("doc_id")).as("q_id"))
      .select(col("q_id"), col("qt").as("term"), col("qdf").as("df"))
  }

  private def radiusHits(spark: SparkSession, table: String, n: Long,
                         total: Long, qsel: DataFrame): DataFrame = {
    val post = graft.sources.BucketedSink.readServing(spark, table, "doc_id")
    post.join(broadcast(qsel), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .filter(contribE10(n, total) >= lit(RadiusE4.toLong) * 1000000L)
      .select(col("q_id"), col("doc_id").as("nb_id"))
      .distinct()
  }

  def lexicalRadiusSql: String =
    s"""WITH $lexCtes,
    rq AS (
      SELECT p.doc_id AS q_id, p.term, d.df
      FROM lpost p JOIN ldf d USING (term), lstats s
      WHERE p.doc_id < $NQueries AND d.df <= (s.n * $MaxDfBp) // 10000),
    qual AS (
      SELECT p.doc_id, p.term, d.df
      FROM lpost p JOIN ldf d USING (term), lstats s
      WHERE d.df >= 2 AND d.df <= (s.n * $MaxDfBp) // 10000
        AND ((10000 * (2 * (s.n - d.df) + 1)) // (2 * d.df + 1))
          * ((CAST(22 AS HUGEINT) * p.tf * s.total * 1000000) //
             (CAST(10 AS HUGEINT) * p.tf * s.total + 3 * s.total + 9 * p.len * s.n))
          >= CAST($RadiusE4 AS HUGEINT) * 1000000
      ORDER BY d.df ASC, p.term ASC, p.doc_id ASC LIMIT 1),
    xq AS (
      SELECT min(p.doc_id) AS q_id, q.term, q.df
      FROM lpost p, qual q
      WHERE p.term = q.term AND p.doc_id != q.doc_id
      GROUP BY q.term, q.df),
    rq2 AS (SELECT q_id, term, df FROM rq
            UNION SELECT q_id, term, df FROM xq),
    hits AS (
      SELECT rq2.q_id, p.doc_id AS nb_id
      FROM rq2 JOIN lpost p USING (term), lstats s
      WHERE p.doc_id != rq2.q_id
        AND ((10000 * (2 * (s.n - rq2.df) + 1)) // (2 * rq2.df + 1))
          * ((CAST(22 AS HUGEINT) * p.tf * s.total * 1000000) //
             (CAST(10 AS HUGEINT) * p.tf * s.total + 3 * s.total + 9 * p.len * s.n))
          >= CAST($RadiusE4 AS HUGEINT) * 1000000)
    SELECT DISTINCT q_id, nb_id FROM hits"""

  /** Retract documents from the index: tombstones on doc_id, excluded by
    * every probe via the driver-held takedown filter in
    * `BucketedSink.readServing` (the deletePqCodes contract).
    */
  def deleteLexDocs(spark: SparkSession, table: String, docIds: DataFrame): Unit =
    graft.sources.BucketedSink.appendTombstones(spark, table,
      docIds.select(col(docIds.columns.head).as("doc_id")))

  /** Fold tombstones into the bucketed files and clear the tombstone
    * table; probes identical before/after. df/stats never change —
    * compaction touches only the postings.
    */
  def compactLex(spark: SparkSession, table: String): Unit =
    graft.sources.BucketedSink.compactTombstones(spark, table, "doc_id")

  /** D92: hybrid lexical×vector retrieval via reciprocal-rank fusion —
    * each query's lexical top-k (D91) and exact-cosine ANN top-k (D6)
    * fuse as rrf_e6 = Σ_lists 1e6 div (60 + rank) (Cormack et al.
    * SIGIR'09; integer-exact, rank-only — RRF's point is that it needs no
    * score calibration between the incomparable BM25 and cosine scales).
    * The shared id space is the testdata's convention that `embeddings`
    * embeds a prefix of `documents` (vec_id ≡ doc_id); documents without
    * a vector simply never appear in the vector list, which is the honest
    * production shape for a partially-embedded corpus. n_lists reports
    * 2 / 1 for consensus vs single-path hits. The fusion window is
    * contract-bounded (≤ 2·TopK rows per query — the union of two
    * k-lists), so no salting is needed; the expensive work happens inside
    * the two upstream retrievals.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    rrfFuse(lexicalTopk(spark, dir), Ann.annBruteforce(spark, dir))

  /** D92b: hybrid fusion served entirely from the two PERSISTED indexes —
    * the production shape of D92: the lexical list from the stored
    * inverted index (D91b) and the vector list from the stored
    * hyperplane-bucketed embedding index (D53), fused by the same
    * integer-exact RRF. The recurring per-query cost is two warm index
    * probes + the contract-bounded fusion window; nothing tokenizes or
    * scans the corpus. The vector list is the single-probe LSH top-k
    * (approximate by construction — the serving tradeoff a deployed
    * hybrid stack actually makes), so the oracle composes D91's SQL with
    * D7's deterministic bucket expressions.
    */
  def hybridRrfIndexed(spark: SparkSession, dir: String): DataFrame =
    rrfFuse(lexicalIndexProbe(spark, dir), Ann.annIndexProbe(spark, dir))

  /** D91d: exact-phrase retrieval over POSITIONAL postings — the
    * capability class term-bag scoring cannot express (Lucene's phrase
    * query): find every document containing the query's phrase with the
    * terms ADJACENT, not merely co-present. Each query doc contributes
    * its RAREST adjacent bigram (min df(t1)+df(t2), ties by the terms —
    * the rare-first discipline applied to phrases: the phrase join's
    * fan-out is bounded by the rarest available posting list), and the
    * match is positional: occurrences are (doc, pos) rows holding t1
    * whose (doc, pos+1) row holds t2. Output: (q_id, nb_id, n_occ) with
    * exact occurrence counts, self excluded.
    *
    * Scale shape: positional postings are ONE posexplode scan (no
    * aggregation — position rows are the index, the Lucene proximity
    * layout); the ≤ Q phrase rows broadcast into the t1 posting join;
    * the adjacency check is an equality join on (doc, pos+1) against the
    * same positional frame; the occurrence count is bounded by phrase
    * hits. Nothing touches hot vocabulary unless the query doc offers
    * nothing rarer.
    */
  def lexicalPhrase(spark: SparkSession, dir: String): DataFrame =
    lexicalPhraseOf(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  /** Phrase length for the k-token forms (D91e/D91f) — how many
    * consecutive query-doc tokens make the probe phrase. Query-time only.
    */
  def PhraseK: Int = {
    val k = graft.GraftConfig.int("graft.lex.phraseK", 3)
    require(k >= 2 && k <= 8, s"graft.lex.phraseK must be in [2,8], got $k")
    k
  }

  /** Proximity budget for the slop form (D91f): matched positions must
    * satisfy p_{k-1} − p_0 ≤ (k−1) + slop with the terms in order —
    * Lucene PhraseQuery's ordered-window reading of slop. slop=0 is the
    * exact-adjacency match.
    */
  def PhraseSlop: Int = {
    val s = graft.GraftConfig.int("graft.lex.slop", 2)
    require(s >= 0 && s <= 32, s"graft.lex.slop must be in [0,32], got $s")
    s
  }

  private[graft] def lexicalPhraseOf(docs0: DataFrame): DataFrame = {
    val ppost = docs0
      .select(col("doc_id"), posexplode(TextOps.toks(col("text"))).as(Seq("pos", "term")))
    val dfreq = ppost.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // phrase candidates of the query docs: adjacent (t1, t2) pairs with
    // their df sum — contract-bounded by the query docs' own lengths
    val qb = ppost.filter(col("doc_id") < NQueries)
    val pairs = broadcast(qb.select(col("doc_id").as("q_id"),
        col("pos"), col("term").as("t1"))
      .join(qb.select(col("doc_id").as("q_id"), (col("pos") - 1).as("pos"),
        col("term").as("t2")), Seq("q_id", "pos")))
      .join(dfreq.withColumnRenamed("term", "t1").withColumnRenamed("df", "df1"), Seq("t1"))
      .join(dfreq.withColumnRenamed("term", "t2").withColumnRenamed("df", "df2"), Seq("t2"))
    val phrase = topK(pairs, Seq(col("q_id")),
        Seq((col("df1") + col("df2")).asc, col("t1").asc, col("t2").asc), 1, "pr")
      .select(col("q_id"), col("t1"), col("t2"))
    ppost.join(broadcast(phrase), col("term") === col("t1"))
      .select(col("q_id"), col("doc_id"), col("pos"), col("t2"))
      .join(ppost.select(col("doc_id"), (col("pos") - 1).as("pos"),
        col("term").as("t2")), Seq("doc_id", "pos", "t2"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id").as("nb_id"))
      .agg(count(lit(1)).as("n_occ"))
  }

  def lexicalPhraseSql: String =
    s"""WITH ltk AS (SELECT doc_id, ${TextOps.toksSql} AS ts FROM documents),
    ppost AS (
      SELECT doc_id, unnest(range(len(ts))) AS pos, unnest(ts) AS term
      FROM ltk),
    pdf AS (
      SELECT term, count(*) AS df FROM (
        SELECT DISTINCT doc_id, term FROM ppost)
      GROUP BY term),
    qb AS (SELECT * FROM ppost WHERE doc_id < $NQueries),
    pairs AS (
      SELECT a.doc_id AS q_id, a.term AS t1, b.term AS t2,
             d1.df + d2.df AS dfsum
      FROM qb a
      JOIN qb b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN pdf d1 ON d1.term = a.term
      JOIN pdf d2 ON d2.term = b.term),
    phrase AS (
      SELECT q_id, t1, t2 FROM (
        SELECT q_id, t1, t2,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY dfsum ASC, t1 ASC, t2 ASC) AS pr
        FROM pairs)
      WHERE pr = 1)
    SELECT ph.q_id, m1.doc_id AS nb_id, count(*) AS n_occ
    FROM phrase ph
    JOIN ppost m1 ON m1.term = ph.t1
    JOIN ppost m2 ON m2.doc_id = m1.doc_id AND m2.pos = m1.pos + 1
                 AND m2.term = ph.t2
    WHERE m1.doc_id != ph.q_id
    GROUP BY ph.q_id, m1.doc_id"""

  // ---------------------------------------------------------------------
  // D91e/D91f: k-token phrase + ordered-proximity (slop) retrieval
  // ---------------------------------------------------------------------

  /** (q_id, t0..t_{k-1}) — each query doc's RAREST consecutive k-gram
    * (min Σ df over the k terms; ties by the terms then position — fully
    * deterministic), the k-token generalization of D91d's bigram pick.
    * Rare-first keeps the downstream posting fan-out bounded by the
    * rarest available k-gram's lists. Built from the query docs' own
    * positional rows (≤ Q docs — contract-bounded), df joins on the
    * corpus presence frequencies.
    */
  private def rarestKgrams(ppost: DataFrame, dfreq: DataFrame, k: Int): DataFrame = {
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("pos").asc)
    val qb = ppost.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("q_id"), col("pos"), col("term").as("t0"))
    val grams = (1 until k).foldLeft(qb) { (d, i) =>
      d.withColumn(s"t$i", lead(col("t0"), i).over(wl))
    }.filter((1 until k).map(i => col(s"t$i").isNotNull)
      .foldLeft(lit(true))(_ && _))
    val withDf = (0 until k).foldLeft(grams) { (d, i) =>
      d.join(dfreq.select(col("term").as(s"t$i"), col("df").as(s"df$i")), Seq(s"t$i"))
    }
    val dfsum = (0 until k).map(i => col(s"df$i")).reduce(_ + _)
    topK(withDf, Seq(col("q_id")),
        dfsum.asc +: (0 until k).map(i => col(s"t$i").asc) :+ col("pos").asc, 1, "pr")
      .select(col("q_id") +: (0 until k).map(i => col(s"t$i")): _*)
  }

  private def ppostOf(docs0: DataFrame): DataFrame =
    docs0.select(col("doc_id"),
      posexplode(TextOps.toks(col("text"))).as(Seq("pos", "term")))

  private def presenceDfOf(ppost: DataFrame): DataFrame =
    ppost.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** D91e: FULL k-token phrase retrieval — every document containing the
    * query's rarest consecutive k-gram with all k terms ADJACENT in
    * order, exact occurrence counts (the full Lucene PhraseQuery at
    * slop 0, lifting D91d's adjacent-bigram verification to the whole
    * phrase). The match is a chain of k−1 EQUALITY joins anchored on the
    * t0 posting rows: step i joins the positional frame on
    * (doc, pos = anchor+i, term = t_i) — each join key carries the
    * broadcast phrase's term, so fan-out only ever shrinks as the chain
    * extends (a longer phrase is a cheaper verify, never a pricier one).
    */
  def lexicalPhraseK(spark: SparkSession, dir: String): DataFrame =
    lexicalPhraseKOf(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  private[graft] def lexicalPhraseKOf(docs0: DataFrame): DataFrame = {
    val ppost = ppostOf(docs0)
    phraseKMatch(ppost, presenceDfOf(ppost))
  }

  /** The exact-adjacency matching core over any (positional postings,
    * presence df) source — live frames for D91e, the stored positional
    * index for D91g.
    */
  private def phraseKMatch(ppost: DataFrame, dfreq: DataFrame): DataFrame = {
    val k = PhraseK
    val phrase = rarestKgrams(ppost, dfreq, k)
    val anchors = ppost.join(broadcast(phrase), col("term") === col("t0"))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id") +: col("doc_id") +: col("pos") +:
        (1 until k).map(i => col(s"t$i")): _*)
    val matched = (1 until k).foldLeft(anchors) { (d, i) =>
      d.join(ppost.select(col("doc_id"), (col("pos") - i).as("pos"),
          col("term").as(s"t$i")), Seq("doc_id", "pos", s"t$i"))
    }
    matched.groupBy(col("q_id"), col("doc_id").as("nb_id"))
      .agg(count(lit(1)).as("n_occ"))
  }

  /** Shared oracle CTE prologue for the k-gram forms: positional
    * postings, presence df, and the per-query rarest k-gram (mirrors
    * rarestKgrams' window exactly).
    */
  private def kgramCtes(k: Int): String = {
    val gramJoins = (1 until k).map(i =>
      s"JOIN qb a$i ON a$i.doc_id = a0.doc_id AND a$i.pos = a0.pos + $i").mkString("\n      ")
    val dfJoins = (0 until k).map(i =>
      s"JOIN pdf d$i ON d$i.term = a$i.term").mkString("\n      ")
    val termCols = (0 until k).map(i => s"a$i.term AS t$i").mkString(", ")
    val dfSum = (0 until k).map(i => s"d$i.df").mkString(" + ")
    val orderTs = (0 until k).map(i => s"t$i ASC").mkString(", ")
    s"""ltk AS (SELECT doc_id, ${TextOps.toksSql} AS ts FROM documents),
    ppost AS (
      SELECT doc_id, unnest(range(len(ts))) AS pos, unnest(ts) AS term
      FROM ltk),
    pdf AS (
      SELECT term, count(*) AS df FROM (
        SELECT DISTINCT doc_id, term FROM ppost)
      GROUP BY term),
    qb AS (SELECT * FROM ppost WHERE doc_id < $NQueries),
    grams AS (
      SELECT a0.doc_id AS q_id, a0.pos, $termCols, $dfSum AS dfsum
      FROM qb a0
      $gramJoins
      $dfJoins),
    phrase AS (
      SELECT ${(0 until k).map(i => s"t$i").mkString("q_id, ", ", ", "")} FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY dfsum ASC, $orderTs, pos ASC) AS pr
        FROM grams)
      WHERE pr = 1)"""
  }

  def lexicalPhraseKSql: String = {
    val k = PhraseK
    val chainJoins = (1 until k).map(i =>
      s"JOIN ppost m$i ON m$i.doc_id = m0.doc_id AND m$i.pos = m0.pos + $i AND m$i.term = ph.t$i")
      .mkString("\n    ")
    s"""WITH ${kgramCtes(k)}
    SELECT ph.q_id, m0.doc_id AS nb_id, count(*) AS n_occ
    FROM phrase ph
    JOIN ppost m0 ON m0.term = ph.t0
    $chainJoins
    WHERE m0.doc_id != ph.q_id
    GROUP BY ph.q_id, m0.doc_id"""
  }

  /** D91f: ordered-proximity (slop) retrieval — the same rarest k-gram,
    * matched with the terms IN ORDER inside a bounded window:
    * positions p_0 < p_1 < … < p_{k-1} with p_{k-1} − p_0 ≤ (k−1)+slop
    * (Lucene PhraseQuery slop, ordered reading). Output counts the
    * DISTINCT anchor positions p_0 that admit at least one such chain —
    * anchor-counted because proximity chains overlap combinatorially and
    * "how many places does the phrase approximately occur" is the
    * deployable statistic. Each chain step is an equality join on
    * (doc, term) with the window bound as a residual range predicate
    * (hash join + filter, never BNLJ: the equality keys are extracted
    * first), so the fan-out is bounded by each term's in-window
    * occurrences.
    */
  def lexicalPhraseSlop(spark: SparkSession, dir: String): DataFrame =
    lexicalPhraseSlopOf(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  private[graft] def lexicalPhraseSlopOf(docs0: DataFrame): DataFrame = {
    val ppost = ppostOf(docs0)
    phraseSlopMatch(ppost, presenceDfOf(ppost))
  }

  /** The ordered-window matching core over any (positional postings,
    * presence df) source — live frames for D91f, the stored positional
    * index for D91g.
    */
  private def phraseSlopMatch(ppost: DataFrame, dfreq: DataFrame): DataFrame = {
    val k = PhraseK
    val span = k - 1 + PhraseSlop
    val phrase = rarestKgrams(ppost, dfreq, k)
    val anchors = ppost.join(broadcast(phrase), col("term") === col("t0"))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id") +: col("doc_id") +: col("pos").as("p0") +:
        (1 until k).map(i => col(s"t$i")): _*)
    val chained = (1 until k).foldLeft(anchors.withColumn("prev", col("p0"))) {
      (d, i) =>
        val m = ppost.select(col("doc_id"), col("pos").as("mp"),
          col("term").as(s"t$i"))
        d.join(m, Seq("doc_id", s"t$i"))
          .filter(col("mp") > col("prev") && col("mp") <= col("p0") + span)
          .withColumn("prev", col("mp")).drop("mp")
    }
    chained.select(col("q_id"), col("doc_id"), col("p0")).distinct()
      .groupBy(col("q_id"), col("doc_id").as("nb_id"))
      .agg(count(lit(1)).as("n_anchors"))
  }

  def lexicalPhraseSlopSql: String = {
    val k = PhraseK
    val span = k - 1 + PhraseSlop
    val chainJoins = (1 until k).map { i =>
      val prev = if (i == 1) "m0.pos" else s"m${i - 1}.pos"
      s"""JOIN ppost m$i ON m$i.doc_id = m0.doc_id AND m$i.term = ph.t$i
         AND m$i.pos > $prev AND m$i.pos <= m0.pos + $span"""
    }.mkString("\n    ")
    s"""WITH ${kgramCtes(k)},
    hits AS (
      SELECT DISTINCT ph.q_id, m0.doc_id, m0.pos
      FROM phrase ph
      JOIN ppost m0 ON m0.term = ph.t0
      $chainJoins
      WHERE m0.doc_id != ph.q_id)
    SELECT q_id, doc_id AS nb_id, count(*) AS n_anchors
    FROM hits GROUP BY q_id, doc_id"""
  }

  // ---------------------------------------------------------------------
  // D91g: the PERSISTED POSITIONAL index (pay-at-ingest phrase serving)
  // ---------------------------------------------------------------------

  /** Positional-index table name — content-fingerprinted like the
    * term-frequency index (tableFor), but a distinct layout version: the
    * two indexes serve different query classes (bag scoring vs proximity)
    * and a deployment typically stores both, exactly as Lucene keeps
    * frequencies and positions as separate posting payloads.
    */
  private def posTableFor(dir: String): String =
    "lex_pos_" + graft.sources.BucketedSink.nameHash(
      s"$dir\n${graft.sources.BucketedSink.contentFingerprint(
        Seq(s"$dir/documents.parquet"))}\nlayout=positional-v1")

  /** Build (once) the persisted positional index for `dir`'s corpus:
    * `<t>` = doc_id-bucketed (doc_id, pos, term) position rows (the
    * Lucene proximity payload as a columnar table), `<t>_df` = pinned
    * per-term presence frequencies (the rarest-k-gram selector's input —
    * pinned at build exactly like the frequency index's df, so appended
    * documents select phrases under the build's statistics).
    */
  def ensureLexPosIndex(spark: SparkSession, dir: String): String = {
    val table = posTableFor(dir)
    graft.sources.BucketedSink.ensureIndex(spark, table, "_df")(
      writeLexPosIndexOf(
        Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"), table))
  }

  /** Build from a frame with `BucketedSink.rebuildIndex`'s overwrite
    * contract.
    */
  def writeLexPosIndexOf(docs0: DataFrame, table: String): Unit = {
    val spark = docs0.sparkSession
    graft.sources.BucketedSink.rebuildIndex(spark, table) {
      graft.sources.BucketedSink.writeBucketed(ppostOf(docs0), table, "doc_id",
        graft.sources.BucketedSink.indexBuckets(spark), sortCols = Seq("doc_id", "pos"))
      spark.table(table).select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .write.format("parquet").saveAsTable(table + "_df")
    }
  }

  /** D91g: exact k-phrase retrieval from the PERSISTED positional index —
    * identical contract and output to D91e on a fresh build (the oracle
    * reuses lexicalPhraseKSql: stored position rows are the recompute's
    * posexplode expressions verbatim, the pq_index_probe convention), but
    * the per-query cost drops to the broadcast phrase join + the anchored
    * chain joins: no corpus tokenize, no posexplode, no vocab aggregation.
    * Position rows read tombstone-aware, so deleted documents stop
    * matching with no added exchange.
    */
  def lexicalPhraseIndexed(spark: SparkSession, dir: String): DataFrame =
    lexPhraseFromStore(spark, ensureLexPosIndex(spark, dir))

  private[graft] def lexPhraseFromStore(spark: SparkSession, table: String): DataFrame =
    phraseKMatch(
      graft.sources.BucketedSink.readServing(spark, table, "doc_id"),
      spark.table(table + "_df"))

  /** D91g's proximity form: the slop matcher over the same stored
    * positional rows + pinned df (oracle reuses lexicalPhraseSlopSql).
    */
  def lexicalPhraseSlopIndexed(spark: SparkSession, dir: String): DataFrame =
    lexPhraseSlopFromStore(spark, ensureLexPosIndex(spark, dir))

  private[graft] def lexPhraseSlopFromStore(spark: SparkSession, table: String): DataFrame =
    phraseSlopMatch(
      graft.sources.BucketedSink.readServing(spark, table, "doc_id"),
      spark.table(table + "_df"))

  /** Recompute twins for the lifecycle specs: match over position rows
    * freshly tokenized from `docs0` but under the STORED df (what a
    * from-scratch posexplode of the current survivor set would return
    * given the pinned selection statistics).
    */
  private[graft] def lexPhraseRecomputed(docs0: DataFrame, table: String): DataFrame =
    phraseKMatch(ppostOf(docs0), docs0.sparkSession.table(table + "_df"))

  /** Incremental ingest for the positional index through
    * `BucketedSink.appendIndex`, df PINNED like appendLexDocs'.
    */
  def appendLexPosDocs(batch: DataFrame, table: String): Unit =
    graft.sources.BucketedSink.appendIndex(
      batch.select(col("doc_id"), col("text")), table, "doc_id")(ppostOf)

  def deleteLexPosDocs(spark: SparkSession, table: String, docIds: DataFrame): Unit =
    graft.sources.BucketedSink.appendTombstones(spark, table,
      docIds.select(col(docIds.columns.head).as("doc_id")))

  def compactLexPos(spark: SparkSession, table: String): Unit =
    graft.sources.BucketedSink.compactTombstones(spark, table, "doc_id")

  /** D92c: hybrid recall QC — the D51/D78/D84 scoreboard pattern applied
    * to fusion: per query, how many of the EXACT cosine top-k (D6 ground
    * truth) survive in (a) the ann-only persisted probe list and (b) the
    * fused hybrid list, in exact basis points. This is the sheet that
    * answers the deployment question fusion raises: RRF admits lexical
    * hits by displacing vector hits from the fixed-k list, so semantic
    * recall can only stay or drop — the report measures what that costs
    * next to what the lexical path adds (which ground-truthing by cosine
    * alone cannot credit). All three lists are k-bounded per query; the
    * whole report is joins over ≤ 3k rows per query.
    */
  def hybridRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val gt = Ann.annBruteforce(spark, dir).select(col("q_id"), col("nb_id"))
    val annL = Ann.annIndexProbe(spark, dir)
      .select(col("q_id"), col("nb_id"), lit(1L).as("a"))
    val hyb = hybridRrfIndexed(spark, dir)
      .select(col("q_id"), col("nb_id"), lit(1L).as("h"))
    gt.join(annL, Seq("q_id", "nb_id"), "left")
      .join(hyb, Seq("q_id", "nb_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("a")), lit(0L)).as("ann_hits"),
        coalesce(sum(col("h")), lit(0L)).as("hyb_hits"))
      .select(col("q_id"), col("n_exact"), col("ann_hits"), col("hyb_hits"),
        expr("(ann_hits * 10000) div n_exact").as("ann_bp"),
        expr("(hyb_hits * 10000) div n_exact").as("hyb_bp"))
  }

  def hybridRecallReportSql: String =
    s"""WITH gt AS (SELECT q_id, nb_id FROM (${Ann.annBruteforceSql})),
    annl AS (SELECT q_id, nb_id, 1 AS a FROM (${Ann.annLshSql})),
    hyb AS (SELECT q_id, nb_id, 1 AS h FROM ($hybridRrfIndexedSql))
    SELECT g.q_id, count(*) AS n_exact,
           CAST(coalesce(sum(a.a), 0) AS BIGINT) AS ann_hits,
           CAST(coalesce(sum(h.h), 0) AS BIGINT) AS hyb_hits,
           CAST((coalesce(sum(a.a), 0) * 10000) // count(*) AS BIGINT) AS ann_bp,
           CAST((coalesce(sum(h.h), 0) * 10000) // count(*) AS BIGINT) AS hyb_bp
    FROM gt g
    LEFT JOIN annl a ON g.q_id = a.q_id AND g.nb_id = a.nb_id
    LEFT JOIN hyb h ON g.q_id = h.q_id AND g.nb_id = h.nb_id
    GROUP BY g.q_id"""

  /** The RRF fold over two (q_id, nb_id, rank, …) k-lists. */
  private def rrfFuse(lexList: DataFrame, annList: DataFrame): DataFrame = {
    val lex = lexList.select(col("q_id"), col("nb_id"), col("rank").as("lrank"))
    val ann = annList.select(col("q_id"), col("nb_id"), col("rank").as("arank"))
    val fused = lex.join(ann, Seq("q_id", "nb_id"), "full_outer")
      .withColumn("rrf_e6",
        coalesce(expr(s"1000000 div ($RrfK + lrank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + arank)"), lit(0L)))
      .withColumn("n_lists",
        (when(col("lrank").isNotNull, 1).otherwise(0) +
          when(col("arank").isNotNull, 1).otherwise(0)).cast("int"))
    topK(fused, Seq(col("q_id")), Seq(col("rrf_e6").desc, col("nb_id").asc), TopK)
      .select(col("q_id"), col("nb_id"), col("rank"), col("rrf_e6"),
        col("n_lists"))
  }

  def hybridRrfSql: String = hybridSqlWith(Ann.annBruteforceSql)

  /** D92b oracle: the same fusion fold, the vector list from D7's
    * deterministic LSH expressions (= what the stored index serves).
    */
  def hybridRrfIndexedSql: String = hybridSqlWith(Ann.annLshSql)

  private def hybridSqlWith(annSql: String): String =
    s"""WITH $lexCtes,
    annr AS (SELECT q_id, nb_id, rank FROM ($annSql)),
    fused AS (
      SELECT coalesce(l.q_id, a.q_id) AS q_id,
             coalesce(l.nb_id, a.nb_id) AS nb_id,
             coalesce(1000000 // ($RrfK + l.rank), 0)
               + coalesce(1000000 // ($RrfK + a.rank), 0) AS rrf_e6,
             (CASE WHEN l.rank IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN a.rank IS NOT NULL THEN 1 ELSE 0 END) AS n_lists
      FROM lexrk l FULL OUTER JOIN annr a
        ON l.q_id = a.q_id AND l.nb_id = a.nb_id)
    SELECT q_id, nb_id, CAST(rank AS INT) AS rank,
           CAST(rrf_e6 AS BIGINT) AS rrf_e6, CAST(n_lists AS INT) AS n_lists
    FROM (
      SELECT q_id, nb_id, rrf_e6, n_lists,
             row_number() OVER (PARTITION BY q_id
               ORDER BY rrf_e6 DESC, nb_id ASC) AS rank
      FROM fused)
    WHERE rank <= $TopK"""
}
