package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed quality-classifier training (SURVEY §2 D75).
  *
  * Every serious pretraining pipeline trains a lightweight linear
  * classifier to score documents (CCNet's fastText LM filter, GPT-3's
  * WebText-vs-CommonCrawl LR, LLaMA's wikipedia-reference classifier —
  * public literature). The engine piece that matters at 100 TB is the
  * TRAINER: full-batch gradient descent where each iteration is one
  * map-side-combinable aggregate over the corpus — (Dim+1) partial sums —
  * and the model stays a broadcast-sized 1-row frame that never leaves
  * the cluster (no driver collect, no parameter server).
  *
  * Engine-exactness (the novel constraint vs a stock LR): logistic
  * sigmoid needs exp(), and libm exp differs in the last ulp between the
  * JVM and DuckDB — a 1-ulp activation difference would cascade through
  * the weight updates and desync the engines. Two substitutions make
  * training bit-identical instead:
  *  - the RATIONAL sigmoid s(z) = 0.5 + z / (2·(1+|z|)): same shape,
  *    range (0,1), s(0)=0.5 — but built from add/sub/mul/div/abs only,
  *    all IEEE-754 correctly-rounded, so both engines compute the exact
  *    same doubles;
  *  - per-row gradient terms cast to DECIMAL(28,10) BEFORE the sum
  *    (deterministic rounding), so the gradient aggregate is exact and
  *    order-independent — no summation-order drift across partitionings
  *    or engines (the ivfCentroids discipline applied to training).
  * The z = w·x fold is the ANN family's left-to-right double dot product.
  *
  * Train/eval hygiene: vec_id % 5 == 0 is the holdout (never touches a
  * gradient); the reported confusion matrix is holdout-only, in exact
  * integers (counts + basis points), so the oracle hash-checks training
  * end-to-end — T full GD iterations replayed identically in DuckDB.
  * Iteration count is live config (`graft.logreg.iters`, default 3).
  *
  * The testdata labels are near-noise for a linear model (~0.55 holdout
  * accuracy) — the catalog row checks the TRAINER, not the corpus;
  * ClassifySpec proves learning on a separable synthetic corpus (the
  * embed_knn_classify pattern).
  */
object Classify {

  val Dim: Int = Ann.Dim
  private val NFeat = Dim + 1 // intercept at position 0

  /** GD iterations (full-batch, lr = 1). Config-capped at 10: each
    * iteration is one corpus pass; the oracle unrolls the same count.
    */
  def Iters: Int = {
    val t = graft.GraftConfig.int("graft.logreg.iters", 3)
    require(t >= 1 && t <= 10, s"graft.logreg.iters must be in [1,10], got $t")
    t
  }

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.spreadIfNarrow(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), col("label")),
      "vec_id")

  /** Binary target: label < 5 (the "high-quality half" stand-in; a real
    * deployment feeds its own label column). Features = [1.0, embedding]
    * as doubles.
    */
  private[graft] def featurized(v: DataFrame): DataFrame =
    v.select(col("vec_id"),
      when(col("label") < 5, 1.0).otherwise(0.0).as("y"),
      array(lit(1.0).cast("double") +:
        (0 until Dim).map(i => element_at(col("embedding"), i + 1).cast("double")): _*)
        .as("x"))

  /** z = w · x, left-to-right over the nFeat terms (w arrives as a 1-row
    * broadcast array column) — the dotSql fold order. r13: the native
    * codegen'd kernel (VectorOps.dot over double arrays) replaces the explicit
    * element_at chain — at nFeat = 129 that chain was a ~900-node
    * expression tree and the driver re-paid 1-2 s of plan optimization
    * per GD step; the kernel is one node with the identical fold order,
    * so every logreg oracle stays bit-for-bit. Both arrays are built with
    * exactly nFeat elements (featurized/featurizedText/trainedWeights),
    * which the kernel's length check enforces at runtime instead of the
    * chain silently reading nulls. (r14, the r13 ADVICE item: the kernel
    * dots over the arrays' ACTUAL length, so the old nFeat parameter was
    * silently ignored — dropped rather than left to invite drift; the
    * exact-length invariant lives in the builders above.)
    */
  private def zOf(w: Column, x: Column): Column =
    graft.functions.VectorOps.dot(w, x)

  /** Rational sigmoid — correctly-rounded IEEE ops only (see scaladoc). */
  private def sig(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  /** One GD step: w' = w − mean over train of (s(w·x) − y)·x. The corpus
    * pass emits per-row decimal terms; the exchange carries nFeat
    * partially-aggregated (sum, count) pairs; the 1-row w' frame is
    * rebuilt with the ivfCentroids collect_list(sort) idiom.
    */
  private def step(train: DataFrame, wf: DataFrame, nFeat: Int): DataFrame =
    graft.Checkpoints.cp(
      train.crossJoin(broadcast(wf))
        .withColumn("f", sig(zOf(col("w"), col("x"))) - col("y"))
        .select(col("f"), posexplode(col("x")).as(Seq("pos", "xj")))
        .select(col("pos"), (col("f") * col("xj")).cast("decimal(28,10)").as("t"))
        .groupBy(col("pos"))
        .agg(sum(col("t")).as("s"), count(lit(1)).as("n"))
        .crossJoin(broadcast(wf))
        .select(col("pos"),
          (element_at(col("w"), col("pos") + 1) -
            col("s").cast("double") / col("n")).as("wj"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("wj")))),
          p => p.getField("wj")).as("w")))

  /** D75: train T full-batch GD iterations on the 80% train slice, then
    * report the HOLDOUT confusion matrix in exact integers: per (y_true,
    * pred): count and basis points of the holdout. pred = (z ≥ 0) — the
    * sigmoid threshold without the sigmoid.
    */
  def embedLogreg(spark: SparkSession, dir: String): DataFrame =
    embedLogregOf(featurized(vecs(spark, dir)))

  /** The trained 1-row weight frame: T GD iterations on the 80% train
    * slice (vec_id % 5 != 0) of the LABELED rows (y IS NOT NULL — the
    * weak-label text path leaves the middle tiers unlabeled; the embedding
    * path labels every row, so the filter is a no-op there) — shared by
    * the D75 confusion report and the D82/D87 corpus-scoring passes.
    * `f` must already be barriered.
    */
  private[graft] def trainedWeights(f: DataFrame, nFeat: Int = NFeat): DataFrame = {
    val train = f.filter(col("y").isNotNull && col("vec_id") % 5 =!= 0)
    val w0 = f.sparkSession.range(1)
      .select(array((0 until nFeat).map(_ => lit(0.0).cast("double")): _*).as("w"))
    (1 to Iters).foldLeft(w0)((wf, _) => step(train, wf, nFeat))
  }

  private[graft] def embedLogregOf(feats: DataFrame): DataFrame = {
    val f = graft.Checkpoints.cp(feats)
    val wT = trainedWeights(f)
    val holdout = f.filter(col("vec_id") % 5 === 0)
    // barrier: consumed by both the total aggregate and the output join —
    // without it the holdout scoring pass executes twice
    val confusion = graft.Checkpoints.cp(
      holdout.crossJoin(broadcast(wT))
        .withColumn("pred", when(zOf(col("w"), col("x")) >= 0, 1).otherwise(0))
        .groupBy(col("y").cast("int").as("y_true"), col("pred"))
        .agg(count(lit(1)).as("n")))
    val total = confusion.agg(sum(col("n")).as("n_holdout"))
    confusion.crossJoin(broadcast(total))
      .select(col("y_true"), col("pred"), col("n"),
        expr("n * 10000 div n_holdout").as("share_bp"))
  }

  /** D82: classifier-as-filter — the trained scorer baked over the WHOLE
    * corpus (train + holdout alike: a deployment scores everything), the
    * CCNet/WebText loop closed: D75 trains the model, this pass emits the
    * per-document score the pipeline gates on. Map-only: the 1-row weight
    * frame broadcasts into one corpus scan (the D32 bake pattern) — z is
    * the left-to-right double dot product, identical in both engines, so
    * the scores hash-check; pred is the sigmoid threshold without the
    * sigmoid (z ≥ 0). doc_id = vec_id: the embeddings table is the
    * corpus's embedding column (the dedup_semantic convention).
    */
  def qualityLogreg(spark: SparkSession, dir: String): DataFrame =
    qualityLogregOf(featurized(vecs(spark, dir)))

  private[graft] def qualityLogregOf(feats: DataFrame): DataFrame = {
    val f = graft.Checkpoints.cp(feats)
    f.crossJoin(broadcast(trainedWeights(f)))
      .withColumn("z", zOf(col("w"), col("x")))
      .select(col("vec_id").as("doc_id"), round(col("z"), 6).as("z_score"),
        when(col("z") >= 0, 1).otherwise(0).as("pred"))
  }

  /** D82b: trained-vs-heuristic agreement — the D58 calibration gate with
    * the TRAINED filter in the LM slot: per (D28 quality tier × D82
    * prediction): doc count and exact basis points of the tier. A diagonal
    * (high tiers mostly pred=1) means the cheap heuristic and the trained
    * model gate alike; a flat or inverted sheet says one of them is
    * filtering noise — caught before a bad gate drops petabytes. One
    * doc_id join of two per-doc passes; the output aggregate is bounded by
    * tiers × 2.
    */
  def qualityLogregAgreement(spark: SparkSession, dir: String): DataFrame = {
    val preds = qualityLogreg(spark, dir).select(col("doc_id"), col("pred"))
    val tiers = Corpus.qualityTiers(spark, dir).select(col("doc_id"), col("tier"))
    // barrier: cells feeds both the per-tier totals and the output join
    val cells = graft.Checkpoints.cp(
      preds.join(tiers, Seq("doc_id"))
        .groupBy(col("tier"), col("pred"))
        .agg(count(lit(1)).as("n")))
    val totals = cells.groupBy(col("tier")).agg(sum(col("n")).as("tn"))
    cells.join(broadcast(totals), Seq("tier"))
      .select(col("tier"), col("pred"), col("n"),
        expr("n * 10000 div tn").as("share_bp"))
  }

  private def zSql = zSqlN(NFeat)
  private def zSqlN(n: Int) =
    s"list_sum(list_transform(range(1, ${n + 1}), i -> w[i] * x[i]))"

  /** Shared oracle CTE prefix (x features → train slice → w0 → T unrolled
    * gradient steps ending in w$Iters) — the trainer verbatim, parametric
    * over the feature CTE (embedding features for D75/D82, hashed word
    * buckets for D87) and its width. The train slice mirrors
    * trainedWeights: labeled rows only, vec_id % 5 != 0.
    */
  private def trainCtesFor(xCte: String, nFeat: Int): String = {
    val z = zSqlN(nFeat)
    val steps = (1 to Iters).map { k =>
      s"""g$k AS (
      SELECT p.pos AS pos,
             sum(CAST((0.5 + z / (2 * (1 + abs(z))) - y) * x[p.pos + 1]
                 AS DECIMAL(28,10))) AS s,
             count(*) AS n
      FROM (SELECT y, x, $z AS z FROM tr, w${k - 1}),
           range(0, $nFeat) p(pos)
      GROUP BY 1),
    w$k AS (
      SELECT list(CAST(w[pos + 1] - CAST(s AS DOUBLE) / n AS DOUBLE)
                  ORDER BY pos) AS w
      FROM g$k, w${k - 1})"""
    }.mkString(",\n    ")
    s"""$xCte,
    tr AS (SELECT y, x FROM x WHERE vec_id % 5 != 0 AND y IS NOT NULL),
    w0 AS (SELECT list_transform(range(0, $nFeat), i -> CAST(0.0 AS DOUBLE)) AS w),
    $steps"""
  }

  private def trainCtes: String = trainCtesFor(
    s"""x AS MATERIALIZED (
      SELECT vec_id,
             CASE WHEN label < 5 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y,
             list_prepend(CAST(1.0 AS DOUBLE),
               list_transform(embedding, e -> CAST(e AS DOUBLE))) AS x
      FROM embeddings)""", NFeat)

  /** Oracle: the identical T-iteration training unrolled as CTEs — w0 is
    * the zero vector, each wk is one gradient step over the same decimal
    * terms, confusion over the same holdout.
    */
  def embedLogregSql: String =
    s"""WITH $trainCtes,
    conf AS (
      SELECT CAST(y AS INT) AS y_true,
             CASE WHEN $zSql >= 0 THEN 1 ELSE 0 END AS pred,
             CAST(count(*) AS BIGINT) AS n
      FROM x, w$Iters WHERE vec_id % 5 = 0 GROUP BY 1, 2)
    SELECT y_true, pred, n,
           n * 10000 // CAST((SELECT sum(n) FROM conf) AS BIGINT) AS share_bp
    FROM conf"""

  def qualityLogregSql: String =
    s"""WITH $trainCtes
    SELECT vec_id AS doc_id, round(z, 6) AS z_score,
           CASE WHEN z >= 0 THEN 1 ELSE 0 END AS pred
    FROM (SELECT vec_id, $zSql AS z FROM x, w$Iters)"""

  /** Feature width of the D87 text path: intercept + one slot per DSIR
    * hash bucket.
    */
  private def NFeatText: Int = Sampling.DsirBuckets + 1

  /** D87 featurizer: hashed word-bucket frequencies over the documents
    * table (D40's DSIR featurizer re-used as classifier input — the same
    * md5-bucket hash, Sampling.dsirBucket, so the two operators can never
    * disagree on a feature), with WEAK labels from the D28 heuristic-tier
    * extremes: top tier → 1.0, bottom tier → 0.0, middle → NULL
    * (unlabeled — scored by the trained model but never in a gradient or
    * the holdout; the CCNet/WebText discipline of training the learned
    * filter on confidently-labeled extremes and letting it arbitrate the
    * ambiguous middle). x = [1.0, cnt_b/n_tokens …] — normalized exact
    * integer ratios, so the features are bit-identical in both engines;
    * an empty doc carries all-zero features.
    *
    * Scale shape: one token explode partial-aggregated to (doc, bucket)
    * counts (the exchange carries ≤ docs × min(distinct-buckets, B)
    * rows), densified map-side from a per-doc bucket map; the tier join
    * is D28's broadcast value→tier map. No corpus-sized collect — the
    * model stays the trainer's 1-row broadcast frame.
    */
  private[graft] def featurizedText(docs: DataFrame): DataFrame = {
    val b = Sampling.DsirBuckets
    // the D40 barrier rule: the bucket lambda must see a bound token
    // array, not the inlined tokenizer. Fence, not cp (r14): the token
    // frame's single consumer is the explode below — the doc-id spine the
    // output join needs comes straight off `docs` instead
    val toked = graft.plans.Fence(docs
      .select(col("doc_id"), TextOps.toks(col("text")).as("toks")))
    val cnts = toked
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .select(col("doc_id"), Sampling.dsirBucket(col("tok")).cast("int").as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("cnt")))).as("bm"),
        sum(col("cnt")).as("n"))
    val tiers = Corpus.qualityTiersOf(docs).select(col("doc_id"), col("tier"))
    docs.select(col("doc_id")).join(cnts, Seq("doc_id"), "left")
      .join(tiers, Seq("doc_id"))
      .select(col("doc_id").as("vec_id"),
        when(col("tier") === Corpus.QualityTiers, lit(1.0).cast("double"))
          .when(col("tier") === 1, lit(0.0).cast("double")).as("y"),
        array(lit(1.0).cast("double") +: (0 until b).map { j =>
          when(col("n").isNotNull && col("n") > 0,
            coalesce(element_at(col("bm"), lit(j)), lit(0L)).cast("double") /
              col("n"))
            .otherwise(lit(0.0).cast("double"))
        }: _*).as("x"))
  }

  /** D87: the CCNet loop closed on ACTUAL TEXT — D82's classifier-as-filter
    * with hashed word-bucket features instead of the embedding stand-in:
    * the engine-exact trainer (same rational sigmoid, same decimal
    * gradient sums) fits the heuristic-tier extremes, then scores EVERY
    * document (labeled or not) map-only through the broadcast weight
    * frame. Output: per doc, the z-score and the gate bit.
    */
  def qualityLogregText(spark: SparkSession, dir: String): DataFrame =
    qualityLogregTextOf(
      graft.Tables.spreadIfNarrow(graft.Tables.documents(spark, dir), "doc_id"))

  private[graft] def qualityLogregTextOf(docs: DataFrame): DataFrame = {
    val f = graft.Checkpoints.cp(featurizedText(docs))
    f.crossJoin(broadcast(trainedWeights(f, NFeatText)))
      .withColumn("z", zOf(col("w"), col("x")))
      .select(col("vec_id").as("doc_id"), round(col("z"), 6).as("z_score"),
        when(col("z") >= 0, 1).otherwise(0).as("pred"))
  }

  /** D87b: the D82b agreement sheet with the TEXT-trained filter in the
    * model slot — per (D28 tier × D87 prediction): doc count and exact
    * basis points of the tier. The extremes should sit near-diagonal (the
    * model was fit to them — large off-diagonal mass there means the
    * bucket features cannot express the heuristic); the MIDDLE tiers' rows
    * are the payload: how the learned filter arbitrates the docs the
    * heuristic was unsure about, read before gating petabytes on it.
    */
  def qualityLogregTextAgreement(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.spreadIfNarrow(
      graft.Tables.documents(spark, dir), "doc_id")
    val preds = qualityLogregTextOf(docs).select(col("doc_id"), col("pred"))
    val tiers = Corpus.qualityTiersOf(docs).select(col("doc_id"), col("tier"))
    // barrier: cells feeds both the per-tier totals and the output join
    val cells = graft.Checkpoints.cp(
      preds.join(tiers, Seq("doc_id"))
        .groupBy(col("tier"), col("pred"))
        .agg(count(lit(1)).as("n")))
    val totals = cells.groupBy(col("tier")).agg(sum(col("n")).as("tn"))
    cells.join(broadcast(totals), Seq("tier"))
      .select(col("tier"), col("pred"), col("n"),
        expr("n * 10000 div tn").as("share_bp"))
  }

  /** D87 oracle feature CTE: the same bucket hash, dense normalized
    * frequency vector, and tier-extreme weak labels — ending in
    * x(vec_id, y, x) for the shared trainer CTEs.
    */
  private def textXCte: String = {
    val b = Sampling.DsirBuckets
    s"""toked AS MATERIALIZED (
      SELECT doc_id, ${TextOps.toksSql} AS toks FROM documents),
    tb AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % $b AS INT) AS b
      FROM (SELECT doc_id, unnest(toks) AS tok FROM toked)),
    bc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt FROM tb GROUP BY 1, 2),
    bn AS (SELECT doc_id, sum(cnt) AS n FROM bc GROUP BY 1),
    dense AS (
      SELECT doc_id,
             list_prepend(CAST(1.0 AS DOUBLE), list(v ORDER BY b)) AS x
      FROM (
        SELECT d.doc_id, g.b,
               CASE WHEN coalesce(n.n, 0) > 0
                 THEN CAST(coalesce(c.cnt, 0) AS DOUBLE) / n.n
                 ELSE CAST(0.0 AS DOUBLE) END AS v
        FROM toked d
        CROSS JOIN range(0, $b) g(b)
        LEFT JOIN bc c ON c.doc_id = d.doc_id AND c.b = g.b
        LEFT JOIN bn n ON n.doc_id = d.doc_id)
      GROUP BY doc_id),
    tq AS (${Corpus.qualityTiersSql}),
    x AS MATERIALIZED (
      SELECT d.doc_id AS vec_id,
             CASE WHEN t.tier = ${Corpus.QualityTiers} THEN CAST(1.0 AS DOUBLE)
                  WHEN t.tier = 1 THEN CAST(0.0 AS DOUBLE) END AS y,
             d.x
      FROM dense d JOIN tq t USING (doc_id))"""
  }

  def qualityLogregTextSql: String =
    s"""WITH ${trainCtesFor(textXCte, NFeatText)}
    SELECT vec_id AS doc_id, round(z, 6) AS z_score,
           CASE WHEN z >= 0 THEN 1 ELSE 0 END AS pred
    FROM (SELECT vec_id, ${zSqlN(NFeatText)} AS z FROM x, w$Iters)"""

  def qualityLogregTextAgreementSql: String =
    s"""WITH ${trainCtesFor(textXCte, NFeatText)},
    preds AS (
      SELECT vec_id AS doc_id,
             CASE WHEN ${zSqlN(NFeatText)} >= 0 THEN 1 ELSE 0 END AS pred
      FROM x, w$Iters),
    cells AS (
      SELECT t.tier, p.pred, CAST(count(*) AS BIGINT) AS n
      FROM preds p JOIN tq t USING (doc_id) GROUP BY 1, 2),
    tot AS (SELECT tier, sum(n) AS tn FROM cells GROUP BY 1)
    SELECT c.tier, c.pred, c.n,
           CAST(c.n * 10000 // t.tn AS BIGINT) AS share_bp
    FROM cells c JOIN tot t USING (tier)"""

  def qualityLogregAgreementSql: String =
    s"""WITH $trainCtes,
    preds AS (
      SELECT vec_id AS doc_id,
             CASE WHEN $zSql >= 0 THEN 1 ELSE 0 END AS pred
      FROM x, w$Iters),
    tq AS (${Corpus.qualityTiersSql}),
    cells AS (
      SELECT t.tier, p.pred, CAST(count(*) AS BIGINT) AS n
      FROM preds p JOIN tq t USING (doc_id) GROUP BY 1, 2),
    tot AS (SELECT tier, sum(n) AS tn FROM cells GROUP BY 1)
    SELECT c.tier, c.pred, c.n,
           CAST(c.n * 10000 // t.tn AS BIGINT) AS share_bp
    FROM cells c JOIN tot t USING (tier)"""
}
