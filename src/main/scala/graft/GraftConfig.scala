package graft

/** Engine-level scale knobs (r8, VERDICT items 2/7): JVM-wide system
  * properties read at PLAN-CONSTRUCTION time by BOTH the Spark expression
  * builders and the DuckDB oracle-SQL generators — one source of truth, so
  * the two engines cannot disagree on a width (the oracle generator runs
  * without a SparkSession, which rules out spark.conf as the carrier; and
  * several knobs define PERSISTED layouts — the ANN index's hyperplane
  * bucket scheme — that must not drift per-session within one JVM; the
  * index table name folds the width in, so a width change builds a fresh
  * index instead of silently mis-probing a stale one).
  *
  * Knobs (defaults = the sf-test-scale values; each scaladoc'd at its
  * consumer):
  *  - graft.simhash.blocks      (llm.Dedup.simhashBlocks,    default 8)
  *  - graft.ann.embBands        (llm.Ann.EmbBands,           default 4)
  *  - graft.ann.embPlanesPerBand(llm.Ann.EmbPlanesPerBand,   default 4)
  *  - graft.ann.numPlanes       (llm.Ann.NumPlanes,          default 8)
  *  - graft.ann.numCells        (llm.Ann.NumCells,           default 16)
  *  - graft.ann.nprobe          (llm.Ann.NProbe,             default 2)
  *  - graft.pq.subspaces        (llm.Pq.NumSubspaces,        default 8)
  *  - graft.pq.codebook         (llm.Pq.CodebookSize,        default 16)
  *  - graft.pq.shortlist        (llm.Pq.ShortlistR,          default 50)
  *  - graft.pq.salts            (llm.Pq.ShortlistSalts,      default 8)
  *  - graft.pq.radiusE6         (llm.Pq.RadiusE6,            default 1200000)
  *  - graft.logreg.iters        (llm.Classify.Iters,         default 3)
  *  - graft.pca.iters           (llm.Pq.PcaIters,            default 8)
  *  - graft.pca.components      (llm.Pq.PcaComponents,       default 4)
  *  - graft.lex.qterms          (llm.Lexical.QueryTerms,     default 8)
  *  - graft.lex.topk            (llm.Lexical.TopK,           default 5)
  *  - graft.lex.salts           (llm.Lexical.Salts,          default 4)
  *  - graft.lex.maxDfBp         (llm.Lexical.MaxDfBp,        default 500)
  *  - graft.lex.radiusE4        (llm.Lexical.RadiusE4,       default 100000)
  *  - graft.doremi.etaE2        (llm.Sampling.DoremiEtaE2,   default 100)
  *  - graft.doremi.iters        (llm.Sampling.DoremiIters,   default 1)
  *  - graft.bpe.topMerges       (llm.TextOps.BpeTopMerges,   default 20)
  *  - graft.inc.batchMod        (llm.Dedup.IncrementalBatchMod, default 5)
  *  - graft.lex.phraseK         (llm.Lexical.PhraseK,        default 3)
  *  - graft.lex.slop            (llm.Lexical.PhraseSlop,     default 2)
  *  - graft.ann.graphK          (llm.Ann.GraphK,             default 5)
  *  - graft.mm.maxPixels        (llm.Multimodal.MaxDecodePixels, default 16777216)
  *  - graft.bpe.hierMerges      (llm.BpeHier.HierMerges,     default 5000)
  *  - graft.bpe.trainDocs       (llm.BpeHier.TrainDocs,      default 192)
  */
object GraftConfig {
  def int(key: String, default: Int): Int =
    sys.props.get(key).map(_.trim.toInt).getOrElse(default)

  /** Boolean knob, same carrier discipline as `int`. Currently:
    *  - graft.covar.wide (llm.Pq.CovarWide, default false) — route the
    *    e10-quantized covariance sums through DECIMAL(38,0)/HUGEINT
    *    instead of the primitive long (the documented remedy when the
    *    runtime exactness guard trips past ~9e8 rows).
    */
  def bool(key: String, default: Boolean): Boolean =
    sys.props.get(key).map(_.trim.toBoolean).getOrElse(default)

  /** Run `body` with `key` temporarily set — spec harness for the
    * two-width invariance tests; not a production path (widths are
    * process-lifetime constants there, see object scaladoc).
    */
  def withInt[A](key: String, value: Int)(body: => A): A =
    withProp(key, value.toString)(body)

  def withBool[A](key: String, value: Boolean)(body: => A): A =
    withProp(key, value.toString)(body)

  private def withProp[A](key: String, value: String)(body: => A): A = {
    val old = sys.props.get(key)
    sys.props(key) = value
    try body
    finally old match {
      case Some(v) => sys.props(key) = v
      case None    => sys.props -= key
    }
  }
}
