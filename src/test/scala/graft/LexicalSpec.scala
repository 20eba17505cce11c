package graft

import org.apache.spark.sql.functions._
import graft.GraftConfig.withInt
import graft.llm.{Ann, Lexical}
import graft.sources.BucketedSink

/** D91/D92: lexical (keyword) retrieval + reciprocal-rank fusion. */
class LexicalSpec extends SparkSpecBase {

  import spark.implicits._

  /** Constructed corpus: doc 0 is the query; "zebra" is rare (docs 0, 20
    * only), "common" appears everywhere, doc 30 carries only common terms.
    */
  private def corpus = {
    val filler = (1 to 19).map(i => (i.toLong, s"common words filler$i here"))
    val rows = Seq(
      (0L, "zebra common words"),
      (20L, "zebra appears here too common"),
      (30L, "common words here")) ++ filler
    rows.toDF("doc_id", "text")
  }

  test("rare-term match dominates: the only other zebra doc ranks first") {
    val out = Lexical.lexicalTopkOf(corpus)
      .filter(col("q_id") === 0).orderBy(col("rank")).collect()
    assert(out.nonEmpty, "query 0 retrieved nothing")
    assert(out.head.getLong(1) === 20L,
      s"doc 20 (the rare-term match) should rank #1, got ${out.head.getLong(1)}")
    // self-retrieval is excluded and the k contract holds
    assert(!out.exists(_.getLong(1) == 0L), "query retrieved itself")
    assert(out.length <= Lexical.TopK)
    assert(out.map(_.getInt(2)).toSeq === (1 to out.length))
  }

  test("lexical score rounds like the DuckDB oracle at a half-way tie") {
    // query doc 0 and candidate 11 share the query's only term; under
    // n=21, df=18, tf=2, len=2, total=42 the exact score is s_e10 =
    // 2600125000, i.e. 0.2600125: the oracle's round(x, 6) gives 0.260012
    // (x·10^6 is 260012.4999… as a double), Spark's round(x, 6) 0.260013
    val tbl = "lex_round_tie"
    Seq((0L, "t", 2, 2L), (11L, "t", 2, 2L)).toDF("doc_id", "term", "len", "tf")
      .createOrReplaceTempView(tbl)
    Seq(("t", 18L)).toDF("term", "df").createOrReplaceTempView(tbl + "_df")
    Seq((21L, 42L)).toDF("n", "total").createOrReplaceTempView(tbl + "_stats")
    try {
      val out = Lexical.lexProbeFromStore(spark, tbl).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      assert(out.toSeq === Seq((0L, 11L, 1, 0.260012)))
    } finally Seq(tbl, tbl + "_df", tbl + "_stats").foreach(spark.catalog.dropTempView)
  }

  test("scores are monotone in the exact integer ordering (desc, id asc)") {
    val out = Lexical.lexicalTopkOf(corpus)
      .filter(col("q_id") === 0).orderBy(col("rank")).collect()
    val scores = out.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      s"rank order disagrees with score order: ${scores.mkString(",")}")
  }

  test("salt width never changes the retrieved set (two-phase exactness)") {
    val narrow = withInt("graft.lex.salts", 1) {
      Lexical.lexicalTopkOf(corpus).collect().map(_.toSeq.mkString("|")).toSet
    }
    val wide = withInt("graft.lex.salts", 7) {
      Lexical.lexicalTopkOf(corpus).collect().map(_.toSeq.mkString("|")).toSet
    }
    assert(narrow === wide && narrow.nonEmpty,
      "salted two-phase top-k output depends on the salt width")
  }

  test("query-term budget keeps the rarest terms: hot-only docs drop out") {
    // with a 1-term budget the query is just "zebra" (rarest); doc 30
    // shares only hot terms with the query and must not be a candidate
    val only = withInt("graft.lex.qterms", 1) {
      Lexical.lexicalTopkOf(corpus).filter(col("q_id") === 0).collect()
    }
    assert(only.map(_.getLong(1)).toSet === Set(20L),
      "1-term rare-first query should match exactly the other zebra doc")
  }

  test("RRF fusion equals the hand-computed fold of the two k-lists") {
    val lex = Lexical.lexicalTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val ann = Ann.annBruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val want = (lex.keySet ++ ann.keySet).toSeq
      .map { k =>
        val s = lex.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L) +
          ann.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L)
        val n = lex.contains(k).compare(false) + ann.contains(k).compare(false)
        (k._1, k._2, s, n)
      }
      .groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(Lexical.TopK).zipWithIndex
          .map { case ((q, nb, s, n), i) => (q, nb, i + 1, s, n) }
      }.toSet
    val got = Lexical.hybridRrf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getInt(4))).toSet
    assert(got === want && got.nonEmpty,
      "hybrid RRF diverged from the hand-computed fusion")
  }

  test("consensus beats single-list: n_lists=2 pairs outrank n_lists=1 at equal contributions") {
    // structural property of 1e6 div (60+r): any doc on BOTH lists at
    // ranks (r1, r2) scores strictly above a doc on one list at
    // min(r1, r2) — fusion rewards agreement
    val got = Lexical.hybridRrf(spark, sfDir).collect()
    val byQ = got.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(2))
      sorted.zip(sorted.tail).foreach { case (hi, lo) =>
        assert(hi.getLong(3) >= lo.getLong(3), "rank order broke on rrf_e6")
      }
    }
    assert(got.forall(r => r.getInt(4) == 1 || r.getInt(4) == 2))
  }

  test("indexed RRF fusion equals the hand-computed fold of the two persisted probes") {
    val lex = Lexical.lexicalIndexProbe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val ann = Ann.annIndexProbe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val want = (lex.keySet ++ ann.keySet).toSeq
      .map { k =>
        val s = lex.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L) +
          ann.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L)
        val n = lex.contains(k).compare(false) + ann.contains(k).compare(false)
        (k._1, k._2, s, n)
      }
      .groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(Lexical.TopK).zipWithIndex
          .map { case ((q, nb, s, n), i) => (q, nb, i + 1, s, n) }
      }.toSet
    val got = Lexical.hybridRrfIndexed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getInt(4))).toSet
    assert(got === want && got.nonEmpty,
      "indexed hybrid RRF diverged from the hand-computed fusion")
  }

  test("phrase retrieval: adjacency is required and occurrences count exactly") {
    // doc 0's rarest bigram is "zebra stripes" (both terms df=4, every
    // other adjacent pair touches the hot filler vocabulary); doc 40
    // contains it twice ADJACENT, doc 41 has both terms but separated,
    // doc 42 has it once
    val rows = Seq(
      (0L, "zebra stripes common words"),
      (40L, "zebra stripes here and zebra stripes again"),
      (41L, "zebra common stripes apart"),
      (42L, "one zebra stripes occurrence")) ++
      (1 to 19).map(i => (i.toLong, s"common words filler$i"))
    val out = graft.llm.Lexical.lexicalPhraseOf(rows.toDF("doc_id", "text"))
      .filter(col("q_id") === 0).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(40L -> 2L, 42L -> 1L),
      s"phrase semantics broke: $out (41 has the terms non-adjacent and " +
        "must be absent; 40 must count 2 occurrences)")
  }

  /** D91e/D91f corpus: doc 0's rarest 3-gram is "zebra stripes gallop"
    * (each term df=5; every other adjacent triple touches hot filler
    * vocabulary). 40 holds it twice exactly, 41 holds it only at slop
    * (one intruder token), 42 reverses the order, 43 holds it once.
    */
  private def phraseCorpus = {
    val rows = Seq(
      (0L, "zebra stripes gallop common words"),
      (40L, "zebra stripes gallop again zebra stripes gallop"),
      (41L, "zebra stripes common gallop"),
      (42L, "gallop stripes zebra"),
      (43L, "one zebra stripes gallop occurrence")) ++
      (1 to 19).map(i => (i.toLong, s"common words filler$i"))
    rows.toDF("doc_id", "text")
  }

  test("k-phrase: full k-token adjacency in order, exact occurrence counts") {
    val out = Lexical.lexicalPhraseKOf(phraseCorpus)
      .filter(col("q_id") === 0).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(40L -> 2L, 43L -> 1L),
      s"k-phrase semantics broke: $out (41 is adjacent only at slop, " +
        "42 is out of order — both must be absent)")
  }

  test("slop phrase: ordered window admits the intruder, rejects reversal") {
    val out = Lexical.lexicalPhraseSlopOf(phraseCorpus)
      .filter(col("q_id") === 0).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    // slop=2 (default): 41's z _ s _ _ g span (3 ≤ k-1+slop = 4) now hits;
    // 42 stays out (order is required); anchors count distinct start
    // positions, so 40 reports 2
    assert(out === Map(40L -> 2L, 41L -> 1L, 43L -> 1L),
      s"slop semantics broke: $out")
  }

  test("slop=0 degenerates to the exact k-phrase (anchors == occurrences)") {
    val exact = Lexical.lexicalPhraseKOf(phraseCorpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val slop0 = withInt("graft.lex.slop", 0) {
      Lexical.lexicalPhraseSlopOf(phraseCorpus).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(slop0 === exact && exact.nonEmpty,
      "slop=0 must equal the exact adjacency form")
  }

  test("phraseK=2 reproduces the bigram phrase operator row-for-row") {
    val bigram = Lexical.lexicalPhraseOf(phraseCorpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val k2 = withInt("graft.lex.phraseK", 2) {
      Lexical.lexicalPhraseKOf(phraseCorpus).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(k2 === bigram && k2.nonEmpty,
      "k=2 must coincide with the dedicated bigram phrase form")
  }

  /** Radius corpus: 60 docs so the df ≤ N·maxDfBp/10⁴ rare gate admits
    * df=2 (N/20 = 3); "uniqz" is shared by query doc 0 and doc 20 only,
    * and its single-term contribution clears the default radius
    * (idf_e4 ≈ 23.4e4 × tfsat_e6 ≈ 1e6 ≥ 10¹¹).
    */
  private def radiusCorpus = {
    val rows = Seq(
      (0L, "uniqz common words here"),
      (20L, "uniqz appears again too"),
      (30L, "common words here again")) ++
      (1 to 19).map(i => (i.toLong, s"common words filler$i here")) ++
      (31 to 59).map(i => (i.toLong, s"common words other filler$i"))
    rows.toDF("doc_id", "text")
  }

  test("radius emits on a constructed corpus: rare shared term clears it, hot terms never do") {
    val tbl = "lex_idx_radius_emit"
    dropIdx(tbl)
    Lexical.writeLexIndexOf(radiusCorpus, tbl)
    val out = Lexical.lexRadiusFromStore(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((0L, 20L)),
      s"the rare-term pair (0,20) must clear the radius, got $out")
    // doc 30 shares only hot vocabulary with the queries: the df gate
    // keeps hot terms out of every radius query, so it can never emit
    assert(!out.exists(_._2 == 30L),
      s"hot-vocabulary doc 30 leaked through the rare-term gate: $out")
    dropIdx(tbl)
  }

  test("guarded radius key is never green-on-empty when a qualifying pair exists (r12)") {
    // the catalog key (first-10 queries + the guard query) must emit at
    // EVERY testdata scale — sf0.1 is where the unguarded form was empty
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val out = Lexical.lexicalRadius(spark, d)
      assert(out.count() > 0, s"guarded radius empty at $d")
      // guard rows are honest radius pairs: q != nb, distinct
      assert(out.filter(col("q_id") === col("nb_id")).count() == 0)
    }
    // the guard is a SUPERSET of the first-10 form over the same index
    val tbl = Lexical.ensureLexIndex(spark, sfDir)
    val base = rows(Lexical.lexRadiusFromStore(spark, tbl))
    val guarded = rows(Lexical.lexicalRadius(spark, sfDir))
    assert(base.subsetOf(guarded))
  }

  test("rank agreement vs textbook log BM25: overlap@k and pair agreement floors") {
    // the documented RSJ-ratio-for-log substitution, quantified (VERDICT
    // r10 watch item 1): same candidates, same tf saturation, only the
    // idf transform differs. Doubles are fine here — spec-side gauge,
    // never an oracle surface.
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val rsj = Lexical.scoredCandidatesOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> BigDecimal(r.getDecimal(2))).toMap
    val log = Lexical.scoredCandidatesLogOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rsj.keySet === log.keySet,
      "the two scorers must rank the SAME candidate set")
    val byQ = rsj.keySet.groupBy(_._1)
    val k = Lexical.TopK
    var overlapNum = 0; var overlapDen = 0
    var agreePairs = 0L; var allPairs = 0L
    byQ.foreach { case (q, keys) =>
      val cands = keys.toSeq.map(_._2)
      val topR = cands.sortBy(d => (-rsj((q, d)), d)).take(k)
      val topL = cands.sortBy(d => (-log((q, d)), d)).take(k)
      overlapNum += topR.toSet.intersect(topL.toSet).size
      overlapDen += math.min(k, cands.size)
      for (Seq(a, b) <- cands.combinations(2)) {
        val r = rsj((q, a)).compare(rsj((q, b)))
        val l = log((q, a)).compare(log((q, b)))
        allPairs += 1
        if (r == l || r == 0 || l == 0) agreePairs += 1
      }
    }
    val overlapBp = overlapNum * 10000 / overlapDen
    val agreeBp = agreePairs * 10000 / allPairs
    info(s"RSJ-vs-log gauge: overlap@$k = $overlapBp bp " +
      s"($overlapNum/$overlapDen), pair agreement = $agreeBp bp " +
      s"($agreePairs/$allPairs)")
    assert(overlapBp >= 8000,
      s"top-$k overlap vs textbook BM25 fell below 80%: $overlapBp bp")
    assert(agreeBp >= 9000,
      s"pairwise rank agreement vs textbook BM25 fell below 90%: $agreeBp bp")
  }

  test("hybrid recall report equals the hand-computed scoreboard of the three lists") {
    val gt = Ann.annBruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val annL = Ann.annIndexProbe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hyb = Lexical.hybridRrfIndexed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = gt.groupBy(_._1).map { case (q, pairs) =>
      val n = pairs.size.toLong
      val a = pairs.count(annL).toLong
      val h = pairs.count(hyb).toLong
      (q, n, a, h, a * 10000 / n, h * 10000 / n)
    }.toSet
    val got = Lexical.hybridRecallReport(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === want && got.nonEmpty,
      "hybrid recall report diverged from the hand-computed scoreboard")
    // contract sanity: hits never exceed the ground-truth k
    got.foreach { case (_, n, a, h, _, _) =>
      assert(a <= n && h <= n, "hits exceeded ground truth size")
    }
  }

  test("production-serving-width hybrid recall (topk=10, qterms=16): displacement stays bounded") {
    // r10 VERDICT item 8, fusion half: the D92c scoreboard previously
    // recorded only at test-scale widths — run it at a deployment-shaped
    // serving width and floor the displacement cost (RRF can only keep or
    // drop semantic recall vs the ann-only list; the gauge is how much).
    // The bucket width coarsens with it: at the default 8 planes the 256
    // buckets over this 500-vector corpus leave single-probe recall at an
    // honest ZERO (2 vectors/bucket can't fill a top-5 — recorded in
    // VALIDATION_r11), so the serving-shaped corner is 4 planes (~31
    // vectors/bucket), where the ann list actually hits ground truth and
    // the displacement question becomes non-vacuous.
    withInt("graft.ann.numPlanes", 4) {
      withInt("graft.lex.topk", 10) {
        withInt("graft.lex.qterms", 16) {
          val rep = Lexical.hybridRecallReport(spark, sfDir).collect()
            .map(r => (r.getLong(4), r.getLong(5)))
          val annBp = rep.map(_._1).sum / rep.length
          val hybBp = rep.map(_._2).sum / rep.length
          info(s"hybrid recall at serving width: ann=$annBp bp, hyb=$hybBp bp")
          assert(annBp > 0 && hybBp > 0, "both lists must hit ground truth")
          assert(hybBp >= annBp - 2000,
            s"fusion displaced more than 20% of semantic recall: $annBp -> $hybBp bp")
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // persisted-index lifecycle (the PqLifecycleSpec battery, lexical twin)
  // ------------------------------------------------------------------

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  private def dropIdx(tbl: String): Unit =
    drop(tbl, tbl + "_df", tbl + "_stats", BucketedSink.tombTableOf(tbl))

  private def docsOf(dir: String) = Tables.documents(spark, dir)
    .select(col("doc_id"), col("text"))

  /** Run `append` and assert it added at most one parquet file per bucket
    * of `tbl` (the batch repartitioned by the bucket hash, not tasks ×
    * buckets). The bound is on the append's delta, counted before and
    * after, so it cannot hold vacuously.
    */
  private def assertOneFilePerBucket(tbl: String)(append: => Unit): Unit = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(fail(s"$tbl is not bucketed"))
    def parquetFiles(): Int = new java.io.File(meta.location)
      .listFiles().count(_.getName.endsWith(".parquet"))
    val before = parquetFiles()
    append
    val added = parquetFiles() - before
    assert(added > 0 && added <= buckets,
      s"append wrote $added files into $buckets buckets")
  }

  test("persisted index probe returns exactly the live retrieval's rows") {
    val got = rows(Lexical.lexicalIndexProbe(spark, sfDir))
    val want = rows(Lexical.lexicalTopk(spark, sfDir))
    assert(got === want && got.nonEmpty,
      "persisted lexical probe diverged from the live retrieval")
  }

  test("persisted index probe rows do not depend on the bucket count") {
    val dir = tempCopyOf(sfDir)
    try {
      def probeAt(buckets: Int): Set[String] =
        withSQLConf("spark.sql.shuffle.partitions" -> buckets.toString) {
          val t = Lexical.ensureLexIndex(spark, dir)
          assert(spark.sessionState.catalog
            .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
            .bucketSpec.map(_.numBuckets).contains(buckets))
          try rows(Lexical.lexicalIndexProbe(spark, dir)) finally BucketedSink.dropIndex(spark, t)
        }
      val one = probeAt(1)
      assert(one.nonEmpty && one === probeAt(32))
    } finally deleteTree(dir)
  }

  test("append parity under pinned stats: half-build + append == full tokenize") {
    val tbl = "lex_idx_lc_append"
    dropIdx(tbl)
    val d = docsOf(sfDir)
    Lexical.writeLexIndexOf(d.filter(col("doc_id") % 2 === 0), tbl)
    assertOneFilePerBucket(tbl)(
      Lexical.appendLexDocs(d.filter(col("doc_id") % 2 =!= 0), tbl))
    // redelivery idempotence: re-appending the same batch changes nothing
    Lexical.appendLexDocs(d.filter(col("doc_id") % 2 =!= 0), tbl)
    // served rows must equal a from-scratch tokenize of the full corpus
    // under the STORED (half-build) df/stats — the pinned-stats contract
    val stored = rows(Lexical.lexProbeRecomputed(d, tbl))
    val served = rows(Lexical.lexProbeFromStore(spark, tbl))
    assert(served === stored && served.nonEmpty,
      "appended postings diverged from a full tokenize under the stored stats")
    dropIdx(tbl)
  }

  test("delete == serve-without; re-append reinstates the document") {
    val tbl = "lex_idx_lc_del"
    dropIdx(tbl)
    val d = docsOf(sfDir)
    Lexical.writeLexIndexOf(d, tbl)
    // pick a doc that actually appears as a neighbor
    val victim = Lexical.lexProbeFromStore(spark, tbl)
      .select(col("nb_id")).head().getLong(0)
    import spark.implicits._
    Lexical.deleteLexDocs(spark, tbl, Seq(victim).toDF("doc_id"))
    val without = rows(
      Lexical.lexProbeRecomputed(d.filter(col("doc_id") =!= victim), tbl))
    assert(rows(Lexical.lexProbeFromStore(spark, tbl)) === without,
      "tombstoned doc still surfaced as a candidate")
    // compaction folds the tombstone; probes identical before/after
    Lexical.compactLex(spark, tbl)
    assert(rows(Lexical.lexProbeFromStore(spark, tbl)) === without,
      "compaction changed the served rows")
    // re-appending the deleted doc reinstates it
    Lexical.appendLexDocs(d.filter(col("doc_id") === victim), tbl)
    assert(rows(Lexical.lexProbeFromStore(spark, tbl)) ===
        rows(Lexical.lexProbeRecomputed(d, tbl)),
      "re-appended doc did not reinstate")
    dropIdx(tbl)
  }

  test("positional index probes return exactly the live phrase retrievals' rows") {
    val got = rows(Lexical.lexicalPhraseIndexed(spark, sfDir))
    val want = rows(Lexical.lexicalPhraseK(spark, sfDir))
    assert(got === want && got.nonEmpty,
      "persisted positional probe diverged from the live k-phrase")
    val gotS = rows(Lexical.lexicalPhraseSlopIndexed(spark, sfDir))
    val wantS = rows(Lexical.lexicalPhraseSlop(spark, sfDir))
    assert(gotS === wantS && gotS.nonEmpty,
      "persisted positional slop probe diverged from the live form")
  }

  test("positional index lifecycle: append parity under pinned df, delete, compact, reinstate") {
    val tbl = "lex_pos_lc"
    drop(tbl, tbl + "_df", BucketedSink.tombTableOf(tbl))
    val d = phraseCorpus
    // half-build + append + redelivered append: serve == a from-scratch
    // posexplode of the full corpus under the STORED (half-build) df
    Lexical.writeLexPosIndexOf(d.filter(col("doc_id") % 2 === 0), tbl)
    assertOneFilePerBucket(tbl)(
      Lexical.appendLexPosDocs(d.filter(col("doc_id") % 2 =!= 0), tbl))
    Lexical.appendLexPosDocs(d.filter(col("doc_id") % 2 =!= 0), tbl)
    assert(rows(Lexical.lexPhraseFromStore(spark, tbl)) ===
        rows(Lexical.lexPhraseRecomputed(d, tbl)),
      "appended position rows diverged from a full posexplode under stored df")
    // full rebuild: serve == live, and the constructed corpus guarantees
    // nonzero emission (doc 40 holds the phrase twice, 43 once)
    drop(tbl, tbl + "_df", BucketedSink.tombTableOf(tbl))
    Lexical.writeLexPosIndexOf(d, tbl)
    val full = rows(Lexical.lexPhraseFromStore(spark, tbl))
    assert(full === rows(Lexical.lexicalPhraseKOf(d)) && full.nonEmpty)
    // delete a doc that matches: it must stop matching, compaction is
    // invisible, re-append reinstates
    Lexical.deleteLexPosDocs(spark, tbl, Seq(40L).toDF("doc_id"))
    val without = rows(Lexical.lexPhraseRecomputed(
      d.filter(col("doc_id") =!= 40L), tbl))
    assert(rows(Lexical.lexPhraseFromStore(spark, tbl)) === without,
      "tombstoned doc still matched the phrase")
    assert(without != full, "doc 40 must have been a real match")
    Lexical.compactLexPos(spark, tbl)
    assert(rows(Lexical.lexPhraseFromStore(spark, tbl)) === without,
      "compaction changed the served phrase rows")
    Lexical.appendLexPosDocs(d.filter(col("doc_id") === 40L), tbl)
    assert(rows(Lexical.lexPhraseFromStore(spark, tbl)) ===
        rows(Lexical.lexPhraseRecomputed(d, tbl)),
      "re-appended doc did not reinstate in the positional index")
    drop(tbl, tbl + "_df", BucketedSink.tombTableOf(tbl))
  }

  test("streaming top-k probe matches the batch index probe per arrived query") {
    val tbl = "lex_idx_lc_topk_stream"
    dropIdx(tbl)
    val d = docsOf(sfDir)
    Lexical.writeLexIndexOf(d, tbl)
    val sdir = java.nio.file.Files.createTempDirectory("graft-lex-topk-stream")
    // two files → two micro-batches under maxFilesPerTrigger=1: proves the
    // per-batch ranking is independent (each batch ranks only its arrivals)
    d.filter(col("doc_id") < 5)
      .withColumn("arrived", to_timestamp(lit("2026-01-01 00:00:00")))
      .coalesce(1).write.mode("overwrite").parquet(sdir.toString + "/a")
    d.filter(col("doc_id") >= 5 && col("doc_id") < 10)
      .withColumn("arrived", to_timestamp(lit("2026-01-01 00:01:00")))
      .coalesce(1).write.mode("overwrite").parquet(sdir.toString + "/b")
    new java.io.File(sdir.toString + "/in").mkdirs()
    Seq("a", "b").foreach { s =>
      java.nio.file.Files.list(java.nio.file.Paths.get(sdir.toString, s))
        .filter(_.toString.endsWith(".parquet")).forEach { p =>
          java.nio.file.Files.copy(p,
            java.nio.file.Paths.get(sdir.toString, "in", s + "_" + p.getFileName))
        }
    }
    val schema = spark.read.parquet(sdir.toString + "/in").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(sdir.toString + "/in")
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = graft.streaming.StreamOps
      .lexTopkStream(spark, tbl, stream, "arrived") { ranked =>
        buf.synchronized { buf ++= ranked.collect().map(_.toSeq.mkString("|")) }
      }
    q.processAllAvailable(); q.stop()
    val want = rows(Lexical.lexProbeFromStore(spark, tbl))
    assert(buf.toSet === want && want.nonEmpty,
      s"streaming top-k diverged from the batch probe (${buf.size} vs ${want.size})")
    dropIdx(tbl)
  }

  test("streaming radius probe of the persisted index matches the batch radius pair-for-pair") {
    val tbl = "lex_idx_lc_stream"
    dropIdx(tbl)
    val d = docsOf(sfDir)
    Lexical.writeLexIndexOf(d, tbl)
    // stage the query docs as the arriving stream (one parquet file)
    val sdir = java.nio.file.Files.createTempDirectory("graft-lex-stream")
    d.filter(col("doc_id") < 10)
      .withColumn("arrived", to_timestamp(lit("2026-01-01 00:00:00")))
      .coalesce(1).write.mode("overwrite").parquet(sdir.toString)
    val schema = spark.read.parquet(sdir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(sdir.toString)
    val streamed = graft.streaming.StreamOps
      .lexRadiusStream(spark, tbl, stream, "arrived")
    val got = rows(graft.streaming.StreamOps
      .runToMemory(spark, streamed, "lex_radius_mem"))
    // the batch twin over the SAME index — the production radius path
    val want = rows(Lexical.lexRadiusFromStore(spark, tbl))
    assert(got === want && got.nonEmpty,
      s"streaming lexical radius diverged from batch (${got.size} vs ${want.size})")
    dropIdx(tbl)
  }
}
