package graft

import org.apache.spark.sql.functions._
import graft.llm.{Ann, Pq}
import graft.GraftConfig.withInt

/** D73/D74 product quantization: the compressed ANN serving path. Pins the
  * properties that make PQ trustworthy at scale: the code layout (every
  * vector carries exactly M codes in [0, K)), quantization fidelity (exact
  * duplicates get identical codes and surface in each other's ADC top-k;
  * ADC recall vs exact L2 ground truth holds a floor), the distortion
  * gauge's accounting, and the width-config plumbing (the oracle generator
  * re-reads `graft.pq.*`, so the engines cannot desync on a width).
  */
class PqSpec extends SparkSpecBase {

  private def vecsWithDups = {
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    // copies of the 10 ANN query vectors under fresh ids: quantization maps
    // identical subvectors to identical codes, so each copy's ADC distance
    // to its original is the floor over the corpus
    val dups = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    base.union(dups)
  }

  test("every vector carries exactly M codes, all in [0, K)") {
    val v = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val cb = Pq.codebookOf(v)
    val enc = Pq.encodeOf(v, cb).cache()
    try {
      val n = v.count()
      val perVec = enc.groupBy("vec_id").count()
        .filter(col("count") =!= Pq.NumSubspaces).count()
      assert(perVec === 0, "some vector lacks one code per subspace")
      assert(enc.count() === n * Pq.NumSubspaces)
      val outOfRange = enc
        .filter(col("code") < 0 || col("code") >= Pq.CodebookSize).count()
      assert(outOfRange === 0, "code outside [0, K)")
    } finally { enc.unpersist(); Checkpoints.releaseAll() }
  }

  test("exact duplicates encode to identical codes and rank first") {
    val v = vecsWithDups
    val cb = Pq.codebookOf(v)
    val enc = Pq.encodeOf(v, cb).cache()
    try {
      // identical subvectors → identical argmin (deterministic tie-break)
      val mismatch = enc.filter(col("vec_id") >= 1000000L)
        .select((col("vec_id") - 1000000L).as("vec_id"), col("m"),
          col("code").as("dup_code"))
        .join(enc, Seq("vec_id", "m"))
        .filter(col("dup_code") =!= col("code")).count()
      assert(mismatch === 0, "duplicate vector encoded differently")
    } finally { enc.unpersist(); Checkpoints.releaseAll() }
    val top = Pq.annPqOf(v).collect()
    Checkpoints.releaseAll()
    // the copy's codes are the per-subspace argmins of the query's own
    // LUT, so its ADC is the global minimum → it cannot miss the
    // shortlist; the exact re-rank then puts it at d2 = 0, rank 1
    (0L until 10L).foreach { q =>
      val first = top.filter(r => r.getLong(0) == q && r.getInt(2) == 1)
      assert(first.length == 1 && first(0).getLong(1) == q + 1000000L,
        s"planted duplicate of query $q is not its rank-1 neighbor")
      assert(first(0).getDouble(3) == 0.0, "duplicate's exact distance nonzero")
    }
  }

  test("ADC top-5 holds a recall floor against exact L2 ground truth") {
    val v = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val approx = Pq.annPqOf(v).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    Checkpoints.releaseAll()
    // exact L2 top-5 ground truth — the PRODUCTION helper (Pq.exactL2TopK),
    // not a spec-local re-derivation, so tie-break/query-set changes can't
    // silently diverge between what's graded and what's served
    val exact = Pq.exactL2TopK(v).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = (0L until 10L).map { qid =>
      (approx.getOrElse(qid, Set.empty) & exact(qid)).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    // two-stage serving: the ADC scan only has to land the true top-5 in
    // its R=50 shortlist; the exact re-rank does the rest. On the
    // structureless synthetic corpus a pure-ADC top-5 sits near 0.22 (the
    // ann_lsh-class honesty point); refined M=8/K=16 measures 0.88 here —
    // the refine stage is what makes the operator servable, and this
    // deterministic floor is the evidence
    assert(mean >= 0.75, s"mean refined recall@5 vs exact L2 too low: $mean ($recalls)")
  }

  test("distortion gauge: M rows, exact doc accounting, positive error") {
    val df = Pq.pqDistortion(spark, sfDir).collect()
    Checkpoints.releaseAll()
    assert(df.length === Pq.NumSubspaces)
    val n = Tables.embeddings(spark, sfDir).count()
    df.foreach { r =>
      assert(r.getLong(1) === n, "distortion row lost vectors")
      assert(r.getDouble(2) > 0.0 && r.getDouble(3) >= r.getDouble(2),
        s"mean/max error inconsistent: $r")
    }
  }

  test("wider codebook does not increase total distortion") {
    val v = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    def total(): Double = {
      val t = Pq.encodeOf(v, Pq.codebookOf(v))
        .agg(sum(col("d2"))).collect()(0).getDouble(0)
      Checkpoints.releaseAll(); t
    }
    val atK16 = total()
    val atK64 = withInt("graft.pq.codebook", 64)(total())
    // not a theorem under one Lloyd step (refinement can move mass), so a
    // 5% tolerance; in practice K=64 lands far below K=16
    assert(atK64 <= atK16 * 1.05,
      s"K=64 distortion did not improve on K=16: $atK16 -> $atK64")
  }

  test("oracle SQL generators re-read the width config") {
    val defaultSql = Pq.annPqSql
    assert(defaultSql.contains("range(0, 8)") && defaultSql.contains("vec_id < 16"))
    withInt("graft.pq.subspaces", 4) {
      assert(Pq.annPqSql.contains("range(0, 4)"),
        "annPqSql did not re-read graft.pq.subspaces")
    }
    withInt("graft.pq.codebook", 64) {
      assert(Pq.pqDistortionSql.contains("vec_id < 64"),
        "pqDistortionSql did not re-read graft.pq.codebook")
    }
    withInt("graft.pq.shortlist", 75) {
      assert(Pq.annPqSql.contains("srank <= 75"),
        "annPqSql did not re-read graft.pq.shortlist")
    }
  }

  test("salted two-phase shortlist is output-identical across salt widths") {
    val v = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val at8 = Pq.annPqOf(v).collect().map(_.toString).sorted
    Checkpoints.releaseAll()
    // salts=1 degenerates phase 1 to the global single-rank semantics the
    // oracle states; equal output at salts=8 is the superset-equivalence
    // proof (per-salt top-R ⊇ global top-R) holding on real data
    val at1 = withInt("graft.pq.salts", 1) {
      val r = Pq.annPqOf(v).collect().map(_.toString).sorted
      Checkpoints.releaseAll(); r
    }
    assert(at8.toSeq === at1.toSeq,
      "salted shortlist diverged from the single-rank semantics")
  }

  test("no ADC window consumes an unbounded per-query partition") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window}
    val v = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val plan = Pq.annPqOf(v).queryExecution.optimizedPlan
    Checkpoints.releaseAll()
    val adcWins = plan.collect {
      case w: Window
        if w.orderSpec.exists(_.child.references.exists(_.name == "adc")) => w
    }
    assert(adcWins.size === 2, s"expected the two-phase ADC ranks, got $adcWins")
    val (phase1, phase2) = adcWins.partition(
      _.partitionSpec.exists(_.references.exists(_.name == "salt")))
    assert(phase1.size === 1,
      "phase-1 ADC rank must partition by (q_id, salt) — a q_id-only window " +
        "over raw candidates sorts the full corpus on one reducer")
    // the q_id-only phase must rank only phase-1 survivors (≤ R·salts rows)
    val bounded = phase2.head.child.collectFirst {
      case f: Filter if f.condition.references.exists(_.name == "srank1") => f
    }
    assert(bounded.nonEmpty,
      "phase-2 ADC rank does not consume the phase-1 srank1 cut")
  }

  test("IVFADC: candidates only from probed cells, full output, recall floor") {
    val v = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val out = Pq.annIvfadcOf(v).collect()
    Checkpoints.releaseAll()
    assert(out.length === 50, "IVFADC must fill k=5 for all 10 queries")
    // cell-pruning really is the candidate gate: every returned neighbor's
    // home cell (rn=1) must be in its query's probe list (rn <= NProbe)
    val ranked = Ann.ivfRanked(spark, sfDir).collect()
    Checkpoints.releaseAll()
    val home = ranked.filter(_.getAs[Int]("rn") == 1)
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val probes = ranked.filter(_.getAs[Long]("vec_id") < 10)
      .groupBy(_.getAs[Long]("vec_id"))
      .view.mapValues(_.map(_.getAs[Long]("cell")).toSet).toMap
    out.foreach { r =>
      assert(probes(r.getLong(0)).contains(home(r.getLong(1))),
        s"neighbor outside the probed cells: $r")
    }
    // pruning keeps (NProbe/NumCells) of the corpus out of the ADC scan;
    // recall is what it costs — 0.88 measured at sf0.01 (same as unpruned
    // ADC+R there), floored loosely for testdata-regen robustness
    val exact = Pq.exactL2TopK(v).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    Checkpoints.releaseAll()
    val approx = out.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val mean = (0L until 10L).map(q => (approx(q) & exact(q)).size / 5.0).sum / 10.0
    assert(mean >= 0.6, s"IVFADC mean recall@5 too low: $mean")
  }

  test("radius adc rounds like the DuckDB oracle at a half-way tie") {
    // the exact-decimal ADC 0.0019985 is 0.00199849999… as a double: the
    // oracle's round(CAST(adc AS DOUBLE), 6) gives 0.001998 (x·10^6 is
    // 1998.4999… as a double), Spark's round(x, 6) 0.001999
    import spark.implicits._
    val adc = Seq((0L, 1L, BigDecimal("0.0019985"))).toDF("q_id", "nb_id", "adc")
      .select(col("q_id"), col("nb_id"), col("adc").cast("decimal(28,10)").as("adc"))
    assert(adc.select(round(col("adc").cast("double"), 6)).head.getDouble(0) === 0.001999)
    val out = Pq.radiusCut(adc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq((0L, 1L, 0.001998)))
  }

  test("persisted-index probe returns exactly the recompute's rows") {
    val recompute = Pq.annPq(spark, sfDir).collect().map(_.toString).sorted
    Checkpoints.releaseAll()
    val probed = Pq.pqIndexProbe(spark, sfDir).collect().map(_.toString).sorted
    Checkpoints.releaseAll()
    assert(probed.toSeq === recompute.toSeq,
      "pq_index_probe diverged from the ann_pq recompute")
  }

  test("a partial index pair (one half missing) rebuilds the pair") {
    val table = Pq.ensurePqIndex(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS `${table}_cb`") // simulate a crashed build
    val again = Pq.ensurePqIndex(spark, sfDir)
    assert(again === table)
    assert(spark.catalog.tableExists(table) && spark.catalog.tableExists(table + "_cb"),
      "partial pair not rebuilt")
    // and the rebuilt pair still serves identically
    val probed = Pq.pqIndexProbe(spark, sfDir).count()
    Checkpoints.releaseAll()
    assert(probed > 0)
  }

  test("OPQ permutation: bijective layout, no distortion regression, flatter spread") {
    // layout validity: every dim assigned once, every subspace gets Dim/M
    val asg = Pq.pqPermute(spark, sfDir).collect()
    Checkpoints.releaseAll()
    assert(asg.length === llm.Ann.Dim)
    assert(asg.map(_.getInt(0)).toSet.size === llm.Ann.Dim, "pos not a bijection")
    val bySub = asg.groupBy(_.getInt(1))
    assert(bySub.size === Pq.NumSubspaces &&
      bySub.values.forall(_.length === llm.Ann.Dim / Pq.NumSubspaces),
      "subspaces not equally filled")
    assert(asg.map(r => (r.getInt(1), r.getInt(2))).toSet.size === llm.Ann.Dim,
      "(sub_m, slot) not unique")
    // the deployment gate the operator exists for: total distortion must
    // not rise (observed ratio 0.9985 on testdata), and the per-subspace
    // spread must flatten (observed 1.081 -> 1.030)
    def gauge(rows: Array[org.apache.spark.sql.Row]) = {
      val total = rows.map(r => r.getDouble(2) * r.getLong(1)).sum
      val means = rows.map(_.getDouble(2))
      (total, means.max / means.min)
    }
    val (tBase, sBase) = gauge(Pq.pqDistortion(spark, sfDir).collect())
    Checkpoints.releaseAll()
    val (tOpq, sOpq) = gauge(Pq.pqOpqDistortion(spark, sfDir).collect())
    Checkpoints.releaseAll()
    assert(tOpq <= tBase * 1.005, s"permutation raised total distortion: $tBase -> $tOpq")
    assert(sOpq <= sBase * 1.01, s"permutation did not flatten the spread: $sBase -> $sOpq")
  }

  test("serving under the permutation keeps the top-k contract and recall") {
    val v = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val out = Pq.annPqOpqOf(v).collect()
    Checkpoints.releaseAll()
    assert(out.length === 50, "permuted serve must fill k=5 for all 10 queries")
    // a permutation is orthogonal: the exact re-rank space is the same, so
    // recall vs UNPERMUTED ground truth is the right grade
    val exact = Pq.exactL2TopK(v).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    Checkpoints.releaseAll()
    val approx = out.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val mean = (0L until 10L).map(q => (approx(q) & exact(q)).size / 5.0).sum / 10.0
    assert(mean >= 0.6, s"permuted-serve mean recall@5 too low: $mean")
  }

  test("OPQ permutation spreads a planted hot block across all subspaces") {
    import spark.implicits._
    // variance concentrated in the first 8 ADJACENT dims — the exact shape
    // the contiguous split handles worst (all the energy in subspace 0).
    // Hot values are continuous-ish (hash-spread over [-1,1], ~200 distinct
    // 8-dim patterns vs K=16 centroids); cold dims are exactly 0, so the
    // permuted layout (1 hot scalar + 7 zeros per subspace) quantizes each
    // hot dim with all 16 centroids instead of cramming 8 dims into one
    val v = (0 until 200).map { k =>
      val emb = Array.tabulate(llm.Ann.Dim)(d =>
        if (d < 8) (((k * 2654435761L + d * 40503L) % 10007L) / 10007.0f) * 2f - 1f
        else 0.0f)
      (k.toLong, emb)
    }.toDF("vec_id", "embedding")
    val asg = Pq.pqPermuteOf(v).collect()
    Checkpoints.releaseAll()
    val hotSubs = asg.filter(_.getInt(0) < 8).map(_.getInt(1)).toSet
    assert(hotSubs.size === Pq.NumSubspaces,
      s"hot dims not dealt one-per-subspace: $hotSubs")
    def total(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getDouble(2) * r.getLong(1)).sum
    val base = total(Pq.pqDistortionOf(v).collect()); Checkpoints.releaseAll()
    val opq = total(Pq.pqOpqDistortionOf(v).collect()); Checkpoints.releaseAll()
    assert(opq < base * 0.9,
      s"balanced split should win big on the anisotropic corpus: $base -> $opq")
  }

  test("OPQ+IVF+ADC triple: full k=5 contract and recall floor vs exact ground truth") {
    val v = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val out = Pq.annOpqIvfadc(spark, sfDir).collect()
    assert(out.length === 50, "k=5 x 10 queries contract broke in the triple")
    assert(out.map(r => (r.getLong(0), r.getLong(1))).distinct.length === 50)
    // graded against the ORIGINAL-space exact ground truth: a permutation
    // is orthogonal, so the triple loses recall only to cell pruning and
    // code quantization, never to the rotation itself
    val exact = Pq.exactL2TopK(v).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = out.map(r => (r.getLong(0), r.getLong(1))).count(exact)
    val recall = hits.toDouble / exact.size
    info(f"opq+ivfadc recall vs exact: $recall%.2f")
    assert(recall >= 0.6, f"triple recall floor broke: $recall%.2f")
    Checkpoints.releaseAll()
  }

  test("persisted IVFADC probe returns exactly the recompute's rows") {
    // the last cell of the serving matrix: cell-pruned top-k from the
    // STORED pair must equal the D80 per-query recompute byte-for-byte
    // (stored centroids/codebook/codes are the recompute's expressions)
    val got = Pq.pqIvfadcProbe(spark, sfDir).collect()
      .map(_.toSeq.mkString("|")).toSet
    val want = Pq.annIvfadc(spark, sfDir).collect()
      .map(_.toSeq.mkString("|")).toSet
    assert(got === want && got.nonEmpty,
      "persisted IVFADC probe diverged from the recompute")
    Checkpoints.releaseAll()
  }

  test("persisted OPQ+IVF+ADC triple returns exactly the recompute's rows") {
    // the pay-at-ingest form of the full composition: stored rotation,
    // permuted centroids, codebook and codes must together reproduce the
    // D89 per-query recompute byte-for-byte
    val got = Pq.pqOpqIvfadcProbe(spark, sfDir).collect()
      .map(_.toSeq.mkString("|")).toSet
    val want = Pq.annOpqIvfadc(spark, sfDir).collect()
      .map(_.toSeq.mkString("|")).toSet
    assert(got === want && got.nonEmpty,
      "persisted OPQ+IVFADC triple diverged from the recompute")
    Checkpoints.releaseAll()
  }

  test("production-width corner (K=256): serving contract and recall at the published operating point") {
    // the recorded widths everywhere else are test-scale (K=16); the
    // published 10^9-vector operating point is M=8..16, K=256 — run the
    // full two-stage serving pipeline once at that corner (the
    // AnnWidthSpec two-width discipline applied to the serving tier)
    withInt("graft.pq.codebook", 256) {
      assert(Pq.CodebookSize === 256)
      val out = Pq.annPq(spark, sfDir).collect()
      assert(out.length === 50, "k=5 x 10 queries contract broke at K=256")
      val rep = Pq.pqRecallReport(spark, sfDir).collect()
      val bp = rep.map(_.getLong(3)).sum / rep.length
      info(s"mean recall at M=8 K=256: $bp bp")
      assert(bp >= 8000,
        s"production-width recall floor broke: mean $bp bp < 8000")
      Checkpoints.releaseAll()
    }
  }

  test("production-width recall matrix (K=256, cells=22): per-method floors at the published operating point") {
    // r10 VERDICT item 8: the D84 matrix previously recorded only at
    // test-scale widths — run it once at the full-catalog production
    // corner (the VALIDATION battery's K=256/cells=22 config) and floor
    // each method, so a recall regression at the deployed widths fails a
    // spec rather than surfacing in a scoreboard nobody gates on.
    withInt("graft.pq.codebook", 256) {
      withInt("graft.ann.numCells", 22) {
        val rows = Pq.annRecallMatrix(spark, sfDir).collect()
          .map(r => (r.getString(0), r.getLong(4)))
        Checkpoints.releaseAll()
        val mean = rows.groupBy(_._1).map { case (m, rs) =>
          m -> rs.map(_._2).sum / rs.length
        }
        info(s"production-width recall matrix means (bp): $mean")
        assert(mean("pq") >= 8000,
          s"PQ recall at K=256 fell below 80%: ${mean("pq")} bp")
        assert(mean("pq_opq") >= 8000,
          s"OPQ+PQ recall at K=256 fell below 80%: ${mean("pq_opq")} bp")
        assert(mean("ivfadc") >= 6000,
          s"IVFADC recall at K=256/cells=22 fell below 60%: ${mean("ivfadc")} bp")
      }
    }
  }

  test("covariance: wide decimal aggregate is bit-identical to the narrow long path") {
    val v = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    def rows() = Pq.embedCovarOf(v).collect().map(_.toSeq.mkString("|")).toSet
    val narrow = rows()
    val wide = GraftConfig.withBool("graft.covar.wide", true) {
      // sanity: the lever actually routes the aggregate (and the oracle)
      assert(Pq.CovarWide && Pq.embedCovarSql.contains("HUGEINT"))
      rows()
    }
    assert(!Pq.CovarWide && Pq.embedCovarSql.contains("BIGINT"))
    assert(narrow === wide && narrow.nonEmpty,
      "decimal-widened covariance diverged from the long path")
    Checkpoints.releaseAll()
  }

  test("covariance: triangle shape, exact structure on a constructed corpus") {
    import spark.implicits._
    // dim0 == dim1 per vector (perfect correlation), dim2 constant: the
    // covariance structure is known exactly
    val v = (0 until 50).map { k =>
      val x0 = (k % 7 - 3) / 10.0f
      val emb = Array.tabulate(llm.Ann.Dim)(d =>
        if (d == 0 || d == 1) x0 else if (d == 2) 0.25f
        else (((k * 13 + d * 7) % 11) - 5) / 100.0f)
      (k.toLong, emb)
    }.toDF("vec_id", "embedding")
    val rows = Pq.embedCovarOf(v).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3)))).toMap
    Checkpoints.releaseAll()
    val d = llm.Ann.Dim
    assert(rows.size === d * (d + 1) / 2, "not the full upper triangle")
    assert(rows.forall(_._2._1 == 50L), "count drift")
    val v00 = rows((0, 0))._2; val v01 = rows((0, 1))._2; val v11 = rows((1, 1))._2
    assert(v00 > 0 && v00 === v01 && v00 === v11,
      s"duplicated dims must have identical var/cov: $v00 $v01 $v11")
    assert(rows((2, 2))._2 === 0.0, "constant dim must have zero variance")
    assert(rows((0, 2))._2 === 0.0, "constant dim must have zero covariance")
  }

  test("recall matrix: 3 methods x 10 queries, bp consistent, pq row matches D78") {
    val rows = Pq.annRecallMatrix(spark, sfDir).collect()
    Checkpoints.releaseAll()
    assert(rows.length === 30)
    val byMethod = rows.groupBy(_.getString(0))
    assert(byMethod.keySet === Set("pq", "ivfadc", "pq_opq"))
    rows.foreach { r =>
      assert(r.getLong(2) === 5L)
      assert(r.getLong(4) === r.getLong(3) * 10000L / r.getLong(2), s"bp drift: $r")
    }
    // the pq method is D78's measurement re-derived — same numbers
    val d78 = Pq.pqRecallReport(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    Checkpoints.releaseAll()
    byMethod("pq").foreach { r =>
      assert(r.getLong(4) === d78(r.getLong(1)),
        s"matrix pq row diverged from pq_recall_report: $r")
    }
  }

  test("recall report: one row per query, bp consistent, floor holds") {
    val rows = Pq.pqRecallReport(spark, sfDir).collect()
    Checkpoints.releaseAll()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getLong(1) === 5L)
      assert(r.getLong(3) === r.getLong(2) * 10000L / r.getLong(1), s"bp drift: $r")
    }
    val mean = rows.map(_.getLong(3)).sum / 10.0
    assert(mean >= 7500.0, s"report disagrees with the spec'd recall floor: $mean")
  }

  test("PCA power iteration recovers a planted dominant direction") {
    import spark.implicits._
    // dim 0 carries variance ~1, everything else ~1e-4-scale wobble: the
    // top PC must align with e0 and own nearly all the variance
    val v = (0 until 200).map { k =>
      val emb = Array.tabulate(llm.Ann.Dim)(d =>
        if (d == 0) (if (k % 2 == 0) 1.0f else -1.0f)
        else (((k * 13 + d * 7) % 11) - 5) / 100.0f)
      (k.toLong, emb)
    }.toDF("vec_id", "embedding")
    val all = Pq.embedPcaOf(v).collect()
    Checkpoints.releaseAll()
    assert(all.length === llm.Ann.Dim * Pq.PcaComponents)
    val rows = all.filter(_.getInt(0) == 1).sortBy(_.getInt(1))
    val w = rows.map(_.getDouble(2))
    assert(math.abs(w(0)) >= 0.99, s"PC1 not aligned with the planted axis: ${w(0)}")
    assert(math.abs(w.map(x => x * x).sum - 1.0) < 1e-6, "PC1 not unit-norm")
    val lambda = rows(0).getDouble(3)
    assert(math.abs(lambda - 1.0) < 0.01, s"eigenvalue far from planted variance: $lambda")
    assert(rows(0).getLong(4) >= 9000L, s"explained_bp not dominant: ${rows(0).getLong(4)}")
  }

  test("deflation recovers a planted 2-D dominant subspace, basis orthonormal") {
    import spark.implicits._
    // dims 0 and 1 carry independent large variances (4 and 1), the rest
    // centi-scale wobble: PC1 must align with e0, PC2 with e1, eigenvalues
    // near the planted variances, and the two PCs must be orthogonal
    val v = (0 until 200).map { k =>
      val emb = Array.tabulate(llm.Ann.Dim)(d =>
        if (d == 0) (if (k % 2 == 0) 2.0f else -2.0f)
        else if (d == 1) (if ((k / 2) % 2 == 0) 1.0f else -1.0f)
        else (((k * 13 + d * 7) % 11) - 5) / 100.0f)
      (k.toLong, emb)
    }.toDF("vec_id", "embedding")
    val all = Pq.embedPcaOf(v).collect()
    Checkpoints.releaseAll()
    def pc(c: Int): Array[Double] =
      all.filter(_.getInt(0) == c).sortBy(_.getInt(1)).map(_.getDouble(2))
    def lam(c: Int): Double = all.find(_.getInt(0) == c).get.getDouble(3)
    assert(math.abs(pc(1)(0)) >= 0.99, s"PC1 not on e0: ${pc(1)(0)}")
    assert(math.abs(pc(2)(1)) >= 0.99, s"PC2 not on e1: ${pc(2)(1)}")
    assert(math.abs(lam(1) - 4.0) < 0.05, s"lambda1 far from planted 4: ${lam(1)}")
    assert(math.abs(lam(2) - 1.0) < 0.05, s"lambda2 far from planted 1: ${lam(2)}")
    (1 to Pq.PcaComponents).foreach { c =>
      assert(math.abs(pc(c).map(x => x * x).sum - 1.0) < 1e-4, s"PC$c not unit-norm")
    }
    val dot12 = pc(1).zip(pc(2)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot12) < 1e-3, s"PC1 and PC2 not orthogonal: $dot12")
  }

  test("PCA on testdata: full basis, unit norms, non-increasing eigenvalues") {
    val all = Pq.embedPca(spark, sfDir).collect()
    Checkpoints.releaseAll()
    assert(all.length === llm.Ann.Dim * Pq.PcaComponents)
    val byComp = all.groupBy(_.getInt(0))
    (1 to Pq.PcaComponents).foreach { c =>
      val rows = byComp(c)
      val w = rows.map(_.getDouble(2))
      assert(math.abs(w.map(x => x * x).sum - 1.0) < 1e-4, s"PC$c not unit-norm")
      val bps = rows.map(_.getLong(4)).distinct
      assert(bps.length === 1 && bps(0) >= 0 && bps(0) <= 10000)
    }
    // the testdata spectrum is near-flat (all lambda ~0.025), where fixed-T
    // power iteration legitimately cannot strictly order components
    // (convergence rate is (lambda2/lambda1)^T ~ 1); the planted-subspace
    // test above pins strict ordering where a gap exists. Here: positive,
    // same scale, and within the trace
    val lams = (1 to Pq.PcaComponents).map(c => byComp(c).head.getDouble(3))
    assert(lams.forall(_ > 0), s"non-positive eigenvalue: $lams")
    assert(lams.max <= lams.min * 1.5, s"flat-spectrum eigenvalues diverged: $lams")
  }

  test("width validation rejects a subspace count that does not divide Dim") {
    withInt("graft.pq.subspaces", 5) {
      intercept[IllegalArgumentException](Pq.NumSubspaces)
    }
    withInt("graft.pq.codebook", 1) {
      intercept[IllegalArgumentException](Pq.CodebookSize)
    }
  }
}
