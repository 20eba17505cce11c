package graft

import org.apache.spark.sql.functions._
import graft.llm.{Ann, Dedup, Multimodal, Packing, Sampling, TextOps}

/** Specs for the LLM-training-data operators (SURVEY.md §2.D) at sf0.001. */
class LlmOpsSpec extends SparkSpecBase {

  test("dedup_spans_multi: width-12 rung == dedup_spans; rungs read as a repeat-length histogram") {
    import spark.implicits._
    // multi's width-12 slice must equal the single-width D26 census in
    // GROUP STRUCTURE (r13: multi's span_hash is the composed segment
    // hash, dedup_spans' the text md5 — the groups must partition the
    // windows identically, so the per-group stat tuples coincide)
    val multi12 = Dedup.dedupSpansMulti(spark, sfDir)
      .filter(col("width") === Dedup.SpanWindow)
      .select("n_docs", "n_occurrences", "first_doc")
    val single = Dedup.dedupSpans(spark, sfDir)
      .select("n_docs", "n_occurrences", "first_doc")
    assert(multi12.exceptAll(single).count() == 0 &&
      single.exceptAll(multi12).count() == 0)
    // a known 16-token repeat surfaces at rungs 8/12/16 and NOT at 24/32
    val span = (1 to 16).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $span gamma"),
      (2L, s"$span delta epsilon zeta"),
      (3L, "unrelated words only here nothing shared at all among docs"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.llm.TextOps.toks(col("text")).as("toks"))
    val rungs = Dedup.dedupSpansMultiOn(docs)
      .select("width").distinct().collect().map(_.getInt(0)).toSet
    assert(rungs == Set(8, 12, 16))
  }

  test("composed span hashes partition windows exactly like text hashes") {
    import spark.implicits._
    // r13 (the composed-hash lift's correctness contract): for every
    // width, the (n_docs, n_occurrences, first_doc) multiset of the
    // composed-hash groups must equal the brute-force TEXT-window
    // grouping — a collision would merge text groups and disturb some
    // tuple. Randomized corpus with planted shared runs so many
    // cross-doc groups exist at every rung.
    val rng = new scala.util.Random(1317L)
    val shared = (0 until 3).map(k => (0 until 40).map(i => s"s${k}x$i"))
    val docs = (0 until 30).map { d =>
      val runs = (0 until 2).map { _ =>
        val s = shared(rng.nextInt(3))
        val off = rng.nextInt(8); val len = 8 + rng.nextInt(32)
        s.slice(off, math.min(off + len, s.length))
      }
      val noise = (0 until 10).map(i => s"n${d}w$i")
      (d.toLong, (noise.take(5) ++ runs(0) ++ noise.drop(5) ++ runs(1)).mkString(" "))
    }.toDF("doc_id", "text")
      .select(col("doc_id"), graft.llm.TextOps.toks(col("text")).as("toks"))
    val got = Dedup.dedupSpansMultiOn(docs)
      .collect()
      .map(r => (r.getAs[Int]("width"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_occurrences"), r.getAs[Long]("first_doc")))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).sorted.toSeq).toMap
    val toksOf = docs.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    Dedup.SpanWidths.foreach { w =>
      val groups = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
      toksOf.foreach { case (id, ts) =>
        ts.sliding(w).filter(_.length == w).foreach { win =>
          groups.getOrElseUpdate(win.mkString(" "),
            scala.collection.mutable.ArrayBuffer.empty) += id
        }
      }
      val want = groups.values.filter(_.distinct.size >= 2)
        .map(ds => (ds.distinct.size.toLong, ds.size.toLong, ds.min)).toSeq.sorted
      assert(got.getOrElse(w, Seq.empty) == want,
        s"width $w group structure diverged")
    }
    Checkpoints.releaseAll()
  }

  test("dedup_spans_maximal: intervals match driver-side brute-force maximal repeats") {
    import spark.implicits._
    val s16 = (1 to 16).map(i => s"a$i").mkString(" ")
    val s9 = (1 to 9).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      // doc 1: both runs, separated by noise -> two islands
      (1L, s"pre1 pre2 $s16 mid1 mid2 mid3 $s9 post1"),
      (2L, s"$s16 tailx taily"),
      (3L, s"lead $s9 trail1 trail2"),
      (4L, "nothing shared here at all with anyone else in this corpus"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.llm.TextOps.toks(col("text")).as("toks"))
    val got = Dedup.dedupSpansMaximalOn(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"), r.getAs[Int]("span_len"),
        r.getAs[Int]("widest_rung"), r.getAs[Long]("n_windows")))
      .sortBy(t => (t._1, t._2)).toSeq
    Checkpoints.releaseAll()
    // brute force: coverage = union of repeated 8-windows; islands =
    // maximal runs of covered positions; widest_rung/n_windows from the
    // repeated rung windows inside each island
    val toksOf = docs.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    def repeatedSet(w: Int): Set[String] = {
      val m = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
      toksOf.foreach { case (id, ts) =>
        ts.sliding(w).filter(_.length == w).foreach { win =>
          m.getOrElseUpdate(win.mkString(" "), scala.collection.mutable.Set.empty) += id
        }
      }
      m.collect { case (str, ds) if ds.size >= 2 => str }.toSet
    }
    val repByW = Dedup.SpanWidths.map(w => w -> repeatedSet(w)).toMap
    val want = toksOf.toSeq.flatMap { case (id, ts) =>
      val covered = scala.collection.mutable.Set.empty[Int]
      ts.sliding(8).zipWithIndex.foreach { case (win, i) =>
        if (win.length == 8 && repByW(8)(win.mkString(" "))) covered ++= (i until i + 8)
      }
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var i = 0
      while (i < ts.length) {
        if (covered(i)) {
          var j = i
          while (j < ts.length && covered(j)) j += 1
          runs += ((i, j)); i = j
        } else i += 1
      }
      runs.map { case (s0, e0) =>
        val inIsland = Dedup.SpanWidths.flatMap { w =>
          ts.sliding(w).zipWithIndex.collect {
            case (win, p) if win.length == w && repByW(w)(win.mkString(" ")) &&
              p >= s0 && p + w <= e0 => w
          }
        }
        (id, s0 + 1, e0 + 1, e0 - s0, inIsland.max, inIsland.size.toLong)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got == want, s"got ${got.mkString(";")} want ${want.mkString(";")}")
    // sanity on the fixed corpus: doc 1 has two islands (len 16 and 9),
    // widest rungs 16 and 8
    val d1 = got.filter(_._1 == 1L)
    assert(d1.length == 2 && d1.map(_._4) == Seq(16, 9) &&
      d1.map(_._5) == Seq(16, 8))
  }

  test("dedup_rewrite removes exactly the maximal-span interval coverage") {
    import spark.implicits._
    val s16 = (1 to 16).map(i => s"a$i").mkString(" ")
    val docs = Seq(
      (1L, s"pre1 pre2 $s16 post1 post2"),
      (2L, s"$s16 tailx taily"),
      (3L, "totally distinct words in every position here"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.llm.TextOps.toks(col("text")).as("toks"))
    val spans = Dedup.dedupSpansMaximalOn(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end")))
    Checkpoints.releaseAll()
    val rw = Dedup.dedupRewriteOn(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
    Checkpoints.releaseAll()
    val toksOf = docs.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    toksOf.foreach { case (id, ts) =>
      val cov = spans.filter(_._1 == id).flatMap(s => s._2 until s._3).toSet
      val kept = ts.zipWithIndex.collect { case (t, i) if !cov(i + 1) => t }
      assert(rw(id)._1 == cov.size.toLong, s"doc $id n_removed")
      assert(rw(id)._2 == kept.mkString(" "), s"doc $id clean_text")
    }
  }

  test("mm_frames_real: real GIF frames decode exactly; corrupt bytes fail open") {
    import spark.implicits._
    val r = Multimodal.mmFramesReal(spark, sfDir)
    // one row per (media, frame); frame counts follow 1 + n_chars % 4
    val perDoc = r.groupBy("media_id").agg(
      count(lit(1)).as("rows"), max(col("n_frames")).as("nf"))
    assert(perDoc.filter(col("rows") =!= col("nf")).count() == 0)
    // per-frame phase: px00 = (id*31 + 97*f) % 256 — spot-check via SQL
    assert(r.filter(col("px00") =!=
      pmod(col("media_id") * 31 + lit(97) * col("frame_idx"), lit(256))).count() == 0)
    // fail-open: corrupt payloads degrade to a single (-1, -1) row
    val corrupt = Seq(
      Multimodal.MediaBin(1L, Array[Byte](1, 2, 3)),
      Multimodal.MediaBin(2L, "GIF89a totally not a gif".getBytes)).toDS()
    val bad = Multimodal.decodeFrameFeatures(corrupt).collect()
    assert(bad.length == 2 && bad.forall(f => f.n_frames == -1 && f.frame_idx == -1))
  }

  test("dedup_exact groups all docs and keeps min ids") {
    val d = Dedup.dedupExact(spark, sfDir)
    val docs = Tables.documents(spark, sfDir).count()
    assert(d.agg(sum("n_dups")).head.getLong(0) == docs)
  }

  test("minhash signatures have 16 components and identical docs collide") {
    val sigs = Dedup.minhashSignatures(spark, sfDir)
    assert(sigs.filter(size(col("sig")) =!= 16).count() == 0)
    // 4 band rows per doc
    val perDoc = sigs.groupBy("doc_id").count().agg(min("count"), max("count")).head
    assert(perDoc.getLong(0) == 4 && perDoc.getLong(1) == 4)
  }

  test("dedup pairs are ordered and unique") {
    for (df <- Seq(Dedup.dedupMinhash(spark, sfDir), Dedup.dedupSimhash(spark, sfDir),
      Dedup.dedupNgramJaccard(spark, sfDir))) {
      assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
      assert(df.groupBy("doc_a", "doc_b").count().filter(col("count") > 1).count() == 0)
    }
  }

  test("simhash of identical token lists is equal, different lists differ") {
    import spark.implicits._
    val df = Seq("spark joins the table", "spark joins the table", "totally different words here")
      .toDF("text").select(Dedup.simhash(TextOps.toks(col("text"))).as("sh"))
    val vals = df.collect().map(_.getLong(0))
    assert(vals(0) == vals(1) && vals(0) != vals(2))
  }

  test("ann_bruteforce returns exactly k=5 ranked neighbors per query") {
    val r = Ann.annBruteforce(spark, sfDir)
    val per = r.groupBy("q_id").count().collect()
    assert(per.length == 10 && per.forall(_.getLong(1) == 5))
    // rank 1 neighbor has the max cosine
    val top = r.filter(col("rank") === 1).select(min("cos_sim")).head.getDouble(0)
    val bottom = r.filter(col("rank") === 5).select(max("cos_sim")).head.getDouble(0)
    assert(top >= bottom - 1e-9)
  }

  test("ann_lsh results are a subset-quality approximation of brute force") {
    val lsh = Ann.annLsh(spark, sfDir)
    assert(lsh.count() > 0)
    assert(lsh.filter(col("rank") > 5).count() == 0)
  }

  test("multi-probe LSH recalls at least as much as single-probe, toward brute force") {
    val bf = Ann.annBruteforce(spark, sfDir).select("q_id", "nb_id")
    val n = bf.count().toDouble
    val single = Ann.annLsh(spark, sfDir).select("q_id", "nb_id")
      .intersect(bf).count() / n
    val multi = Ann.annLshMultiprobe(spark, sfDir).select("q_id", "nb_id")
      .intersect(bf).count() / n
    info(f"recall single=$single%.3f multi=$multi%.3f")
    // probing the 1-bit-flip buckets strictly widens the candidate set
    assert(multi >= single)
    // and every query can now fill its k (single-probe often can't)
    val per = Ann.annLshMultiprobe(spark, sfDir).groupBy("q_id").count().collect()
    assert(per.length == 10 && per.forall(_.getLong(1) == 5))
  }

  test("ann_ivf returns k=5 per query with decent recall vs brute force") {
    val ivf = Ann.annIvf(spark, sfDir)
    val per = ivf.groupBy("q_id").count().collect()
    assert(per.length == 10 && per.forall(_.getLong(1) == 5))
    val bf = Ann.annBruteforce(spark, sfDir).select("q_id", "nb_id")
    val overlap = ivf.select("q_id", "nb_id").intersect(bf).count()
    // measured 0.92 at sf0.01 / 0.9+ at sf0.001 with nprobe=2 of 16 cells;
    // floor well below to keep the spec data-robust
    assert(overlap >= (bf.count() * 0.6).toLong)
  }

  test("ann_ivf Lloyd refinement holds recall on the (uniform) testdata corpus") {
    // the testdata embeddings are unclustered, so k-means refinement can't
    // find structure — recall stays in the same band as raw seeds
    // (measured: refined 0.92 vs seeded 0.94 at sf0.001, 0.88 vs 0.92 at
    // sf0.01, identical candidate counts — differences are 1-2 pairs of 50,
    // i.e. noise). The structural win is asserted on a CLUSTERED corpus in
    // the next test; here we pin a floor.
    val bf = Ann.annBruteforce(spark, sfDir).select("q_id", "nb_id")
    val n = bf.count().toDouble
    val refined = Ann.annIvf(spark, sfDir).select("q_id", "nb_id")
      .intersect(bf).count() / n
    val seeded = Ann.annIvfSeeded(spark, sfDir).select("q_id", "nb_id")
      .intersect(bf).count() / n
    info(f"recall refined=$refined%.3f seeded=$seeded%.3f")
    assert(refined >= 0.8, f"refined recall floor: $refined%.3f")
  }

  // deterministic clustered corpus: 16 random ±1 prototypes, 512 vectors
  // = prototype + uniform noise; cluster membership md5-assigned so the
  // 16 seed vectors (ids 0-15) cover only SOME clusters, imperfectly —
  // the realistic bad-seed case Lloyd iteration exists for. Shared by the
  // Lloyd-refinement test and the recall-floor battery: the driver
  // testdata's embeddings are UNIFORM random (no neighbor structure), so
  // bucketed-ANN recall there is noise — floors are only meaningful on a
  // corpus where true neighbors exist to be found.
  private def mdHash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
  private lazy val clusterProtos: Seq[Array[Float]] =
    (0 until Ann.NumCells).map(c =>
      (0 until Ann.Dim).map(d =>
        if ((mdHash(s"p$c:$d") & 1L) == 1L) 1.0f else -1.0f).toArray)
  private lazy val clusteredCorpus: Seq[(Long, Array[Float])] =
    (0 until 512).map { i =>
      val c = (mdHash(s"c$i") % Ann.NumCells).toInt
      i.toLong -> (0 until Ann.Dim).map { d =>
        clusterProtos(c)(d) +
          0.8f * (2f * (mdHash(s"n$i:$d").toFloat / 4294967296.0f) - 1f)
      }.toArray
    }

  test("Lloyd refinement recovers true prototypes and recall on a clustered corpus") {
    import spark.implicits._
    val protos = clusterProtos
    val corpus = clusteredCorpus
    val vdf = corpus.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    def alignment(cents: Seq[Array[Float]]): Double =
      cents.map(cv => protos.map(p => cos(cv, p)).max).sum / cents.size
    val seedAlign = alignment(corpus.take(Ann.NumCells).map(_._2))
    val refAlign = alignment(Ann.ivfCentroidsOf(vdf).collect()
      .map(_.getSeq[Float](1).toArray).toSeq)
    val bf = Ann.annBruteforceOf(vdf).select("q_id", "nb_id")
    val n = bf.count().toDouble
    val refinedRecall = Ann.annIvfOf(vdf, refined = true).select("q_id", "nb_id")
      .intersect(bf).count() / n
    Checkpoints.releaseAll()
    val seededRecall = Ann.annIvfOf(vdf, refined = false).select("q_id", "nb_id")
      .intersect(bf).count() / n
    Checkpoints.releaseAll()
    info(f"alignment seed=$seedAlign%.4f refined=$refAlign%.4f; " +
      f"recall seeded=$seededRecall%.3f refined=$refinedRecall%.3f")
    // averaging members cancels the noise: refined centroids must sit
    // measurably closer to the true prototypes than the raw seed vectors
    assert(refAlign > seedAlign + 0.01,
      f"refined centroids should align to prototypes: $refAlign%.4f vs $seedAlign%.4f")
    assert(refinedRecall >= seededRecall,
      f"refined recall $refinedRecall%.3f < seeded $seededRecall%.3f")
  }

  test("recall@5 floors vs brute force on the clustered corpus (SURVEY §4)") {
    import spark.implicits._
    // floors are pinned on the clustered corpus where true neighbors exist;
    // the stated floors sit well under the measured values so the spec is
    // robust to small determinism-preserving parameter changes but catches
    // a refactor that guts recall while staying deterministic
    val vdf = clusteredCorpus.toDF("vec_id", "embedding")
    val bf = Ann.annBruteforceOf(vdf).select("q_id", "nb_id")
    val n = bf.count().toDouble
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("q_id", "nb_id").intersect(bf).count() / n
    val lsh = recall(Ann.annLshOf(vdf))
    val multi = recall(Ann.annLshMultiprobeOf(vdf))
    val ivf = recall(Ann.annIvfOf(vdf, refined = true))
    Checkpoints.releaseAll()
    info(f"recall@5 lsh=$lsh%.3f multiprobe=$multi%.3f ivf=$ivf%.3f")
    // measured on this corpus: lsh=0.22 (8-plane single-bucket probing
    // fragments clusters — the documented cost of the cheapest variant),
    // multiprobe=0.68 (Hamming-1 probes recover most of it), ivf=1.00
    // (nprobe=2/16 covers the true cell). Floors sit ~30% under measured.
    assert(lsh >= 0.15, f"plain LSH recall floor: $lsh%.3f")
    assert(multi >= 0.5, f"multi-probe LSH recall floor: $multi%.3f")
    assert(ivf >= 0.9, f"IVF recall floor: $ivf%.3f")
    assert(multi > lsh, "probing Hamming-1 buckets must add recall here")
  }

  test("text quality/tokens/langid/fingerprint produce full coverage") {
    val docs = Tables.documents(spark, sfDir).count()
    assert(TextOps.textQuality(spark, sfDir).count() == docs)
    assert(TextOps.textTokens(spark, sfDir).count() == docs)
    val lang = TextOps.textLangid(spark, sfDir)
    assert(lang.filter(col("lang_pred").isin("en", "de", "fr", "es")).count() == docs)
    val fp = TextOps.textFingerprint(spark, sfDir)
    assert(fp.filter(col("exact_fp").isNull).count() == 0)
  }

  test("mm_pipeline decodes payload bytes deterministically") {
    val mm = Multimodal.mmPipeline(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("len"))
    val joined = mm.join(docs, mm("media_id") === docs("doc_id"))
    assert(joined.filter(col("n_bytes") =!= col("len")).count() == 0)
    assert(mm.filter(col("first_byte") < -1 || col("first_byte") > 255).count() == 0)
  }

  test("stratified sample keeps rates per language, deterministically") {
    val s = graft.llm.Sampling.sampleStratified(spark, sfDir)
    // a second evaluation yields the identical set (pure hash, no RNG state)
    assert(s.collect().toSet == graft.llm.Sampling.sampleStratified(spark, sfDir).collect().toSet)
    assert(s.filter(col("bucket") < 0 || col("bucket") > 99).count() == 0)
    val total = Tables.documents(spark, sfDir)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // en keeps ~25% (hash-uniform, so allow sampling noise); unlisted langs keep all
    val enFrac = kept("en").toDouble / total("en")
    assert(enFrac > 0.1 && enFrac < 0.45, s"en kept $enFrac")
    assert(kept("de") == total("de") && kept("zh") == total("zh"))
  }

  test("embed centroids cover labels x dims with consistent counts") {
    val c = Ann.embedCentroids(spark, sfDir)
    val labels = Tables.embeddings(spark, sfDir).select("label").distinct().count()
    assert(c.count() == labels * Ann.Dim)
    // every (label, pos) group counts the same vectors as the label itself
    val bad = c.join(
      Tables.embeddings(spark, sfDir).groupBy("label").count(),
      Seq("label")).filter(col("n_vecs") =!= col("count")).count()
    assert(bad == 0)
  }

  test("pii redaction scrubs emails, phones and IPs; clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact Bob.Smith+x@corp-mail.co.uk or call +1 (415) 555-0133 now"),
      (2L, "server at 10.0.255.7 and 192.168.1.1 rebooted"),
      (3L, "plain text with no pii at all"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextOps.redactPiiOn(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 1 && out(1L).getLong(3) == 1) // email + phone
    val red1 = out(1L).getString(4)
    assert(red1.contains("<EMAIL>") && red1.contains("<PHONE>") &&
      !red1.contains("@") && !red1.contains("555"))
    assert(out(2L).getLong(2) == 2 && out(2L).getString(4).contains("<IP>") &&
      !out(2L).getString(4).contains("10.0.255.7"))
    assert(out(3L).getString(4) == "plain text with no pii at all" &&
      out(3L).getLong(1) == 0 && out(3L).getLong(2) == 0 && out(3L).getLong(3) == 0)
    assert(out(4L).getString(4) == "") // null text → empty, not null
  }

  test("repetition signals: exact on a hand case, bounded on the corpus") {
    val r = TextOps.textRepetition(spark, sfDir)
    val docs = Tables.documents(spark, sfDir).count()
    assert(r.count() == docs)
    // n_bigrams == max(n_tokens - 1, 0) for every doc
    assert(r.filter(col("n_bigrams") =!=
      greatest(col("n_tokens") - 1, lit(0L))).count() == 0)
    assert(r.filter(col("top_bigram_frac") < 0 || col("top_bigram_frac") > 1 ||
      col("dup_bigram_frac") < 0 || col("dup_bigram_frac") > 1).count() == 0)
    // a duplicated top bigram's instances are all duplicated instances
    assert(r.filter(col("top_bigram_n") > 1 &&
      col("dup_bigram_n") < col("top_bigram_n")).count() == 0)
    // hand-check one doc against a Scala recompute
    val row = r.filter(col("doc_id") === 1).head
    val text = Tables.documents(spark, sfDir).filter(col("doc_id") === 1)
      .head.getAs[String]("text")
    val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
    val bgs = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    val counts = bgs.groupBy(identity).view.mapValues(_.size)
    assert(row.getAs[Long]("n_bigrams") == bgs.size)
    assert(row.getAs[Long]("top_bigram_n") == (if (bgs.isEmpty) 0 else counts.values.max))
    assert(row.getAs[Long]("dup_bigram_n") == counts.values.filter(_ > 1).sum)
  }

  test("sequence packing: chunk arithmetic consistent within every shard") {
    val p = Packing.packSequences(spark, sfDir).collect()
    assert(p.length == Tables.documents(spark, sfDir).count())
    assert(p.forall(r => r.getAs[Long]("seq_offset") >= 0 &&
      r.getAs[Long]("seq_offset") < Packing.PackBudget))
    // recompute the running layout per shard in Scala
    p.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("seq_id") == cum / Packing.PackBudget)
        assert(r.getAs[Long]("seq_offset") == cum % Packing.PackBudget)
        cum += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("ann_int8: quantized ranking recalls the float brute-force neighbors") {
    val bf = Ann.annBruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q8 = Ann.annInt8(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Checkpoints.releaseAll()
    assert(q8.size == bf.size)
    // int8 symmetric quantization preserves neighborhoods: on the uniform
    // testdata corpus the top-5 overlap stays high (exact agreement isn't
    // expected — scores quantize to ~1/127 grid)
    val overlap = (bf intersect q8).size.toDouble / bf.size
    info(f"int8 vs float top-5 overlap: $overlap%.3f")
    assert(overlap >= 0.6, f"quantized recall collapsed: $overlap%.3f")
  }

  test("sample_exact_n: exactly N docs, the md5-minimal ones, deterministic") {
    val got = Sampling.sampleExactN(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id")).toSeq.sorted
    assert(got.size == Sampling.ExactSampleN)
    // brute-force: the N smallest md5 draws over all docs
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(id: Long): String =
      md.digest(s"exact:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getLong(0)).sortBy(id => (draw(id), id))
      .take(Sampling.ExactSampleN).sorted.toSeq
    assert(got == want)
    // retry-stability: a second run picks the identical set
    val again = Sampling.sampleExactN(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id")).toSeq.sorted
    assert(again == got)
  }

  test("document chunking matches a brute-force re-chunk of every document") {
    val out = Packing.chunkDocuments(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
    assert(docs.nonEmpty)
    val size = Packing.ChunkSize.toInt; val stride = Packing.ChunkStride.toInt
    docs.foreach { d =>
      val id = d.getLong(0)
      val toks = "\\S+".r.findAllIn(d.getString(1)).toVector
      val n = toks.size
      val nChunks = if (n <= size) 1 else 1 + ((n - size + stride - 1) / stride)
      val rows = out(id).sortBy(_.getAs[Long]("chunk_idx"))
      assert(rows.length == nChunks, s"doc $id chunk count")
      rows.zipWithIndex.foreach { case (r, i) =>
        val expect = toks.slice(i * stride, math.min(i * stride + size, n))
        assert(r.getAs[String]("chunk_text") == expect.mkString(" "), s"doc $id chunk $i")
        assert(r.getAs[Long]("chunk_tokens") == expect.size.toLong)
      }
      // windows cover the whole token stream (no token falls between chunks)
      assert((nChunks - 1) * stride + size >= n)
    }
  }

  test("dedup components: edges connected, one keeper per component, converged") {
    val comp = Dedup.dedupComponents(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Checkpoints.releaseAll()
    val pairs = Dedup.dedupMinhash(spark, sfDir).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    Checkpoints.releaseAll()
    assert(pairs.nonEmpty && comp.nonEmpty)
    // both endpoints of every near-dup edge share a component (converged —
    // a non-fixpoint labeling would leave some edge straddling two labels)
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b), s"edge ($a,$b) split") }
    // the component label is the minimum member id = exactly one keeper
    comp.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl, s"component $lbl label isn't min member")
      assert(members.count(_._1 == lbl) == 1)
    }
  }

  test("decontamination flags exactly the docs sharing a shingle with the benchmark") {
    val out = Dedup.decontaminate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    Checkpoints.releaseAll()
    // no benchmark doc appears in the output; flag == (n_hits > 0)
    assert(out.keys.forall(_ % 50 != 0))
    assert(out.values.forall { case (n, c) => c == (n > 0) && n >= 0 })
    // recompute one doc by hand: distinct 3-gram overlap with the benchmark
    def shingleSet(text: String): Set[String] = {
      val t = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
      t.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    }
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val benchShingles = texts.filter(_._1 % 50 == 0).values.flatMap(shingleSet).toSet
    val probe = texts.keys.filter(_ % 50 != 0).min
    val expect = shingleSet(texts(probe)).count(benchShingles.contains)
    assert(out(probe)._1 == expect, s"doc $probe: got ${out(probe)._1}, want $expect")
  }

  test("best-rep picks the max-quality member of every component") {
    val comp = Dedup.dedupComponents(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    Checkpoints.releaseAll()
    val quality = TextOps.textQuality(spark, sfDir)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val reps = Dedup.dedupBestRep(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    Checkpoints.releaseAll()
    val byComp = comp.groupBy(_._2)
    assert(reps.keySet == byComp.keySet)
    byComp.foreach { case (cid, members) =>
      val want = members.map(_._1).minBy(d => (-quality(d), d))
      val (bestDoc, bestQ, n) = reps(cid)
      assert(bestDoc == want, s"component $cid picked $bestDoc, want $want")
      assert(bestQ == quality(want) && n == members.length)
    }
  }

  test("bloom decontamination equals exact and actually probes a bloom filter") {
    val exact = Dedup.decontaminate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    Checkpoints.releaseAll()
    val viaBloom = Dedup.decontaminateBloom(spark, sfDir)
    // the sketch probe is in the plan (pre-filter really runs) ...
    val plan = viaBloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") || plan.contains("graft_bloom_contains"),
      plan.take(800))
    // ... and no false negative / surviving false positive: output identical
    val got = viaBloom.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    Checkpoints.releaseAll()
    assert(got == exact)
    // the probe itself admits members and rejects most non-members
    import graft.functions.BloomOps
    val df = spark.range(1000).select(xxhash64(col("id")).as("hl"))
    val bf = df.filter(col("hl") % 2 === 0)
      .agg(BloomOps.bloomAgg(col("hl"), 1000L, 16000L).as("bf"))
    val probed = df
      .select(col("hl"), BloomOps.bloomContains(bf.scalar(), col("hl")).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    assert(probed.filter(_._1 % 2 == 0).forall(_._2), "bloom dropped a member")
    val nonMembers = probed.filter(_._1 % 2 != 0)
    assert(nonMembers.count(_._2) < nonMembers.length / 4,
      "bloom passes too many non-members to prune anything")
  }

  test("corpus_clean survivors pass every stage filter") {
    import graft.llm.Corpus
    val kept = Corpus.corpusClean(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    Checkpoints.releaseAll()
    assert(kept.nonEmpty)
    assert(kept.values.forall(_ >= Corpus.QualityFloor))
    val exactKeepers = Dedup.dedupExact(spark, sfDir)
      .select("keeper_id").collect().map(_.getLong(0)).toSet
    val ccDropped = Dedup.dedupComponents(spark, sfDir)
      .filter(!col("is_keeper")).select("doc_id").collect().map(_.getLong(0)).toSet
    Checkpoints.releaseAll()
    val contaminated = Dedup.decontaminate(spark, sfDir)
      .filter(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    Checkpoints.releaseAll()
    kept.keys.foreach { id =>
      assert(exactKeepers(id), s"$id is not an exact-dedup keeper")
      assert(!ccDropped(id), s"$id is a dropped near-dup cluster member")
      assert(!contaminated(id), s"$id is contaminated")
    }
    // and the filter is not vacuous: something was actually dropped
    assert(kept.size < Tables.documents(spark, sfDir).count())
  }

  test("corpus report agrees with the per-doc operators it summarizes") {
    import graft.llm.Corpus
    val meta = Tables.documents(spark, sfDir).select("doc_id", "source", "lang")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val q = TextOps.textQuality(spark, sfDir).select("doc_id", "quality_score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val t = TextOps.textTokens(spark, sfDir).select("doc_id", "n_bpe_tokens")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Corpus.corpusReport(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    val groups = meta.keys.groupBy(meta)
    assert(got.keySet == groups.keySet)
    groups.foreach { case (key, ids0) =>
      val ids = ids0.toSeq
      val (nDocs, totTok, meanQ, medTok) = got(key)
      assert(nDocs == ids.size)
      assert(totTok == ids.map(t(_).toLong).sum)
      // inline quality == text_quality's (micro-rounded, exact-int mean)
      val wantMean = ids.map(d => math.round(q(d) * 1e6)).sum.toDouble / (ids.size * 1e6)
      assert(meanQ == wantMean, s"$key mean: $meanQ vs $wantMean")
      // type-1 median on (tokens, doc_id) order
      val sorted = ids.sortBy(d => (t(d), d))
      assert(medTok == t(sorted((ids.size - 1) / 2)).toLong)
    }
  }

  test("embed_reduce: coordinates match a driver-side sign-matrix projection") {
    import graft.llm.Ann
    def sign(j: Int, d: Int): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if ((Integer.parseInt(hex.substring(0, 1), 16) & 1) == 1) 1 else -1
    }
    val emb = Tables.embeddings(spark, sfDir).orderBy("vec_id").limit(3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    val got = Ann.embedReduce(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (0 until Ann.ReduceDims).map(k => r.getDouble(k + 1)))
      .toMap
    val scale = math.sqrt(Ann.ReduceDims.toDouble)
    emb.foreach { case (id, v) =>
      (0 until Ann.ReduceDims).foreach { k =>
        var proj = 0.0
        (0 until Ann.Dim).foreach { d =>
          proj += v(d).toDouble * sign(Ann.ReducePlaneBase + k, d)
        }
        val want = BigDecimal(proj / scale)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(got(id)(k) == want, s"vec $id coord $k")
      }
    }
    // and the reduction plan is a pure projection: no exchange beyond the
    // optional narrow-scan spread, no join, no aggregate
    val p = Ann.embedReduce(spark, sfDir).queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p.take(400))
  }

  test("quality tiers: rank-free global deciles match a driver-side sort") {
    import graft.llm.Corpus
    val got = Corpus.qualityTiers(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val q = TextOps.textQuality(spark, sfDir).select("doc_id", "quality_score")
      .collect().map(r => r.getLong(0) -> math.round(r.getDouble(1) * 10000)).toMap
    assert(got.keySet == q.keySet)
    // tier(v) = tier of the value's FIRST global rank (documented policy)
    val n = q.size
    val sorted = q.values.toSeq.sorted
    val firstRankBefore = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2).min }
    got.foreach { case (d, (q4, tier)) =>
      assert(q4 == q(d), s"doc $d quantized score")
      val want = math.min(Corpus.QualityTiers,
        firstRankBefore(q4) * Corpus.QualityTiers / n + 1)
      assert(tier == want, s"doc $d: tier $tier, want $want")
    }
    // every tier is populated on the testdata and sizes are ~balanced
    val sizes = got.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet == (1L to Corpus.QualityTiers).toSet, sizes.toString)
  }

  test("top_docs takes the global quality top-N without a global sort") {
    import graft.llm.Corpus
    val df = Corpus.topDocs(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(got.length == Corpus.TopDocs)
    // matches a driver-side sort of the per-doc operator's scores
    val want = TextOps.textQuality(spark, sfDir).select("doc_id", "quality_score")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (d, s) => (-s, d) }.take(Corpus.TopDocs)
    assert(got.toSeq == want.toSeq)
  }

  test("tfidf returns top-3 per doc, ranked by rounded score then term") {
    val t = TextOps.textTfidf(spark, sfDir)
    val perDoc = t.groupBy("doc_id").count()
    assert(perDoc.filter(col("count") > 3).count() == 0)
    assert(t.filter(col("rk") < 1 || col("rk") > 3).count() == 0)
    assert(t.filter(col("df") < 1 || col("tf") < 1).count() == 0)
    // rank 1 has the max rounded score within its doc
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
    val viol = t.withColumn("mx", max(col("tfidf")).over(w))
      .filter(col("rk") === 1 && col("tfidf") =!= col("mx")).count()
    assert(viol == 0)
  }

  test("dedup_incremental covers every batch doc and agrees with full minhash dedup") {
    val m = Dedup.IncrementalBatchMod
    val inc = Dedup.dedupIncremental(spark, sfDir)
    val batchN = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % m === 0).count()
    assert(inc.count() == batchN)
    assert(inc.filter((col("n_index_dups") === 0) =!= col("is_new")).count() == 0)
    // the probe must reach the same verdicts as running the FULL corpus
    // near-dedup and asking which batch docs have an index-side partner
    val pairs = Dedup.dedupMinhash(spark, sfDir)
    val fromFull = pairs.select(col("doc_a").as("x"), col("doc_b").as("y"))
      .union(pairs.select(col("doc_b").as("x"), col("doc_a").as("y")))
      .filter(col("x") % m === 0 && col("y") % m =!= 0)
      .select(col("x").as("doc_id")).distinct()
    val nonNew = inc.filter(!col("is_new")).select("doc_id")
    assert(nonNew.exceptAll(fromFull).count() == 0)
    assert(fromFull.exceptAll(nonNew).count() == 0)
    Checkpoints.releaseAll()
  }

  test("sample_cap_domain: salted two-phase rank equals the single-window semantics") {
    val r = Sampling.sampleCapDomain(spark, sfDir)
    assert(r.groupBy("source").count()
      .filter(col("count") > Sampling.CapPerSource).count() == 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    val naive = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= Sampling.CapPerSource)
    assert(r.exceptAll(naive).count() == 0 && naive.exceptAll(r).count() == 0)
  }

  test("dedup_spans: cross-doc only, occurrence counts consistent, non-vacuous") {
    val spans = Dedup.dedupSpans(spark, sfDir)
    assert(spans.filter(col("n_docs") < 2).count() == 0)
    assert(spans.filter(col("n_occurrences") < col("n_docs")).count() == 0)
    assert(spans.count() > 0, "testdata contains repeated spans; zero is a regression")
    // hand case through the operator itself: a 12-token run shared verbatim
    // by two docs is the single surfaced span, attributed to the smaller id
    import spark.implicits._
    val run = (1 to Dedup.SpanWindow).map(i => s"tok$i").mkString(" ")
    val docs = Seq((10L, s"prefix $run"), (20L, s"$run suffix"), (30L, "unrelated text"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.llm.TextOps.toks(col("text")).as("toks"))
    val shared = Dedup.dedupSpansOn(docs).collect()
    assert(shared.length == 1)
    assert(shared.head.getLong(1) == 2L)  // n_docs
    assert(shared.head.getLong(2) == 2L)  // n_occurrences
    assert(shared.head.getLong(3) == 10L) // first_doc
    Checkpoints.releaseAll()
  }

  test("dedup_rewrite: hand-built removals + full brute force on testdata") {
    import spark.implicits._
    val W = Dedup.SpanWidths.min // r13: the rewrite removes >=8-token repeats
    val run = (1 to W).map(i => s"tok$i").mkString(" ")
    // doc 10/20 share the W-token run (removed from BOTH, context kept);
    // doc 30 untouched; doc 40 too short to ever match
    val docs = Seq(
      (10L, s"alpha $run omega"), (20L, s"$run tail"),
      (30L, "unrelated text entirely"), (40L, "short")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), graft.llm.TextOps.toks(col("text")).as("toks"))
    val out = Dedup.dedupRewriteOn(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text")))).toMap
    Checkpoints.releaseAll()
    assert(out(10L) === ((W + 2L, W.toLong, "alpha omega")))
    assert(out(20L) === ((W + 1L, W.toLong, "tail")))
    assert(out(30L) === ((3L, 0L, "unrelated text entirely")))
    assert(out(40L) === ((1L, 0L, "short")))

    // brute force over the real corpus: recompute coverage driver-side
    val real = Dedup.dedupRewrite(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
    Checkpoints.releaseAll()
    val toksOf = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        "[a-z0-9]+".r.findAllIn(Option(r.getString(1)).getOrElse("").toLowerCase).toVector)
      .toMap
    val spanDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    toksOf.foreach { case (id, ts) =>
      ts.sliding(W).filter(_.length == W).map(_.mkString(" ")).foreach { s =>
        spanDocs.getOrElseUpdate(s, scala.collection.mutable.Set.empty) += id
      }
    }
    val repeated = spanDocs.collect { case (s, ds) if ds.size >= 2 => s }.toSet
    var removedSomething = false
    toksOf.foreach { case (id, ts) =>
      val covered = ts.sliding(W).zipWithIndex.collect {
        case (win, i) if win.length == W && repeated(win.mkString(" ")) =>
          i until (i + W)
      }.flatten.toSet
      val kept = ts.zipWithIndex.collect { case (t, i) if !covered(i) => t }
      if (covered.nonEmpty) removedSomething = true
      assert(real(id) === ((covered.size.toLong, kept.mkString(" "))), s"doc $id")
    }
    assert(removedSomething, "testdata has repeated spans; rewrite must fire")
  }

  test("embed_kmeans: total assignment, consistent sizes, same cells as IVF") {
    val k = Ann.embedKmeans(spark, sfDir)
    val n = Tables.embeddings(spark, sfDir).count()
    // every vector assigned exactly once
    assert(k.count() == n)
    assert(k.select("vec_id").distinct().count() == n)
    // sizes are consistent: sum of per-cluster size over distinct clusters = n
    val szSum = k.select("cluster", "cluster_size").distinct()
      .agg(sum("cluster_size")).head.getLong(0)
    assert(szSum == n)
    // the assignment is the IVF cell assignment (shared machinery)
    val ivfCells = Ann.ivfRanked(spark, sfDir).filter(col("rn") === 1)
      .select(col("vec_id"), col("cell").as("cluster"))
    assert(k.select("vec_id", "cluster").exceptAll(ivfCells).count() == 0)
    Checkpoints.releaseAll()
  }

  test("dedup_semantic: full coverage, anchors are lower-id same-cluster, non-vacuous") {
    val r = Ann.dedupSemantic(spark, sfDir)
      .selectExpr("vec_id", "cast(cluster as long) cluster", "dup_of", "is_kept")
    val rows = r.collect().map(x =>
      (x.getLong(0), x.getLong(1), if (x.isNullAt(2)) -1L else x.getLong(2),
        x.getBoolean(3)))
    Checkpoints.releaseAll()
    val nVecs = Tables.embeddings(spark, sfDir).count()
    assert(rows.length == nVecs, "one verdict per vector")
    val byId = rows.map(x => x._1 -> x).toMap
    rows.filter(!_._4).foreach { case (vid, cluster, dupOf, _) =>
      assert(dupOf >= 0 && dupOf < vid, s"anchor must be a lower id: $vid -> $dupOf")
      assert(byId(dupOf)._2 == cluster, s"anchor in another cluster: $vid -> $dupOf")
    }
    rows.filter(_._4).foreach { case (vid, _, dupOf, _) =>
      assert(dupOf == -1L, s"kept vector with an anchor: $vid")
    }
    // the permissive threshold must actually bite on this corpus — a
    // vacuously all-kept output would not test the pair join at all
    assert(rows.exists(!_._4), "expected at least one semantic duplicate")
    assert(rows.exists(_._4), "expected at least one kept vector")
  }

  test("text_lm_score: full coverage; corpus-typical text outscores rare-bigram text") {
    import spark.implicits._
    val full = TextOps.textLmScore(spark, sfDir)
    assert(full.count() == Tables.documents(spark, sfDir).count())
    assert(full.filter(col("n_bigrams") > 0 && col("typicality") <= 0).count() == 0)
    // hand corpus: "the cat sat" patterns dominate, so a doc reusing those
    // bigrams must outscore a doc of bigrams seen nowhere else
    val docs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the cat sat on the hat"),
      (3L, "the bat sat on the cat"), (4L, "xqzj vwkp fyhg")
    ).toDF("doc_id", "text")
    val scored = TextOps.textLmScoreOf(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored(1) > scored(4),
      s"typical ${scored(1)} must beat gibberish ${scored(4)}")
    assert(scored(2) > scored(4) && scored(3) > scored(4))
  }

  test("dedup_semantic equals a driver-side brute force on the clustered corpus") {
    import spark.implicits._
    // semantics check independent of the DuckDB oracle: within each
    // engine-assigned cell, a vector's anchor must be exactly the MIN
    // lower-id cell-mate at cosine >= threshold (computed driver-side)
    val vdf = clusteredCorpus.toDF("vec_id", "embedding")
    val asg = Ann.ivfRankedOf(vdf, refined = true).filter(col("rn") === 1)
      .selectExpr("vec_id", "cast(cell as long) cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emb = clusteredCorpus.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
      dot / (math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x)) *
        math.sqrt(b.foldLeft(0.0)((s, x) => s + x.toDouble * x)))
    }
    val want = clusteredCorpus.map { case (id, v) =>
      val anchors = clusteredCorpus.collect {
        case (oid, ov) if oid < id && asg(oid) == asg(id) &&
          cos(ov, v) >= Ann.SemDedupCos => oid
      }
      id -> (if (anchors.isEmpty) -1L else anchors.min)
    }.toMap
    val got = Ann.dedupSemanticOf(vdf).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    Checkpoints.releaseAll()
    assert(got.size == want.size)
    val diffs = want.collect { case (id, w) if got(id) != w => (id, w, got(id)) }
    assert(diffs.isEmpty, s"anchor mismatches (id, want, got): ${diffs.take(5)}")
    assert(want.valuesIterator.count(_ >= 0) > 0, "clustered corpus must have dups")
  }

  test("split_holdout: total cover, deterministic, near-dup clusters never straddle splits") {
    val s = llm.Sampling.splitHoldout(spark, sfDir)
    val rows = s.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    Checkpoints.releaseAll()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    rows.foreach { case (_, b, sp) =>
      val want = if (b < llm.Sampling.SplitTrainPct) "train"
        else if (b < llm.Sampling.SplitTrainPct + llm.Sampling.SplitValPct) "val"
        else "test"
      assert(sp == want)
    }
    // the leakage guarantee: every near-dup component is split-pure
    val bySplit = rows.map(r => r._1 -> r._3).toMap
    val comps = llm.Dedup.dedupComponents(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    Checkpoints.releaseAll()
    comps.groupBy(_._2).foreach { case (cid, members) =>
      val splits = members.map(m => bySplit(m._1)).distinct
      assert(splits.length == 1, s"component $cid straddles splits: $splits")
    }
    assert(rows.map(_._3).distinct.length >= 2, "expected more than one split bucket")
  }

  test("corpus_mixture: integer keep rates, over-represented language downsampled") {
    val r = Sampling.corpusMixture(spark, sfDir)
    // the filter is exactly bucket < rate
    assert(r.filter(col("bucket") >= col("keep_rate_pct")).count() == 0)
    val rates = r.select("lang", "keep_rate_pct").distinct().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(rates.values.forall(v => v >= 0 && v <= 100))
    // en holds ~37% of tokens vs a 30% target → must be cut below 100%
    assert(rates("en") < 100)
    // under-represented langs are NOT upsampled (cap at keep-everything)
    assert(rates.exists(_._2 == 100L))
  }

  test("embed_quantize: codes bounded, reconstruction within half a step") {
    import spark.implicits._
    val q = Ann.embedQuantize(spark, sfDir)
    val joined = Tables.embeddings(spark, sfDir)
      .join(q, "vec_id")
      .select(col("vec_id"), col("scale"),
        array_max(zip_with(col("embedding"), col("q"),
          (x, qi) => abs(x.cast("double") - qi * col("scale")))).as("max_err"),
        array_max(transform(col("q"), c => abs(c))).as("max_code"))
    val bad = joined.filter(col("max_err") > col("scale") * 0.5 + 1e-12 ||
      col("max_code") > 127).count()
    assert(bad === 0)
    assert(q.filter(col("nnz") <= 0).count() === 0)
  }

  test("embed_norm: l2 matches a brute-force fold, unit norm 1, zero guard") {
    val n = Ann.embedNorm(spark, sfDir)
    val joined = Tables.embeddings(spark, sfDir).join(n, "vec_id")
      .select(col("vec_id"), col("l2_norm"),
        // same left-to-right fold restated via the HOF route — must agree
        // with the native VecDot-backed norm to the last bit
        abs(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))) - col("l2_norm"))
          .as("l2_err"),
        aggregate(col("unit"), lit(0.0), (acc, u) => acc + u * u).as("unit_sq"))
    assert(joined.count() > 0)
    assert(joined.filter(col("l2_err") =!= 0.0).count() === 0,
      "HOF fold and native norm diverged")
    assert(joined.filter(col("l2_norm") > 0 &&
      abs(col("unit_sq") - 1.0) > 1e-9).count() === 0, "unit norm off 1")
    assert(joined.filter(col("l2_norm") === 0 && col("unit_sq") =!= 0.0).count() === 0,
      "zero vector must normalize to zeros")
    // gate form: 64 e9-quantized codes per row, all parseable longs
    val q = Ann.embedNormQuery(spark, sfDir)
    assert(q.filter(size(split(col("unit_e9"), ",")) =!= Ann.Dim).count() === 0)
    assert(q.filter(exists(transform(split(col("unit_e9"), ","),
      s => s.cast("long")), e => e.isNull)).count() === 0)
  }

  test("corpus_temperature: sqrt-flattened rates match a driver-side recomputation") {
    val tokBySrc = Tables.documents(spark, sfDir)
      .select(col("source"), size(regexp_extract_all(col("text"),
        lit("\\S+"), lit(0))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val isq = tokBySrc.map { case (s, t) =>
      s -> math.floor(math.sqrt(t.toDouble) * 1e6).toLong }
    val totT = tokBySrc.values.sum
    val sumIsq = isq.values.sum
    val want = isq.map { case (s, q) =>
      s -> (if (q == 0 || sumIsq == 0) 100L
            else math.min(100L,
              (BigInt(100) * BigInt(totT) * BigInt(1000000000000L) /
                (BigInt(sumIsq) * BigInt(q))).toLong))
    }
    val out = Sampling.corpusTemperature(spark, sfDir)
    val got = out.select("source", "src_toks", "keep_rate_pct").distinct()
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { case (s, (t, rate)) =>
      assert(t === tokBySrc(s))
      assert(rate === want(s), s"source $s: rate $rate vs recomputed ${want(s)}")
    }
    // flattening direction: more tokens can never mean a HIGHER keep rate
    val sorted = got.values.toSeq.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((t1, r1), (t2, r2)) => assert(t2 < t1 || r2 <= r1)
      case _ =>
    }
    // every kept doc's bucket is under its source rate
    assert(out.filter(col("bucket") >= col("keep_rate_pct")).count() === 0)
  }

  test("ann_recall_report agrees with a driver-side set intersection") {
    val exact = Ann.annBruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val approx = Ann.annLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = exact.groupBy(_._1).map { case (q, nbs) =>
      val hit = nbs.count(approx.contains).toLong
      (q, nbs.length.toLong, hit, hit * 10000 / nbs.length)
    }.toSet
    val got = Ann.annRecallReport(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
    assert(got.nonEmpty && got.forall(t => t._4 >= 0 && t._4 <= 10000))
  }

  test("embed_knn_classify recovers labels on a label-separable corpus") {
    import spark.implicits._
    // 3 well-separated prototypes; every vector = its prototype, so each
    // query's 5 nearest neighbors all vote its own label
    val protos = Map(0 -> Array(1f, 0f, 0f), 1 -> Array(0f, 1f, 0f), 2 -> Array(0f, 0f, 1f))
    val v = (0L until 60L).map(i => (i, protos((i % 3).toInt), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val out = Ann.embedKnnClassifyOf(v)
      .select("q_id", "pred_label", "true_label", "votes", "correct")
      .as[(Long, Int, Int, Long, Boolean)].collect()
    assert(out.length === 6) // vec_id ≡ 0 mod 10
    assert(out.forall(_._5), s"misclassified: ${out.filterNot(_._5).toSeq}")
    assert(out.forall(_._4 === 5L), "separable corpus must vote 5-0")
  }

  test("embed_knn_classify on testdata: one verdict per query, votes in [1,5]") {
    val out = Ann.embedKnnClassify(spark, sfDir)
    assert(out.groupBy("q_id").count().filter(col("count") =!= 1).count() === 0)
    assert(out.filter(col("votes") < 1 || col("votes") > Ann.KnnK).count() === 0)
  }

  test("contamination_frac agrees with binary decontaminate") {
    val frac = Dedup.contaminationFrac(spark, sfDir)
      .select(col("doc_id"), col("n_hits").as("h_frac"), col("frac_bp"))
    val bin = Dedup.decontaminate(spark, sfDir)
      .select(col("doc_id"), col("n_hits").as("h_bin"), col("contaminated"))
    val j = frac.join(bin, Seq("doc_id"), "full")
    assert(j.filter(col("h_frac").isNull || col("h_bin").isNull).count() === 0)
    assert(j.filter(col("h_frac") =!= col("h_bin")).count() === 0)
    assert(j.filter(col("frac_bp") > 0 && !col("contaminated")).count() === 0)
    // basis points stay in [0, 10000]
    assert(frac.filter(col("frac_bp") < 0 || col("frac_bp") > 10000).count() === 0)
  }

  test("dedup_jaccard_prefix equals D4 exactly and indexes strictly fewer rows") {
    val full = Dedup.dedupNgramJaccard(spark, sfDir)
    val pref = Dedup.dedupJaccardPrefix(spark, sfDir)
    assert(pref.exceptAll(full).count() === 0)
    assert(full.exceptAll(pref).count() === 0)
    // the prefix index is a strict subset of D4's full inverted index
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(array_distinct(TextOps.shingles(TextOps.toks(col("text"))))).as("n"))
      .filter(col("n") > 0)
    val fullIndexRows = toks.agg(sum("n")).head.getLong(0)
    val prefixIndexRows = toks
      .select((col("n") - expr("(3 * n + 9) div 10") + 1).as("p"))
      .agg(sum("p")).head.getLong(0)
    assert(prefixIndexRows < fullIndexRows,
      s"prefix $prefixIndexRows !< full $fullIndexRows")
    Checkpoints.releaseAll()
  }

  test("dedup_edit_distance equals brute-force levenshtein join on mutated strings") {
    // deterministic corpus engineered around the K=4 boundary: a base pool
    // plus per-base mutants at 1..6 edits (substitutions, inserts, deletes),
    // so both sides of the ≤4 threshold and every edit kind are exercised
    val rnd = new scala.util.Random(20260813L)
    val alpha = "abcdefgh"
    def randStr(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (1 to edits).foreach { _ =>
        val i = rnd.nextInt(math.max(cur.length, 1))
        rnd.nextInt(3) match {
          case 0 if cur.nonEmpty => cur = cur.updated(i, alpha(rnd.nextInt(alpha.length)))
          case 1 => cur = cur.substring(0, i) + alpha(rnd.nextInt(alpha.length)) + cur.substring(i)
          case _ if cur.nonEmpty => cur = cur.substring(0, i) + cur.substring(math.min(i + 1, cur.length))
          case _ => cur = randStr(1)
        }
      }
      cur
    }
    val bases = (0 until 12).map(i => (i.toLong * 100, randStr(8 + rnd.nextInt(40))))
    val mutants = bases.flatMap { case (id, s) =>
      (1 to 6).map(e => (id + e, mutate(s, e)))
    }
    val all = (bases ++ mutants) :+ (9999L, "") // empty text must not throw
    import spark.implicits._
    val df = all.toDF("doc_id", "text")
    val got = Dedup.dedupEditDistanceOf(df)
      .as[(Long, Long, Long)].collect().toSet
    // literal brute force over all pairs
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j => i + j))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val want = (for {
      (ia, ta) <- all; (ib, tb) <- all if ia < ib
      d = lev(ta, tb) if d <= Dedup.EditK
    } yield (ia, ib, d.toLong)).toSet
    assert(want.nonEmpty && want.exists(_._3 > 0), "test corpus must span the threshold")
    assert(got === want)
    Checkpoints.releaseAll()
  }

  test("dedup_edit_distance on testdata: symmetric-free ordered pairs within K") {
    val r = Dedup.dedupEditDistance(spark, sfDir)
    assert(r.filter(col("doc_a") >= col("doc_b")).count() === 0)
    assert(r.filter(col("dist") > Dedup.EditK).count() === 0)
    Checkpoints.releaseAll()
  }

  test("source_overlap: ordered pairs, shared bounded by the smaller side") {
    import graft.llm.Corpus
    val o = Corpus.sourceOverlap(spark, sfDir)
    assert(o.filter(col("source_a") >= col("source_b")).count() === 0)
    assert(o.filter(col("n_shared") > least(col("n_a"), col("n_b"))).count() === 0)
    assert(o.filter(col("overlap_bp") < 0 || col("overlap_bp") > 10000).count() === 0)
    // the synthetic corpus shares vocabulary across sources — non-vacuous
    assert(o.filter(col("n_shared") > 0).count() > 0)
  }

  test("text_ngram_freq: descending counts, shingles actually occur") {
    import spark.implicits._
    val top = TextOps.textNgramFreq(spark, sfDir)
      .as[(String, Long)].collect().toSeq
    assert(top.nonEmpty && top.size <= TextOps.NgramFreqTopN)
    assert(top.map(_._2) === top.map(_._2).sorted.reverse)
    assert(top.forall(_._2 >= 1))
    assert(top.forall(_._1.split(" ").length === 3), "word-3-gram shape")
  }

  test("importance weights match a full driver-side recomputation exactly") {
    val out = graft.llm.Sampling.importanceWeights(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("w_sum_nano"),
          r.getAs[Double]("affinity")))).toMap
    Checkpoints.releaseAll()
    val b = graft.llm.Sampling.DsirBuckets
    def bucket(tok: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % b).toInt
    }
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)).getOrElse("")))
    val toksOf = docs.map { case (id, lang, text) =>
      (id, lang, "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq)
    }
    val cr = Array.fill(b)(0L); val ct = Array.fill(b)(0L)
    toksOf.foreach { case (_, lang, ts) => ts.foreach { t =>
      val k = bucket(t); cr(k) += 1; if (lang == "en") ct(k) += 1
    } }
    val totR = cr.sum; val totT = ct.sum
    val w = (0 until b).map(i =>
      ((BigInt(ct(i)) + 1) * (BigInt(totR) + b) * graft.llm.Sampling.DsirNano /
        ((BigInt(cr(i)) + 1) * (BigInt(totT) + b))).toLong)
    toksOf.foreach { case (id, _, ts) =>
      val sumW = ts.map(t => w(bucket(t))).sum
      val exp = (ts.length.toLong, sumW,
        if (ts.nonEmpty) sumW.toDouble / ts.length else 0.0)
      assert(out(id) === exp, s"doc $id")
    }
    // the operator's purpose: target-language docs score higher on average
    val (en, rest) = toksOf.filter(_._3.nonEmpty).partition(_._2 == "en")
    def meanAff(xs: Seq[(Long, String, Seq[String])]) =
      xs.map { case (id, _, _) => out(id)._3 }.sum / xs.length
    assert(meanAff(en.toSeq) > meanAff(rest.toSeq),
      "en docs should carry higher target affinity")
  }

  test("importance sample keeps exactly the docs whose draw clears p∝affinity") {
    val w = graft.llm.Sampling.importanceWeights(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("w_sum_nano")))
    Checkpoints.releaseAll()
    def draw(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"imp:$id".getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    val expectKept = w.collect { case (id, n, sw) if n > 0 &&
      draw(id) < (BigInt(sw) * 10000 /
        (BigInt(n) * graft.llm.Sampling.DsirNano)).min(10000).toLong => id
    }.toSet
    val kept = graft.llm.Sampling.importanceSample(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    Checkpoints.releaseAll()
    assert(kept === expectKept)
    // the sample is non-trivial in both directions on testdata
    assert(kept.nonEmpty && kept.size < w.length)
  }

  test("text novelty matches a driver-side brute force") {
    val out = graft.llm.Corpus.textNovelty(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_sh"), r.getAs[Long]("n_unique"),
          r.getAs[Long]("novelty_bp")))).toMap
    Checkpoints.releaseAll()
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val shOf = docs.map { case (id, text) =>
      val ts = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
      id -> ts.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val df = shOf.valuesIterator.flatten.toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    shOf.foreach { case (id, sh) =>
      val nUnique = sh.count(df(_) == 1).toLong
      val nSh = sh.size.toLong
      val bp = if (nSh > 0) nUnique * 10000 / nSh else 0L
      assert(out(id) === ((nSh, nUnique, bp)), s"doc $id")
    }
    // non-vacuous on testdata: some shingles repeat, some are unique
    assert(out.values.exists(_._3 > 0) && out.values.exists(_._3 < 10000))
  }

  test("text_normalize folds quotes/dashes, strips controls, collapses space") {
    import spark.implicits._
    val docs = Seq(
      (1L, "‘quoted’ “double” – en — em"),
      (2L, "tab\there\nnewline\u0000nul\u007Fdel"),
      (3L, "  already   spaced  "),
      (4L, "untouched text"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextOps.textNormalizeOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(out(1L)._1 == "'quoted' \"double\" - en - em" && out(1L)._3)
    assert(out(2L)._1 == "tab here newline nul del" && out(2L)._3)
    assert(out(3L)._1 == "already spaced" && out(3L)._3)
    assert(out(4L)._1 == "untouched text" && !out(4L)._3)
    assert(out(5L)._1 == "" && out(5L)._2 == 0)
  }

  test("length_buckets partitions the corpus exactly; pad math is per-bucket") {
    val docs = Tables.documents(spark, sfDir).count()
    val out = TextOps.lengthBuckets(spark, sfDir).collect()
    // every doc lands in exactly one bucket
    assert(out.map(_.getLong(1)).sum == docs)
    // brute force: recount tokens driver-side with the same segmentation
    val edges = TextOps.LengthBucketEdges
    val re = "[a-z]+|[0-9]+|[^a-z0-9\\s]".r
    val byBucket = Tables.documents(spark, sfDir).select("text").collect()
      .map(r => Option(r.getString(0)).getOrElse(""))
      .map(t => re.findAllIn(t.toLowerCase).size.toLong)
      .groupBy(n => edges.zip(edges.tail).collectFirst {
        case (e, next) if n >= e && n < next => e }.getOrElse(edges.last))
    val expect = byBucket.view.mapValues { ns =>
      val pads = ns.map { n =>
        edges.zip(edges.tail).collectFirst {
          case (e, next) if n >= e && n < next => next - 1 - n }.getOrElse(0L) }
      (ns.length.toLong, ns.sum, pads.sum)
    }.toMap
    val got = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect)
  }

  test("source_top_ngrams matches brute force per source") {
    val out = graft.llm.Corpus.sourceTopNgrams(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")))
    val tokRe = "[a-z0-9]+".r
    val counts = docs.flatMap { case (src, t) =>
      val toks = tokRe.findAllIn(t.toLowerCase).toVector
      toks.sliding(3).filter(_.size == 3).map(w => (src, w.mkString(" ")))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = counts.groupBy(_._1._1).flatMap { case (src, m) =>
      m.toSeq.map { case ((_, sh), n) => (sh, n) }
        .sortBy { case (sh, n) => (-n, sh) }.take(graft.llm.Corpus.TopNgramsPerSource)
        .zipWithIndex.map { case ((sh, n), i) => (src, sh, n, i + 1L) }
    }.toSet
    assert(out.toSet == expect)
    assert(out.nonEmpty)
  }

  test("bpe_merges matches a driver-side brute force of the top pairs") {
    val out = TextOps.bpeMerges(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val v = TextOps.LmAlphabetSize
    val tokRe = "[a-z0-9]+".r
    def code(c: Char): Int =
      if (c == ' ') 27 else if (c == '0') 26 else c - 'a'
    val counts = Tables.documents(spark, sfDir).select("text").collect()
      .map(r => Option(r.getString(0)).getOrElse(""))
      .map(t => tokRe.findAllIn(t.toLowerCase).mkString(" ").replaceAll("[0-9]", "0"))
      .flatMap(s => s.sliding(2).filter(_.length == 2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = counts.toSeq.map { case (p, n) =>
      (p, n, (code(p(0)) * v + code(p(1))).toLong) }
      .sortBy { case (_, n, slot) => (-n, slot) }.take(TextOps.BpeTopMerges)
    assert(out.toSeq == expect)
    // the corpus's most common pair involves the space separator or 'e'
    assert(out.head._2 > 100)
    Checkpoints.releaseAll()
  }

  test("quality_floor_lang: per-language p10 matches brute-force order stats") {
    val out = graft.llm.Corpus.qualityFloorLang(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    // brute force: per-lang sorted q4 list, p10 = value at ceil(n/10)-th rank
    val byLang = out.values.groupBy(_._1)
    byLang.foreach { case (lang, rows) =>
      val sorted = rows.map(_._2).toSeq.sorted
      val n = sorted.size
      // smallest value whose cumulative count reaches 10%: the element at
      // 1-based rank ceil(n/10)
      val p10 = sorted((n + 9) / 10 - 1)
      rows.foreach { case (_, q4, got, keep) =>
        assert(got == p10, s"$lang p10")
        assert(keep == (q4 >= p10))
      }
      // the floor actually cuts something but not most of the language
      val dropped = rows.count(!_._4)
      assert(dropped < n / 2, s"$lang drops too much")
    }
    assert(byLang.size > 1, "testdata must span languages")
    assert(out.values.exists(!_._4), "some doc must fall below its floor")
  }

  test("embed_dim_stats: one row per dim, brute-force min/max, degeneracy flag") {
    val out = Ann.embedDimStats(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(5)))).toMap
    assert(out.size == Ann.Dim)
    val vecs = Tables.embeddings(spark, sfDir).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    (0 until Ann.Dim).foreach { d =>
      val col = vecs.map(v => v(d).toDouble)
      val (n, mn, mx, degen) = out(d)
      assert(n == vecs.length && mn == col.min && mx == col.max)
      assert(degen == (col.min == col.max))
    }
  }

  test("ann_recall_curve: monotone in breadth, endpoints equal lsh/multiprobe") {
    val curve = Ann.annRecallCurve(spark, sfDir).collect()
      .map(r => r.getAs[Int]("breadth") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"), r.getAs[Long]("recall_bp")))).toMap
    Checkpoints.releaseAll()
    assert(curve.keySet === (0 to Ann.NumPlanes).toSet)
    (1 to Ann.NumPlanes).foreach { b =>
      assert(curve(b)._2 >= curve(b - 1)._2, s"recall dropped at breadth $b")
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "nb_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Ann.annBruteforce(spark, sfDir))
    val lsh = pairs(Ann.annLsh(spark, sfDir))
    val mp = pairs(Ann.annLshMultiprobe(spark, sfDir))
    Checkpoints.releaseAll()
    assert(curve(0)._1 === exact.size.toLong)
    assert(curve(0)._2 === (lsh & exact).size.toLong,
      "breadth 0 must be ann_lsh's recall")
    assert(curve(Ann.NumPlanes)._2 === (mp & exact).size.toLong,
      "full breadth must be ann_lsh_multiprobe's recall")
    // the probe budget is a real lever on this corpus
    assert(curve(Ann.NumPlanes)._2 > curve(0)._2)
  }

  test("quality_lm_agreement matches exact integer recompute from its parts") {
    val out = graft.llm.Corpus.qualityLmAgreement(spark, sfDir).collect()
      .map(r => r.getAs[Long]("tier") -> r).toMap
    Checkpoints.releaseAll()
    val tiers = graft.llm.Corpus.qualityTiers(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("tier"), r.getAs[Long]("q4")))).toMap
    Checkpoints.releaseAll()
    val lm = TextOps.lmDocSums(Tables.documents(spark, sfDir)).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sp")))).toMap
    Checkpoints.releaseAll()
    val byTier = tiers.toSeq.groupBy(_._2._1)
    assert(out.keySet === byTier.keySet)
    byTier.foreach { case (tier, docs) =>
      val nDocs = docs.length.toLong
      val sumQ4 = docs.map(_._2._2).sum
      val sumN = docs.map(d => lm(d._1)._1).sum
      val sumSp = docs.map(d => lm(d._1)._2).sum
      val r = out(tier)
      assert(r.getAs[Long]("n_docs") === nDocs, s"n_docs(t$tier)")
      assert(r.getAs[Long]("mean_q4") === sumQ4 / nDocs, s"mean_q4(t$tier)")
      assert(r.getAs[Long]("n_bigrams") === sumN, s"n_bigrams(t$tier)")
      assert(r.getAs[Long]("typ_nano") ===
        (if (sumN > 0) sumSp / sumN else 0L), s"typ_nano(t$tier)")
    }
  }

  test("pack_sequences_bpe: packs on encode counts, boundaries recomputed exactly") {
    val out = graft.llm.Packing.packSequencesBpe(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Checkpoints.releaseAll()
    // r13: the counter is the byte-level hierarchical tokenizer (BpeHier)
    val counts = graft.llm.BpeHier.encodedCounts(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    Checkpoints.releaseAll()
    assert(out.keySet === counts.keySet)
    // replay the pack: per shard, cumulative sums in doc_id order
    val md = java.security.MessageDigest.getInstance("MD5")
    def shardOf(id: Long): Long = {
      val hex = md.digest(s"$id:pack".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      java.lang.Long.parseLong(hex, 16) % graft.llm.Packing.PackShards
    }
    out.keySet.toSeq.groupBy(shardOf).foreach { case (shard, ids) =>
      var cum = 0L
      ids.sorted.foreach { id =>
        val n = counts(id)
        val r = out(id)
        assert(r.getAs[Long]("shard") === shard, s"shard($id)")
        assert(r.getAs[Long]("n_tokens") === n, s"n_tokens($id)")
        assert(r.getAs[Long]("seq_id") === cum / graft.llm.Packing.PackBudget)
        assert(r.getAs[Long]("seq_offset") === cum % graft.llm.Packing.PackBudget)
        cum += n
      }
    }
    // non-vacuous: the BPE counts genuinely differ from the whitespace
    // proxy, so this is not pack_sequences under a new name
    val ws = graft.llm.Packing.packSequences(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    Checkpoints.releaseAll()
    assert(out.keys.exists(id => counts(id) != ws(id)))
  }

  test("dedup_containment catches the sub-document pair Jaccard misses") {
    import spark.implicits._
    // doc 1 (10 shingles) is 90% contained in doc 2 (100 shingles):
    // containment 0.9 >= 0.8 while Jaccard = 9/101 ~= 0.089 << 0.3
    val small = (1 to 10).map(i => s"s$i")
    val container = (1 to 9).map(i => s"s$i") ++ (1 to 91).map(i => s"t$i")
    val other = (1 to 20).map(i => s"u$i")
    val shingled = Seq(
      (1L, small), (2L, container), (3L, other)
    ).toDF("doc_id", "shingles")
    val out = Dedup.dedupContainmentOfShingled(shingled).collect()
    Checkpoints.releaseAll()
    assert(out.length === 1, "exactly the constructed pair")
    val r = out.head
    assert(r.getAs[Long]("contained_id") === 1L)
    assert(r.getAs[Long]("container_id") === 2L)
    assert(r.getAs[Long]("inter") === 9L)
    assert(r.getAs[Long]("n_contained") === 10L)
    assert(r.getAs[Long]("n_container") === 100L)
    assert(r.getAs[Long]("cont_bp") === 9000L)
  }

  test("dedup_containment on testdata: internally consistent, non-vacuous") {
    val rows = Dedup.dedupContainment(spark, sfDir).collect()
    Checkpoints.releaseAll()
    assert(rows.nonEmpty, "the seeded duplicates must surface")
    rows.foreach { r =>
      val inter = r.getAs[Long]("inter")
      val nc = r.getAs[Long]("n_contained")
      val nb = r.getAs[Long]("n_container")
      assert(r.getAs[Long]("cont_bp") >= Dedup.ContainBp)
      assert(r.getAs[Long]("cont_bp") === 10000L * inter / nc)
      assert(inter <= nc && nc <= nb)
      assert(r.getAs[Long]("contained_id") !== r.getAs[Long]("container_id"))
    }
  }

  test("dedup_rate_curve matches a driver recompute and is threshold-monotone") {
    val out = Dedup.dedupRateCurve(spark, sfDir).collect()
      .map(r => r.getAs[Int]("threshold_bp") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_dropped"),
          r.getAs[Long]("n_docs"), r.getAs[Long]("drop_bp"))).toMap
    // driver recompute from the SAME pair semantics (exact integer bp)
    val pairs = Dedup.dedupNgramJaccard(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    Checkpoints.releaseAll()
    val nDocs = out.values.head._3
    assert(out.keySet === Dedup.CurveThresholds.toSet)
    Dedup.CurveThresholds.foreach { t =>
      // D4's pairs carry exact jaccard; integer bp floors it, so recompute
      // via the integer identity: sim_bp >= t  <=>  10000*inter >= t*union
      val q = pairs.filter { case (_, _, inter, j) =>
        val union = math.round(inter / j) // exact: j = inter/union
        10000L * inter >= t.toLong * union
      }
      val (np, nd, _, bp) = out(t)
      assert(np === q.length.toLong, s"n_pairs($t)")
      assert(nd === q.map(_._2).distinct.length.toLong, s"n_docs_dropped($t)")
      assert(bp === (if (nDocs == 0) 0L else 10000L * nd / nDocs))
    }
    // monotone: raising the threshold never qualifies more pairs or docs
    Dedup.CurveThresholds.sliding(2).foreach {
      case Seq(a, b) =>
        assert(out(a)._1 >= out(b)._1 && out(a)._2 >= out(b)._2)
      case _ =>
    }
    // non-vacuous: the seeded near-dups qualify somewhere on the curve
    assert(out(Dedup.CurveThresholds.head)._1 > 0)
  }

  test("sample_diverse: per-cluster argmax/argmin roles match a driver recompute") {
    val asg = graft.llm.Ann.ivfRanked(spark, sfDir).filter(col("rn") === 1)
      .select(col("cell"), col("vec_id"),
        floor((col("ccos") + lit(1d)) * lit(10000d)).cast("bigint"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val out = graft.llm.Ann.sampleDiverse(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[String]("role")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Long]("cos_e4"), r.getAs[Long]("cluster_size")))
      .toMap
    Checkpoints.releaseAll()
    val byCell = asg.groupBy(_._1)
    assert(byCell.nonEmpty)
    byCell.foreach { case (cell, ms) =>
      val proto = ms.minBy(m => (-m._3, m._2))
      val fringe = ms.minBy(m => (m._3, m._2))
      val p = out((cell, "proto"))
      assert(p._1 === proto._2 && p._2 === proto._3 - 10000L)
      assert(p._3 === ms.length.toLong)
      if (fringe._2 != proto._2) {
        val f = out((cell, "fringe"))
        assert(f._1 === fringe._2 && f._2 === fringe._3 - 10000L)
        assert(f._2 <= p._2, "fringe must not out-center the prototype")
      } else assert(!out.contains((cell, "fringe")))
    }
    // the core-set is genuinely small: ≤ 2 rows per cell
    assert(out.size <= 2 * byCell.size)
  }

  test("bpe_coverage: counts match a driver-side replay of the merge fold") {
    val merges = graft.llm.TextOps.bpeMerges(spark, sfDir)
      .select(col("pair")).collect().map(_.getString(0))
    assert(merges.nonEmpty)
    // normalized text from the SAME expression the operator folds over
    val normed = Tables.documents(spark, sfDir)
      .select(coalesce(col("source"), lit("")),
        graft.llm.TextOps.lmNorm(col("text")))
      .collect().map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")))
    val perSource = normed.groupBy(_._1).map { case (src, docs) =>
      var toks = 0L; var merged = 0L; var chars = 0L
      docs.foreach { case (_, s0) =>
        chars += s0.length
        val s = merges.zipWithIndex.foldLeft(s0) { case (acc, (p, i)) =>
          acc.replace(p, (65 + i).toChar.toString)
        }
        toks += s.length
        merged += s.count(c => c >= 'A' && c <= 'Z')
      }
      src -> (docs.length.toLong, toks, merged, chars)
    }
    val out = graft.llm.TextOps.bpeCoverage(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out.keySet === perSource.keySet)
    perSource.foreach { case (src, (nd, toks, merged, chars)) =>
      val r = out(src)
      assert(r.getAs[Long]("n_docs") === nd, s"n_docs($src)")
      assert(r.getAs[Long]("n_tokens") === toks, s"n_tokens($src)")
      assert(r.getAs[Long]("n_merged") === merged, s"n_merged($src)")
      assert(r.getAs[Long]("merged_bp") ===
        (if (toks == 0) 0L else 10000L * merged / toks))
      assert(r.getAs[Long]("chars_per_token_e2") ===
        (if (toks == 0) 0L else 100L * chars / toks))
      // the fold only shrinks: compression ratio is never below 1.0
      if (toks > 0) assert(r.getAs[Long]("chars_per_token_e2") >= 100L)
    }
  }

  test("mixture_doremi: hedge update upweights exactly the excess-loss domains") {
    val out = graft.llm.Sampling.mixtureDoremi(spark, sfDir).collect()
    assert(out.nonEmpty)
    // weights renormalize to basis points (integer div floors each share,
    // so the sum lands within #sources of 10000, never above)
    val s = out.map(_.getAs[Long]("doremi_bp")).sum
    assert(s <= 10000 && s > 10000 - out.length,
      s"doremi_bp should renormalize to ~10000, got $s")
    out.foreach { r =>
      val (base, upd) = (r.getAs[Long]("base_bp"), r.getAs[Long]("doremi_bp"))
      val excess = r.getAs[Long]("excess_e9")
      assert(excess >= 0)
      // a domain AT the corpus mean (excess 0) can only lose share to the
      // upweighted ones; a domain with excess can also gain (floor-only
      // slack of 1 bp each way from the integer renormalization)
      if (excess == 0) assert(upd <= base + 1,
        s"zero-excess domain gained share: $base -> $upd")
    }
    // the relative ordering of multipliers follows excess exactly
    val byExcess = out.sortBy(_.getAs[Long]("excess_e9"))
    val hi = byExcess.last
    if (hi.getAs[Long]("excess_e9") > 0 && hi.getAs[Long]("base_bp") > 0) {
      // the max-excess domain's share ratio vs base must be the corpus max
      def ratioE4(r: org.apache.spark.sql.Row): Long =
        if (r.getAs[Long]("base_bp") == 0) 0L
        else r.getAs[Long]("doremi_bp") * 10000 / r.getAs[Long]("base_bp")
      assert(out.map(ratioE4).max === ratioE4(hi),
        "max excess-loss domain should carry the max upweight ratio")
    }
  }

  test("mixture_doremi: eta=0 degenerates to the baseline token shares") {
    val out = graft.GraftConfig.withInt("graft.doremi.etaE2", 0) {
      graft.llm.Sampling.mixtureDoremi(spark, sfDir).collect()
    }
    out.foreach { r =>
      // with no hedge step the renormalized weight IS the baseline (up to
      // the 1-bp renormalization floor)
      assert(math.abs(r.getAs[Long]("doremi_bp") - r.getAs[Long]("base_bp")) <= 1,
        s"eta=0 should reproduce base_bp: ${r.mkString(",")}")
    }
  }

  test("mixture_doremi T-round iterate: exact BigInt replay, monotone upweight, eta=0 stability") {
    def run(iters: Int, eta: Int = 300) =
      graft.GraftConfig.withInt("graft.doremi.iters", iters) {
        graft.GraftConfig.withInt("graft.doremi.etaE2", eta) {
          graft.llm.Sampling.mixtureDoremi(spark, sfDir).collect()
            .map(r => r.getAs[String]("source") ->
              ((r.getAs[Long]("excess_e9"), r.getAs[Long]("base_bp"),
                r.getAs[Long]("doremi_bp")))).toMap
        }
      }
    val one = run(1)
    val three = run(3)
    assert(one.keySet === three.keySet && one.nonEmpty)
    // exact replay: iterate the hedge update in BigInt exactly as the
    // engine defines it (w_raw = w_bp·(1e9 + (eta·excess) div 100),
    // renormalize to floor basis points) — the engine must match per round
    def replay(iters: Int): Map[String, Long] = {
      var w = one.map { case (s, (_, base, _)) => s -> BigInt(base) }
      for (_ <- 1 to iters) {
        val raw = w.map { case (s, wbp) =>
          s -> wbp * (BigInt(1000000000) + BigInt(300) * one(s)._1 / 100)
        }
        val tot = raw.values.sum
        w = raw.map { case (s, r) =>
          s -> (if (tot > 0) r * 10000 / tot else BigInt(0))
        }
      }
      w.map { case (s, v) => s -> v.toLong }
    }
    assert(one.map { case (s, (_, _, d)) => s -> d } === replay(1),
      "iters=1 diverged from the exact BigInt hedge replay")
    assert(three.map { case (s, (_, _, d)) => s -> d } === replay(3),
      "iters=3 diverged from the exact BigInt hedge replay")
    // more rounds push more weight onto the max-excess domain (strictly,
    // when any excess spread exists), and the corpus stays renormalized
    val hi = one.maxBy(_._2._1)._1
    if (one.values.map(_._1).toSet.size > 1) {
      assert(three(hi)._3 >= one(hi)._3,
        s"max-excess domain lost share with more rounds: ${one(hi)._3} -> ${three(hi)._3}")
    }
    val s3 = three.values.map(_._3).sum
    assert(s3 <= 10000 && s3 > 10000 - three.size)
    // eta=0: extra rounds cannot drift the mixture beyond the per-round
    // 1-bp renormalization floor slack
    val z1 = run(1, eta = 0); val z3 = run(3, eta = 0)
    z1.keySet.foreach { s =>
      assert(math.abs(z1(s)._3 - z3(s)._3) <= 3,
        s"eta=0 mixture drifted across rounds for $s: ${z1(s)._3} vs ${z3(s)._3}")
    }
  }
}
