package graft

import org.apache.spark.sql.functions._
import graft.llm.BpeHier

/** D95/D95b (r12): hierarchical-BPE trainer + O(len·log len) encoder.
  * Pins (1) the trainer reaches the full default width (≥5000 rules) on
  * the spec corpus, (2) the heap encoder ≡ rank-sequential replace-all
  * (the oracle's semantics) property-style, (3) round-trip integrity over
  * the whole corpus, (4) determinism, (5) hand-verifiable toy behavior.
  */
class BpeHierSpec extends SparkSpecBase {

  test("trainer reaches the full default width (>= 5000 rules) at sf0.001") {
    val merges = BpeHier.trainedMerges(spark, sfDir)
    assert(merges.length == BpeHier.HierMerges, s"got ${merges.length}")
    // ranks mint ids 256+r in order; pair ids only reference earlier symbols
    merges.zipWithIndex.foreach { case ((a, b, x, n), r) =>
      assert(x == 256 + r && a < x && b < x && n >= 1)
    }
    // true HIERARCHY: later merges consume minted ids (the capability the
    // single-level family lacks)
    assert(merges.exists { case (a, b, _, _) => a >= 256 || b >= 256 })
  }

  test("toy trainer: most-frequent pair wins, ties break (left,right) asc") {
    // "ababab", "abac": pairs (a,b)x4? ababab has (a,b)x3,(b,a)x2; abac
    // has (a,b),(b,a),(a,c) -> (a,b):4 wins; after merge X=(a,b):
    // "XXX" -> (X,X):2 wins next
    def c(s: String) = BpeHier.codesOf(s)
    val merges = BpeHier.train(Array(c("ababab"), c("abac")), 2)
    assert(merges(0) == ((97, 98, 256, 4L)))
    assert(merges(1) == ((256, 256, 257, 2L)))
  }

  test("heap encoder == rank-sequential replace-all on random docs") {
    val merges = BpeHier.trainedMerges(spark, sfDir)
    val rules = scala.collection.mutable.LongMap.empty[Int]
    val rankPair = new Array[(Int, Int)](merges.length)
    merges.zipWithIndex.foreach { case ((a, b, _, _), r) =>
      rules.update((a.toLong << 15) | b, r); rankPair(r) = (a, b)
    }
    val rng = new scala.util.Random(7)
    // random ASCII-band docs + degenerate shapes (runs, empty, single)
    val docs = Seq("", "a", "aaaaaaa", "ab ab ab ab") ++
      (0 until 40).map(_ => (0 until 200).map(_ => "abcdefghij0 ".charAt(rng.nextInt(12))).mkString)
    docs.foreach { d =>
      val codes = BpeHier.codesOf(d)
      val fast = BpeHier.encodeHier(codes, rules, rankPair)
      val slow = merges.foldLeft(codes) { case (arr, (a, b, x, _)) =>
        BpeHier.applyMerge(arr, a, b, x)
      }
      assert(java.util.Arrays.equals(fast, slow), s"doc '$d'")
    }
  }

  test("round-trip holds for every document at the full width") {
    val rt = BpeHier.bpeRoundtripHier(spark, sfDir)
    assert(rt.filter(!col("roundtrip_ok")).count() == 0)
    val docs = Tables.documents(spark, sfDir).count()
    assert(rt.count() == docs)
    // compression: hierarchical merges must beat chars substantially
    val sums = rt.agg(sum("n_tokens"), sum("n_bytes")).head()
    assert(sums.getLong(0) * 2 < sums.getLong(1),
      s"tokens ${sums.getLong(0)} vs bytes ${sums.getLong(1)}")
  }

  test("training is deterministic (fresh run == cached table)") {
    val cached = BpeHier.trainedMerges(spark, sfDir)
    val sample = Tables.documents(spark, sfDir)
      .orderBy(col("doc_id").asc).limit(BpeHier.TrainDocs)
      .select(graft.llm.TextOps.normText(col("text")))
      .collect().map(r => BpeHier.codesOf(r.getString(0)))
    val fresh = BpeHier.train(sample, BpeHier.HierMerges)
    assert(cached.sameElements(fresh))
  }

  test("documents rewritten in place retrain the merges") {
    val dir = tempCopyOf(sfDir)
    try {
      val before = BpeHier.trainedMerges(spark, dir)
      val docs = s"$dir/documents.parquet"
      java.nio.file.Files.delete(java.nio.file.Paths.get(docs))
      Tables.documents(spark, sfDir).withColumn("text", reverse(col("text")))
        .coalesce(1).write.parquet(docs)
      val sample = Tables.documents(spark, dir)
        .orderBy(col("doc_id").asc).limit(BpeHier.TrainDocs)
        .select(graft.llm.TextOps.normText(col("text")))
        .collect().map(r => BpeHier.codesOf(r.getString(0)))
      val fresh = BpeHier.train(sample, BpeHier.HierMerges)
      assert(!fresh.sameElements(before), "rewrite did not change the merges")
      assert(BpeHier.trainedMerges(spark, dir).sameElements(fresh))
    } finally deleteTree(dir)
  }

  test("byte level: non-ASCII text encodes to real UTF-8 byte counts and round-trips") {
    val docs = Array("深層学習の訓練データ", "привет мир", "hello 😀 world",
      "ไทยผสม ascii", "مرحبا بالعالم")
    // codesOf ≡ String.getBytes(UTF_8) on valid text (the arithmetic
    // ladder IS the UTF-8 encoding), and every id is a byte value
    docs.foreach { d =>
      val c = BpeHier.codesOf(d)
      assert(c.forall(x => x >= 0 && x <= 255))
      assert(c.toSeq ==
        d.getBytes(java.nio.charset.StandardCharsets.UTF_8).map(_ & 0xff).toSeq)
    }
    assert(BpeHier.codesOf("深").toSeq == Seq(0xE6, 0xB7, 0xB1)) // U+6DF1
    assert(BpeHier.codesOf("п").length == 2)
    assert(BpeHier.codesOf("😀").length == 4) // emoji: 4 bytes
    // train a small table over the multilingual sample; encode+decode
    // must round-trip every doc, and merges must compress multi-byte text
    val merges = BpeHier.train(docs.map(BpeHier.codesOf), 60)
    val rules = scala.collection.mutable.LongMap.empty[Int]
    val rankPair = new Array[(Int, Int)](merges.length)
    merges.zipWithIndex.foreach { case ((a, b, _, _), r) =>
      rules.update((a.toLong << 15) | b, r); rankPair(r) = (a, b)
    }
    docs.foreach { d =>
      val codes = BpeHier.codesOf(d)
      val ids = BpeHier.encodeHier(codes, rules, rankPair)
      assert(ids.length < codes.length, s"no compression on '$d'")
      assert(java.util.Arrays.equals(BpeHier.decodeHier(ids, rankPair), codes))
      // bytes→string lossless: rebuild the string from decoded bytes
      val back = new String(
        BpeHier.decodeHier(ids, rankPair).map(_.toByte),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(back == d)
    }
  }

  test("decode expands nested merges to base codes") {
    // rules: 256=(0,1), 257=(256,2) -> decode [257, 3] == [0,1,2,3]
    val rankPair = Array((0, 1), (256, 2))
    val out = BpeHier.decodeHier(Array(257, 3), rankPair)
    assert(out.toSeq == Seq(0, 1, 2, 3))
  }
}
