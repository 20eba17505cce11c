package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Production-scale BYTE-LEVEL hierarchical BPE (r12 built the
  * hierarchical trainer; r13 lifts it off the ASCII band onto UTF-8
  * bytes — GPT-2-style, alphabet 256).
  *
  * The D46/D54 family is single-level by construction: merge pairs are
  * base-alphabet chars, so its width is bounded by the pair universe —
  * three orders of magnitude short of a production vocabulary. This
  * family is TRUE iterative BPE (Sennrich et al. 2016): each merge mints
  * a fresh symbol that later merges can consume, so the vocabulary grows
  * past the base alphabet without bound (config-capped at 17000 by the
  * oracle's fixed-width 3-char token band, 26·26·26 ids).
  *
  * BYTE LEVEL (r13): the symbol stream is the UTF-8 byte sequence of the
  * shared whitespace-collapsed lowercase normal form (TextOps.normText)
  * — ids 0-255 are byte values, merges mint 256+rank. Every script costs
  * its real byte length (CJK 3/codepoint, Cyrillic/Arabic 2, emoji 4),
  * so token counts — the quantity a training budget is denominated in —
  * are honest for a multilingual crawl, not just the ASCII band; and the
  * byte alphabet is closed (any input encodes, nothing is out-of-band).
  * Bytes are derived from CODEPOINTS by the UTF-8 arithmetic (identical
  * CASE ladder in both engines) rather than an engine's own encoder, so
  * the two sides agree by construction. Decode is lossless to the byte
  * stream (every minted id expands to exactly its source bytes), and the
  * byte stream determines the normalized string, so the round trip
  * bytes→string holds wherever the byte arrays match.
  *
  * TRAINING runs over a deterministic bounded sample — the first
  * `graft.bpe.trainDocs` documents by doc_id — exactly how production
  * tokenizers are trained (a bounded sample of the corpus, never the
  * 100 TB crawl; the sample is the §5 contract-bounded driver collect).
  * Each round counts all adjacent symbol pairs (per-position, so "aaa"
  * counts (a,a) twice), merges the most frequent (ties: smallest
  * (left,right)) at ALL its occurrences leftmost-first non-overlapping,
  * and mints id 256+rank. Training stops at `graft.bpe.hierMerges`
  * rounds or when no pairs remain.
  *
  * ENCODING is the classic tokenizer apply — repeatedly merge the
  * lowest-rank rule present in the doc — implemented with a linked-list +
  * lazy-invalidation priority queue: O(len · log len) per document,
  * INDEPENDENT of vocabulary size. The rule table broadcasts once per
  * job (≤ 17k rules ≈ 300 KB); the encode pass itself is map-only — no
  * join, no shuffle, embarrassingly parallel at 100 TB. Heap order
  * (rank, position) reproduces EXACTLY the rank-sequential replace-all
  * semantics the DuckDB oracle replays (BpeHierSpec pins the equivalence
  * property-style), because a merge at rank r can only create pairs
  * whose rules have rank > r.
  *
  * ORACLE: the training replay is a recursive CTE whose working set is
  * ONE row carrying the sample as a list of encoded strings — pair
  * extraction via two non-overlapping regexp chunkings (O(len), never
  * per-position substr, which is O(len²) on varchar), the argmax via
  * list_aggregate histogram (no window sort, no LATERAL — measured 10×
  * faster than either). Encode replays per doc as "apply the min-rank
  * rule present, repeat" — depth bounded by the doc's applicable-rule
  * count, not by the vocabulary. Symbol ids ride the same fixed-width
  * 3-char band as r12 (256 + 17000 < 26³); UTF-8 bytes come from
  * unicode(c) through the same arithmetic CASE ladder as the Scala side.
  */
object BpeHier {

  /** Merge rounds (vocabulary size − 256). Ceiling 17000: minted ids
    * 256+rank must fit the oracle's 3-char token band (26³ = 17576). */
  def HierMerges: Int = {
    val m = graft.GraftConfig.int("graft.bpe.hierMerges", 5000)
    require(m >= 1 && m <= 17000,
      s"graft.bpe.hierMerges must be in [1, 17000], got $m")
    m
  }

  /** Training-sample size (first N docs by doc_id). */
  def TrainDocs: Int = {
    val n = graft.GraftConfig.int("graft.bpe.trainDocs", 192)
    require(n >= 1, s"graft.bpe.trainDocs must be >= 1, got $n")
    n
  }

  /** Base alphabet: UTF-8 byte values 0-255; merges mint 256+rank. */
  private[graft] val Base = 256
  /** Pair key packing: ids < 256 + 17000 < 2^15. */
  private val KeyShift = 15

  /** UTF-8 bytes of the normalized string, derived from CODEPOINTS by
    * the standard arithmetic (the same CASE ladder the oracle runs on
    * unicode(c)) — for valid text this IS String.getBytes(UTF_8), and on
    * any input both engines stay defined identically. */
  private[graft] def codesOf(sn: String): Array[Int] = {
    val n = sn.length
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    out.sizeHint(n + (n >> 2))
    var i = 0
    while (i < n) {
      val cp = sn.codePointAt(i)
      i += Character.charCount(cp)
      if (cp < 0x80) out += cp
      else if (cp < 0x800) {
        out += 0xC0 | (cp >> 6); out += 0x80 | (cp & 0x3F)
      } else if (cp < 0x10000) {
        out += 0xE0 | (cp >> 12); out += 0x80 | ((cp >> 6) & 0x3F)
        out += 0x80 | (cp & 0x3F)
      } else {
        out += 0xF0 | (cp >> 18); out += 0x80 | ((cp >> 12) & 0x3F)
        out += 0x80 | ((cp >> 6) & 0x3F); out += 0x80 | (cp & 0x3F)
      }
    }
    out.result()
  }

  /** One rule, all occurrences, leftmost-first non-overlapping (shared
    * with the training loop; the single-level family's applyMerge has the
    * same semantics but lives on the 28-id alphabet). */
  private[graft] def applyMerge(arr: Array[Int], a: Int, b: Int, x: Int): Array[Int] = {
    if (arr.length < 2) return arr
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    out.sizeHint(arr.length)
    var i = 0
    while (i < arr.length) {
      if (i + 1 < arr.length && arr(i) == a && arr(i + 1) == b) {
        out += x; i += 2
      } else { out += arr(i); i += 1 }
    }
    out.result()
  }

  /** Trained rule table in rank order: (left, right, minted id, pair
    * count at selection). Cached per (dir, documents content, H,
    * trainDocs) — training is a driver-side sequential loop over the
    * bounded sample (the same contract class as the D40 DSIR buckets / PQ
    * codebooks), ~1-2 s at the default width; the content fingerprint
    * retrains a corpus rewritten in place.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int, Int), Array[(Int, Int, Int, Long)]]()

  def trainedMerges(spark: SparkSession, dir: String): Array[(Int, Int, Int, Long)] = {
    val fp = graft.sources.BucketedSink.contentFingerprint(Seq(s"$dir/documents.parquet"))
    cache.computeIfAbsent((dir, fp, HierMerges, TrainDocs), { key =>
      val (_, _, h, td) = key
      val sample = Tables.documents(spark, dir)
        .orderBy(col("doc_id").asc).limit(td)
        .select(TextOps.normText(col("text")))
        .collect().map(r => codesOf(r.getString(0)))
      train(sample, h)
    })
  }

  private[graft] def train(sample: Array[Array[Int]], h: Int): Array[(Int, Int, Int, Long)] = {
    var state = sample
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Long)]
    var r = 0
    var done = false
    while (r < h && !done) {
      val cnt = scala.collection.mutable.LongMap.empty[Long]
      state.foreach { arr =>
        var i = 0
        while (i + 1 < arr.length) {
          val k = (arr(i).toLong << KeyShift) | arr(i + 1)
          cnt.update(k, cnt.getOrElse(k, 0L) + 1L)
          i += 1
        }
      }
      if (cnt.isEmpty) done = true
      else {
        // max count, ties by smallest (left, right) — the packed key's
        // natural order IS (left, right) lexicographic
        var bestKey = Long.MaxValue
        var bestN = 0L
        cnt.foreach { case (k, n) =>
          if (n > bestN || (n == bestN && k < bestKey)) { bestKey = k; bestN = n }
        }
        val a = (bestKey >> KeyShift).toInt
        val b = (bestKey & ((1 << KeyShift) - 1)).toInt
        val x = Base + r
        out += ((a, b, x, bestN))
        state = state.map(arr => applyMerge(arr, a, b, x))
        r += 1
      }
    }
    out.toArray
  }

  /** The O(len·log len) per-doc encode: linked list + lazy-invalidation
    * priority queue ordered by (rank, position) — pops replay "merge the
    * lowest-rank rule present, leftmost occurrence first", which equals
    * the rank-sequential replace-all (a rank-r merge only creates pairs
    * whose rules rank > r, so lower ranks never become applicable again).
    */
  private[graft] def encodeHier(codes: Array[Int],
                              rules: scala.collection.mutable.LongMap[Int],
                              rankPair: Array[(Int, Int)]): Array[Int] = {
    val n = codes.length
    if (n < 2) return codes
    val arr = codes.clone()
    val next = new Array[Int](n)
    val prev = new Array[Int](n)
    val alive = new Array[Boolean](n)
    var i = 0
    while (i < n) { next(i) = i + 1; prev(i) = i - 1; alive(i) = true; i += 1 }
    val heap = new java.util.PriorityQueue[Long]()
    def ruleOf(a: Int, b: Int): Int =
      rules.getOrElse((a.toLong << KeyShift) | b, -1)
    def push(pos: Int): Unit = {
      val j = next(pos)
      if (j < n) {
        val r = ruleOf(arr(pos), arr(j))
        if (r >= 0) heap.add((r.toLong << 32) | pos)
      }
    }
    i = 0
    while (i + 1 < n) { push(i); i += 1 }
    while (!heap.isEmpty) {
      val e = heap.poll()
      val r = (e >> 32).toInt
      val pos = (e & 0xffffffffL).toInt
      val j = if (alive(pos)) next(pos) else n
      // lazy validation: the pair must still exist with these exact ids
      if (alive(pos) && j < n && alive(j) &&
          ruleOf(arr(pos), arr(j)) == r) {
        arr(pos) = Base + r
        alive(j) = false
        val k = next(j)
        next(pos) = k
        if (k < n) prev(k) = pos
        if (prev(pos) >= 0) push(prev(pos))
        push(pos)
      }
    }
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    out.sizeHint(n)
    i = 0
    while (i < n) { if (alive(i)) out += arr(i); i += 1 }
    out.result()
  }

  /** Full decode: expand minted ids depth-first to base byte values. */
  private[graft] def decodeHier(ids: Array[Int],
                              rankPair: Array[(Int, Int)]): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    val stack = new java.util.ArrayDeque[Int]()
    ids.foreach { id0 =>
      stack.push(id0)
      while (!stack.isEmpty) {
        val x = stack.pop()
        if (x < Base) out += x
        else {
          val (a, b) = rankPair(x - Base)
          stack.push(b); stack.push(a)
        }
      }
    }
    out.result()
  }

  // ---------------------------------------------------------------------
  // Catalog queries
  // ---------------------------------------------------------------------

  /** D95: the trained hierarchical merge table itself — (rank, left_id,
    * right_id, new_id, n). The vocabulary artifact a tokenizer deployment
    * versions and ships; hash-gating it against the DuckDB replay is what
    * proves the 5000-step sequential trainer exactly.
    */
  def bpeTrainHier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir).toSeq.zipWithIndex
      .map { case ((a, b, x, n), r) => (r.toLong, a, b, x, n) }
      .toDF("rank", "left_id", "right_id", "new_id", "n")
  }

  /** The per-doc byte-level encode frame shared by D95b and the D59 pack
    * counter: (doc_id, token ids, byte codes). Map-only; the rule table
    * is a broadcast (never a join). */
  private def encodedDocs(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Int], Array[Int])] = {
    import spark.implicits._
    val merges = trainedMerges(spark, dir)
    val bc = spark.sparkContext.broadcast(merges)
    Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), TextOps.normText(col("text")).as("sn"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value
        val rules = scala.collection.mutable.LongMap.empty[Int]
        val rankPair = new Array[(Int, Int)](ms.length)
        var r = 0
        while (r < ms.length) {
          val (a, b, _, _) = ms(r)
          rules.update((a.toLong << KeyShift) | b, r)
          rankPair(r) = (a, b)
          r += 1
        }
        it.map { case (id, sn) =>
          val codes = codesOf(sn)
          (id, encodeHier(codes, rules, rankPair), codes)
        }
      }
  }

  /** D95b: byte-level hierarchical encode + ROUND-TRIP integrity gate in
    * one key: per document, the real token ids (CSV — the embed_quantize
    * lesson), exact token/byte counts, and decode(encode(doc)) == the
    * UTF-8 byte stream of the normalized text. Multi-level BPE is still
    * losslessly invertible (every minted id expands through the rule
    * table to exactly its source bytes), so any false `roundtrip_ok`
    * means the trainer, the encoder, or the decode expansion drifted.
    */
  def bpeRoundtripHier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = trainedMerges(spark, dir)
    val bc = spark.sparkContext.broadcast(merges)
    encodedDocs(spark, dir)
      .mapPartitions { it =>
        val ms = bc.value
        val rankPair = new Array[(Int, Int)](ms.length)
        var r = 0
        while (r < ms.length) { rankPair(r) = (ms(r)._1, ms(r)._2); r += 1 }
        it.map { case (id, ids, codes) =>
          val back = decodeHier(ids, rankPair)
          (id, ids.length.toLong, codes.length.toLong,
            ids.mkString(","),
            java.util.Arrays.equals(back, codes))
        }
      }
      .toDF("doc_id", "n_tokens", "n_bytes", "token_csv", "roundtrip_ok")
  }

  /** The D59 pack counter: (doc_id, n_tokens) in REAL tokenizer tokens —
    * the byte-level hierarchical encode's length per document. */
  def encodedCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    encodedDocs(spark, dir)
      .map { case (id, ids, _) => (id, ids.length.toLong) }
      .toDF("doc_id", "n_tokens")
  }

  // ---------------------------------------------------------------------
  // Oracle SQL (validated formulation — see scaladoc: single-row state,
  // regexp-chunk pair extraction, histogram argmax)
  // ---------------------------------------------------------------------

  private def enc3(e: String): String =
    s"chr(CAST(65 + ($e) // 676 AS INT)) || " +
      s"chr(CAST(97 + (($e) // 26) % 26 AS INT)) || " +
      s"chr(CAST(97 + ($e) % 26 AS INT))"

  private def dec3(s: String): String =
    s"((ascii(substr($s, 1, 1)) - 65) * 676 + " +
      s"(ascii(substr($s, 2, 1)) - 97) * 26 + " +
      s"ascii(substr($s, 3, 1)) - 97)"

  /** UTF-8 byte values of one char `c` — the same arithmetic CASE ladder
    * codesOf runs on codePoints (u = unicode(c)). */
  private val bytesOfChar =
    "CASE WHEN unicode(c) < 128 THEN [unicode(c)] " +
      "WHEN unicode(c) < 2048 THEN " +
      "[192 + unicode(c) // 64, 128 + unicode(c) % 64] " +
      "WHEN unicode(c) < 65536 THEN " +
      "[224 + unicode(c) // 4096, 128 + (unicode(c) // 64) % 64, " +
      "128 + unicode(c) % 64] " +
      "ELSE [240 + unicode(c) // 262144, 128 + (unicode(c) // 4096) % 64, " +
      "128 + (unicode(c) // 64) % 64, 128 + unicode(c) % 64] END"

  /** The UTF-8 byte-value list of a string expression. */
  private def byteList(snExpr: String): String =
    s"flatten(list_transform(" +
      s"list_filter(string_split($snExpr, ''), c -> len(c) = 1), " +
      s"c -> $bytesOfChar))"

  /** All adjacent token pairs of a 3-char-token string via TWO
    * non-overlapping 6-char regexp chunkings (even + odd alignments) —
    * O(len); per-position substr would be O(len²) on varchar. */
  private def pairsChunks(col: String): String =
    s"regexp_extract_all($col, '.{6}') || " +
      s"regexp_extract_all(substr($col, 4), '.{6}')"

  private def encStr(snExpr: String): String =
    "coalesce(array_to_string(list_transform(" +
      s"${byteList(snExpr)}, k -> ${enc3("k")}), ''), '')"

  /** Training-replay CTE chain ending in `merges` = (rank, pat, n). */
  private def trainCtes: String =
    s"""samp AS (
      SELECT doc_id AS wid, ${TextOps.normTextSql} AS sn FROM documents
      ORDER BY doc_id ASC LIMIT $TrainDocs),
    enc0 AS (SELECT wid, ${encStr("sn")} AS s FROM samp),
    tr AS (
      SELECT 0 AS iter, (SELECT list(s ORDER BY wid ASC) FROM enc0) AS state,
             CAST(NULL AS VARCHAR) AS chosen, CAST(NULL AS BIGINT) AS chosen_n
      UNION ALL
      SELECT iter + 1,
             list_transform(state, st -> replace(st, best, ${enc3("256 + iter")})),
             best, m
      FROM (
        SELECT iter, state,
          list_aggregate(list_transform(
            list_filter(map_entries(h), e -> e.value = m), e -> e.key), 'min') AS best,
          m
        FROM (
          SELECT iter, state, h, list_aggregate(map_values(h), 'max') AS m
          FROM (
            SELECT iter, state,
              list_aggregate(flatten(list_transform(state,
                st -> ${pairsChunks("st")})), 'histogram') AS h
            FROM tr WHERE iter < $HierMerges)))
      WHERE best IS NOT NULL),
    merges AS MATERIALIZED (
      SELECT CAST(iter - 1 AS BIGINT) AS rank, chosen AS pat, chosen_n AS n
      FROM tr WHERE iter >= 1)"""

  def bpeTrainHierSql: String =
    s"""WITH RECURSIVE
    $trainCtes
    SELECT rank,
      CAST(${dec3("substr(pat, 1, 3)")} AS INT) AS left_id,
      CAST(${dec3("substr(pat, 4, 3)")} AS INT) AS right_id,
      CAST(256 + rank AS INT) AS new_id, n
    FROM merges"""

  /** Encode-replay CTE chain (assumes trainCtes precede): per-doc token
    * id lists in `ids`. */
  private def encodeCtes: String =
    s"""m AS MATERIALIZED (
      SELECT rank, pat, ${enc3("256 + rank")} AS repl FROM merges),
    d0 AS MATERIALIZED (
      SELECT doc_id, ${encStr("sn")} AS s
      FROM (SELECT doc_id, ${TextOps.normTextSql} AS sn FROM documents)),
    e AS (
      SELECT doc_id, s, 0 AS step FROM d0
      UNION ALL
      SELECT doc_id, replace(s, bp, br), step + 1
      FROM (
        SELECT cp.doc_id, any_value(cp.s) AS s, any_value(cp.step) AS step,
               arg_min(m.pat, m.rank) AS bp, arg_min(m.repl, m.rank) AS br
        FROM (SELECT doc_id, s, step, unnest(${pairsChunks("s")}) AS p FROM e) cp
        JOIN m ON m.pat = cp.p
        GROUP BY cp.doc_id)),
    fin AS MATERIALIZED (SELECT doc_id, arg_max(s, step) AS s FROM e GROUP BY doc_id),
    ids AS MATERIALIZED (
      SELECT doc_id, list_transform(range(CAST(len(s) // 3 AS BIGINT)),
        i -> CAST(${dec3("substr(s, CAST(i * 3 + 1 AS INT), 3)")} AS INT)) AS l
      FROM fin)"""

  def bpeRoundtripHierSql: String =
    s"""WITH RECURSIVE
    $trainCtes,
    $encodeCtes,
    pl AS MATERIALIZED (
      SELECT list([CAST(${dec3("substr(pat, 1, 3)")} AS INT),
                   CAST(${dec3("substr(pat, 4, 3)")} AS INT)] ORDER BY rank) AS pl
      FROM merges),
    dec AS (
      SELECT doc_id, l, 0 AS step FROM ids
      UNION ALL
      SELECT doc_id,
        flatten(list_transform(dec.l,
          x -> CASE WHEN x < 256 THEN [x] ELSE pl.pl[x - 255] END)),
        step + 1
      FROM dec, pl
      WHERE len(list_filter(dec.l, x -> x >= 256)) > 0),
    dfin AS (SELECT doc_id, arg_max(l, step) AS l FROM dec GROUP BY doc_id),
    base AS (
      SELECT doc_id, list_transform(${byteList("sn")}, x -> CAST(x AS INT)) AS cl
      FROM (SELECT doc_id, ${TextOps.normTextSql} AS sn FROM documents))
    SELECT b.doc_id,
      CAST(len(i.l) AS BIGINT) AS n_tokens,
      CAST(len(b.cl) AS BIGINT) AS n_bytes,
      coalesce(array_to_string(i.l, ','), '') AS token_csv,
      coalesce(d.l, []) = b.cl AS roundtrip_ok
    FROM base b JOIN ids i USING (doc_id) JOIN dfin d USING (doc_id)"""

  /** D59 counter oracle: (doc_id, n_tokens) from the same train+encode
    * replay — the pack statement embeds this as a derived table. */
  def encodedCountsSql: String =
    s"""WITH RECURSIVE
    $trainCtes,
    $encodeCtes
    SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens FROM ids"""
}
