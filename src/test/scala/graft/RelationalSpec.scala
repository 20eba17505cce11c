package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational
import graft.queries.{Analytics, Temporal}

/** Semantic tests for the generic relational operators (as-of join, banded
  * join, exact quantiles, skew-safe distinct) — hand-built cases for the
  * operator semantics plus shape checks on the testdata queries.
  */
class RelationalSpec extends SparkSpecBase {

  test("asofJoin picks latest right at or before left ts, ties by tieBreak") {
    import spark.implicits._
    val left = Seq(
      (100L, 1L, 10L),  // k=1: rights at ts 5 and two at ts 10 → inclusive, rid 3 wins
      (101L, 2L, 5L),   // k=2: only right is later → null
      (102L, 3L, 7L)    // k=3: no right rows at all → null
    ).toDF("lid", "k", "ts")
    val right = Seq(
      (1L, 1L, 5L, 100.0),
      (2L, 1L, 10L, 200.0),
      (3L, 1L, 10L, 300.0),
      (4L, 2L, 6L, 400.0)
    ).toDF("rid", "k", "ts", "v")
    val out = Relational.asofJoin(left, right, keys = Seq("k"), tsCol = "ts",
      tieBreak = "rid", payload = Seq("rid", "v"), prefix = "r_")
      .select("lid", "r_rid", "r_v").collect().map(r =>
        (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(out == Set(
      (100L, Some(3L), Some(300.0)),
      (101L, None, None),
      (102L, None, None)))
  }

  test("asofJoin attaches null payload fields atomically, not from older rows") {
    import spark.implicits._
    val left = Seq((100L, 1L, 200L)).toDF("lid", "k", "ts")
    val right = Seq(
      (1L, 1L, 1L, java.lang.Double.valueOf(5.0)),
      (2L, 1L, 200L, null.asInstanceOf[java.lang.Double])
    ).toDF("rid", "k", "ts", "v")
    val row = Relational.asofJoin(left, right, Seq("k"), "ts", "rid",
      Seq("rid", "v"), "r_").select("r_rid", "r_v").head
    // the match IS rid=2; its null v must stay null (not back-fill 5.0)
    assert(row.getLong(0) == 2L && row.isNullAt(1))
  }

  test("asofJoin tolerance nulls out matches older than the bound") {
    import spark.implicits._
    val left = Seq((100L, 1L, 10L), (101L, 1L, 6L)).toDF("lid", "k", "ts")
    val right = Seq((1L, 1L, 3L, 9.0)).toDF("rid", "k", "ts", "v")
    val out = Relational.asofJoin(left, right, Seq("k"), "ts", "rid",
      Seq("rid", "v"), "r_", tolerance = Some(5L))
      .select("lid", "r_rid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // lid 100: age 7 > 5 → stale; lid 101: age 3 ≤ 5 → kept
    assert(out == Map(100L -> None, 101L -> Some(1L)))
  }

  test("asofJoin matches a brute-force reference on tie-heavy random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // small ts domain on purpose: many exact-timestamp ties across and
    // within sides, the cases a merge-style as-of gets wrong first
    val left = (0 until 300).map(i => (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(50).toLong))
    val right = (0 until 300).map(i => (1000L + i, rnd.nextInt(20).toLong, rnd.nextInt(50).toLong, rnd.nextDouble()))
    def run(direction: String): Map[Long, Option[Long]] = Relational.asofJoin(
      left.toDF("lid", "k", "ts"), right.toDF("rid", "k", "ts", "v"),
      keys = Seq("k"), tsCol = "ts", tieBreak = "rid",
      payload = Seq("rid", "v"), prefix = "r_", direction = direction)
      .select("lid", "r_rid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val wantBackward = left.map { case (lid, k, lts) =>
      val candidates = right.filter(r => r._2 == k && r._3 <= lts)
      lid -> (if (candidates.isEmpty) None
              else Some(candidates.maxBy(r => (r._3, r._1))._1))
    }.toMap
    assert(run("backward") == wantBackward)
    val wantForward = left.map { case (lid, k, lts) =>
      val candidates = right.filter(r => r._2 == k && r._3 >= lts)
      lid -> (if (candidates.isEmpty) None
              else Some(candidates.minBy(r => (r._3, r._1))._1))
    }.toMap
    assert(run("forward") == wantForward)

    // the asofJoinQ plan shape: both sides pre-spread by key (exchange under
    // each union branch, none above) — must still be brute-force correct
    val gotSpread = Relational.asofJoin(
      Tables.spread(left.toDF("lid", "k", "ts"), "k"),
      Tables.spread(right.toDF("rid", "k", "ts", "v"), "k"),
      keys = Seq("k"), tsCol = "ts", tieBreak = "rid",
      payload = Seq("rid", "v"), prefix = "r_")
      .select("lid", "r_rid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(gotSpread == wantBackward)
  }

  test("asof_join query: every error payload is at or before the purchase") {
    val df = Temporal.asofJoinQ(spark, sfDir)
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(df.count() == purchases)
    assert(df.filter(col("err_ts") > col("ts")).count() == 0)
  }

  test("pit_join: hand-built SCD2 versions, no leakage, gaps null out") {
    import spark.implicits._
    // user 1: clicks (versions) at t=10 v101, t=20 v102; purchases at
    // t=5 (before any version → null), t=10 (boundary: version 101 valid
    // AT its valid_from), t=15 (101), t=25 (102)
    val ev = Seq(
      (101L, 1L, "click", 10L, 2.0), (102L, 1L, "click", 20L, 3.0),
      (201L, 1L, "purchase", 5L, 9.0), (202L, 1L, "purchase", 10L, 9.0),
      (203L, 1L, "purchase", 15L, 9.0), (204L, 1L, "purchase", 25L, 9.0))
      .toDF("event_id", "user_id", "event_type", "sec", "value")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("sec")).cast("timestamp_ntz"))
      .drop("sec")
    val got = Temporal.pitJoinOf(ev)
      .select("event_id", "version_id", "state_cents")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map { case (k, v, c) => k -> (v, c) }.toMap
    assert(got === Map(
      201L -> (None, None), 202L -> (Some(101L), Some(200L)),
      203L -> (Some(101L), Some(200L)), 204L -> (Some(102L), Some(300L))))
  }

  test("pit_join on testdata matches a brute-force per-purchase scan") {
    val df = Temporal.pitJoin(spark, sfDir)
    val purchases = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
    assert(df.count() === purchases.count())
    // brute force: for each purchase, latest click at or before its ts
    val clicks = Tables.events(spark, sfDir).filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val want = purchases.select(col("event_id"), col("user_id"), unix_micros(col("ts").cast("timestamp")))
      .collect().map { r =>
        val vs = clicks.getOrElse(r.getLong(1), Array.empty).filter(_._2 <= r.getLong(2))
        r.getLong(0) -> (if (vs.isEmpty) None
                         else Some(vs.maxBy(v => (v._2, v._3))._3))
      }.toMap
    val got = df.select(col("event_id"), col("version_id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(got === want)
  }

  test("banded join maps every event to exactly one band, via broadcast NLJ") {
    val df = Temporal.rangeJoinBands(spark, sfDir)
    val total = df.agg(sum("n_events")).head.getLong(0)
    assert(total == Tables.events(spark, sfDir).count())
    val plan = Temporal.rangeJoinBands(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }

  test("contiguous-band projection equals the banded join, with no join in the plan") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    val viaJoin = Relational.bandedJoin(ev, Temporal.Bands.toDF("band", "lo", "hi"), "value")
      .select("event_id", "band")
    val viaBucket = Relational.bandedJoinContiguous(ev, Temporal.Bands, "value")
      .select("event_id", "band")
    assert(viaBucket.exceptAll(viaJoin).count() == 0 &&
      viaJoin.exceptAll(viaBucket).count() == 0)
    val plan = viaBucket.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
  }

  test("contiguous-band specialization agrees with bandedJoin on exact boundary values") {
    import spark.implicits._
    // exactly-representable width (0.25, a power-of-two multiple): every
    // interior boundary value must land in the same band via width_bucket
    // arithmetic as via the [lo, hi) comparisons (the operator's contract;
    // non-representable widths like 0.1 are excluded by its scaladoc)
    val bands = (0 until 8).map(i => (f"B$i%02d", i * 0.25, (i + 1) * 0.25))
    val vals = bands.flatMap { case (_, lo, hi) =>
      Seq(lo, lo + 0.0625, hi - 0.0625, math.nextUp(lo), math.nextDown(hi))
    } ++ Seq(-0.25, 2.0, math.nextDown(2.0), 1e9) // outside → dropped by both
    val facts = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "value")
    val viaJoin = Relational.bandedJoin(facts, bands.toDF("band", "lo", "hi"), "value")
      .select("id", "band")
    val viaBucket = Relational.bandedJoinContiguous(facts, bands, "value")
      .select("id", "band")
    assert(viaBucket.exceptAll(viaJoin).count() == 0 &&
      viaJoin.exceptAll(viaBucket).count() == 0)
  }

  test("approx price quantiles stay within sketch rank-error of the exact operator") {
    val exact = Analytics.priceQuantiles(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val approx = Analytics.priceQuantilesApprox(spark, sfDir).collect()
    assert(approx.nonEmpty && approx.length == exact.size)
    // rank-error bound: accuracy 10000 → |rank(approx) - target| ≤ n/10000 + 1
    val cents = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).sorted }
    approx.foreach { r =>
      val g = r.getString(0)
      val sorted = cents(g); val n = sorted.length
      val tol = n / 10000 + 1
      for ((q, got) <- Seq(0.25 -> r.getLong(2), 0.5 -> r.getLong(3), 0.75 -> r.getLong(4))) {
        val target = ((n - 1) * q).toLong + 1
        // rank range the returned value occupies in the sorted group
        val loRk = sorted.indexWhere(_ >= got) + 1
        val hiRk = sorted.lastIndexWhere(_ <= got) + 1
        assert(loRk - tol <= target && target <= hiRk + tol,
          s"group $g q$q: value $got ranks [$loRk,$hiRk], target $target, tol $tol")
      }
      // and the sketch never leaves the exact operator's [q25, q75] envelope order
      val (_, e25, e50, e75) = exact(g)
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(3) <= r.getLong(4))
      assert(math.abs(r.getLong(3) - e50) <= math.max(1L, (0.01 * e50).toLong),
        s"group $g median: approx ${r.getLong(3)} vs exact $e50 ($e25..$e75)")
    }
  }

  test("approx distinct users stays within the HLL error bound of the exact operator") {
    val exact = queries.Temporal.distinctUsersSkewsafe(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = queries.Temporal.distinctUsersApprox(spark, sfDir).collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (g, est) = (r.getString(0), r.getLong(1))
      val n = exact(g).toDouble
      // rsd 0.02 → allow 5 standard deviations (generous, deterministic)
      assert(math.abs(est - n) <= math.max(1.0, 5 * 0.02 * n),
        s"group $g: approx $est vs exact ${exact(g)}")
    }
  }

  test("CMS skew sketch: estimates dominate exact counts within eps·N") {
    val out = queries.Temporal.skewReportSketch(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_events_est")))
    assert(out.nonEmpty)
    val total = Tables.events(spark, sfDir).count()
    out.foreach { case (uid, exact, est) =>
      // the CMS guarantee: never an under-count; over-count ≤ eps·N with
      // prob ≥ conf per probe (3× slack keeps the spec deterministic)
      assert(est >= exact, s"user $uid: CMS under-counted $est < $exact")
      assert(est <= exact + math.max(1L, (3 * queries.Temporal.CmsEps * total).toLong),
        s"user $uid: est $est vs exact $exact beyond bound")
    }
  }

  test("price quantiles are ordered and bracketed by group min/max") {
    val rows = Analytics.priceQuantiles(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q25, q50, q75) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(q25 <= q50 && q50 <= q75)
    }
    // spot-check the median for one group against a direct sort
    val cents = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")).as("c"))
      .orderBy("c").collect().map(_.getLong(0))
    val expected = cents((cents.length - 1) / 2)
    val got = rows.find(_.getString(0) == "R").get.getLong(3)
    assert(got == expected)
  }

  test("salted two-phase set digest agrees with the direct distinct count") {
    val digest = Temporal.distinctUserDigest(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(digest == direct)
    // the digest itself is deterministic across evaluations
    val again = Temporal.distinctUserDigest(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    val first = Temporal.distinctUserDigest(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(again == first)
  }

  test("skew-safe distinct equals count(distinct)") {
    val df = Temporal.distinctUsersSkewsafe(spark, sfDir)
    val direct = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    df.collect().foreach(r => assert(direct(r.getString(0)) == r.getLong(1)))
  }

  test("topK and saltedTopK match a sort-and-take reference on random frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // group g holds g rows (1..25), so k=7 exceeds the small groups; v has
    // four values (duplicate order keys, broken by id) and ~1/6 nulls
    val rows = (1 to 25).flatMap(g => (0 until g).map { _ =>
      (g, if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(4)))
    }).zipWithIndex.map { case ((g, v), id) => (g, v, id.toLong) }
    val df = rows.toDF("g", "v", "id")
    // Spark's defaults: desc puts nulls last, asc puts them first
    val orders = Seq[(org.apache.spark.sql.Column, ((Int, Option[Int], Long)) => (Boolean, Int, Long))](
      col("v").desc -> { case (_, v, id) => (v.isEmpty, -v.getOrElse(0), id) },
      col("v").asc -> { case (_, v, id) => (v.isDefined, v.getOrElse(0), id) })
    for ((order, key) <- orders; k <- Seq(1, 3, 7)) {
      val want = rows.groupBy(_._1).values.flatMap(grp =>
        grp.sortBy(key).take(k).zipWithIndex.map { case (r, i) => (r._1, r._3, i + 1) }).toSet
      def got(ranked: org.apache.spark.sql.DataFrame): Set[(Int, Long, Int)] = {
        assert(ranked.columns.toSeq === Seq("g", "v", "id", "rank"))
        ranked.select("g", "id", "rank").as[(Int, Long, Int)].collect().toSet
      }
      val by = Seq(col("g"))
      assert(got(Relational.topK(df, by, Seq(order, col("id")), k)) === want, s"$order k=$k")
      for (salts <- Seq(1, 3, 7))
        assert(got(Relational.saltedTopK(df, by, Seq(order, col("id")), k,
          col("id") % salts)) === want, s"$order k=$k salts=$salts")
    }
  }

  test("salted join equals the plain join, inner and left, on skewed data") {
    import spark.implicits._
    // heavy skew: key 1 dominates; keys 4/5 unmatched on one side
    val left = (1 to 200).map(i => (if (i <= 150) 1L else (i % 5).toLong, i.toLong))
      .toDF("k", "lid")
    val right = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (9L, "z"))
      .toDF("k", "tag")
    for (jt <- Seq("inner", "left")) {
      val got = Relational.saltedJoin(left, right, Seq("k"), 4, col("lid"), jt)
        .select("k", "lid", "tag")
      val want = left.join(right, Seq("k"), jt).select("k", "lid", "tag")
      assert(got.count() == want.count(), s"$jt count")
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0, jt)
    }
    // and the salting really spreads the hot key across buckets
    val salted = left.withColumn("s", pmod(col("lid"), lit(4)))
      .filter(col("k") === 1).groupBy("s").count().collect()
    assert(salted.length == 4)
  }

  test("intervalJoin equals the brute-force inequality join on random intervals") {
    import spark.implicits._
    // deterministic pseudo-random closed intervals, incl. points and
    // spans much longer than the grid
    def gen(side: Int, n: Int) = (1 to n).map { i =>
      val h = (i * 2654435761L + side * 97) & 0x7fffffff
      val k = h % 3
      val start = (h / 3) % 5000
      val len = (h / 7) % (if (i % 5 == 0) 4000 else 300)
      (k, i.toLong + side * 1000, start, start + len)
    }
    val left = gen(0, 80).toDF("k", "lid", "ls", "le")
    val right = gen(1, 80).toDF("k", "rid", "rs", "re")
    val got = Relational.intervalJoin(left, right, Seq("k"),
      "ls", "le", "rs", "re", gridWidth = 500)
      .select("k", "lid", "rid")
    val want = left.join(right, Seq("k"))
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select("k", "lid", "rid")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("session_overlap equals a driver-side brute force over typed sessions") {
    val got = Temporal.sessionOverlap(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // driver-side: sessionize per (type, user), brute-force pair overlaps
    val events = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"),
        unix_millis(col("ts").cast("timestamp"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val sessions = events.groupBy(e => (e._1, e._2)).toSeq.flatMap {
      case ((et, uid), es) =>
        val ms = es.map(_._3).sorted
        val bounds = ms.tail.foldLeft(Vector(Vector(ms.head))) { (acc, t) =>
          if (t - acc.last.last > 30L * 60 * 1000) acc :+ Vector(t)
          else acc.init :+ (acc.last :+ t)
        }
        bounds.zipWithIndex.map { case (b, i) =>
          (et, uid, i + 1L, b.min, b.max)
        }
    }
    val want = (for {
      a <- sessions; b <- sessions
      if a._1 == b._1 && a._2 < b._2 && a._4 <= b._5 && b._4 <= a._5
    } yield (a._1, a._2, a._3, b._2, b._3,
      math.min(a._5, b._5) - math.max(a._4, b._4))).toSet
    assert(got == want, s"got ${got.size}, want ${want.size}")
    got.foreach { p => assert(p._6 >= 0, s"negative overlap: $p") }
  }

  test("skew report: top-k keys and shares match a driver-side count, no global sort") {
    val df = Temporal.skewReport(spark, sfDir)
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val all = Tables.events(spark, sfDir).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val total = all.map(_._2).sum.toDouble
    val want = all.sortBy { case (u, n) => (-n, u) }.take(Temporal.SkewTopK)
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case (((rk, u, n, pct), (wu, wn)), i) =>
      assert(rk == i + 1 && u == wu && n == wn, s"row $i")
      assert(math.abs(pct - n / total * 100) < 1e-6, s"row $i pct")
    }
  }

  test("events_rolling: frame sums match a hand scan of one user's history") {
    import graft.queries.Events
    val out = Events.eventsRolling(spark, sfDir)
    assert(out.count() == Tables.events(spark, sfDir).count())
    val uid = Tables.events(spark, sfDir).select("user_id").head.getLong(0)
    val hist = Tables.events(spark, sfDir).filter(col("user_id") === uid)
      .select(col("event_id"), col("ts"), round(col("value") * 100).cast("bigint"))
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    val got = out.filter(col("user_id") === uid)
      .select("event_id", "mov_cents", "n_win", "delta_cents")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    hist.zipWithIndex.foreach { case ((eid, _, _), i) =>
      val frame = hist.slice(math.max(0, i - Events.RollingFrame), i + 1)
      val delta = if (i == 0) None else Some(hist(i)._3 - hist(i - 1)._3)
      assert(got(eid) == ((frame.map(_._3).sum, frame.length.toLong, delta)),
        s"row $i of user $uid")
    }
  }

  test("scd2 intervals tile each user's timeline: no gaps, one open interval") {
    import graft.queries.Events
    val rows = Events.scd2Intervals(spark, sfDir)
      .filter(col("user_id") === Tables.events(spark, sfDir).select("user_id").head.getLong(0))
      .orderBy(col("valid_from"), col("event_id")).collect()
    assert(rows.nonEmpty)
    // exactly the last interval is open/current
    assert(rows.count(_.getBoolean(5)) == 1 && rows.last.getBoolean(5))
    // each interval closes where the next opens (contiguous history)
    rows.sliding(2).filter(_.size == 2).foreach { case Array(a, b) =>
      assert(a.get(4) == b.get(3), s"gap between ${a.get(4)} and ${b.get(3)}")
    }
  }
}
