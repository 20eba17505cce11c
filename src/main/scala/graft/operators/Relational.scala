package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, MapType, StructField, StructType,
  TimestampNTZType, TimestampType}

/** Generic relational operators Spark lacks as built-ins, composed
  * Spark-first from declarative plans (no custom physical operators needed —
  * Catalyst's existing exchange/sort/broadcast machinery already provides
  * the right physical shapes).
  */
object Relational {

  /** Per-group top-k: within each `by` group, the rows ranked 1..k by
    * `order` (callers end `order` with a unique tie-break so the cut is
    * engine-independent), their rank as the int column `rank`. Groups
    * with fewer than k rows keep all of them.
    *
    * The shape — an int `row_number` compared `<=` to an int literal — is
    * what Spark's InferWindowGroupLimit rewrites into a WindowGroupLimit
    * below the window's shuffle, so each map task ships at most k rows per
    * group. Cast a caller-facing rank after the cut, never before.
    */
  private[graft] def topK(df: DataFrame, by: Seq[Column], order: Seq[Column],
                          k: Int, rank: String = "rank"): DataFrame =
    df.withColumn(rank, row_number().over(Window.partitionBy(by: _*).orderBy(order: _*)))
      .filter(col(rank) <= k)

  /** topK in two phases for groups too large for one reducer: phase 1 cuts
    * k per (group, salt) — the salt rides as column `salt`, its rank as
    * `rank + "1"` — so no window frame exceeds group/salts rows; phase 2
    * ranks the ≤ k·salts survivors per group. Per-salt top-k is a superset
    * of the group's top-k, so the output equals `topK(df, by, order, k,
    * rank)`.
    */
  private[graft] def saltedTopK(df: DataFrame, by: Seq[Column], order: Seq[Column],
                                k: Int, salt: Column, rank: String = "rank"): DataFrame =
    topK(topK(df.withColumn("salt", salt), by :+ col("salt"), order, k, rank + "1"),
      by, order, k, rank).drop("salt", rank + "1")

  /** Inner equi-join of `df` with a bounded frame `small` held on the
    * driver, on the atomic column `key`: `df`'s columns, then `small`'s
    * other columns. `small` is collected once (a projection over a local
    * relation folds into one, so its collect runs no job) and rides in the
    * plan as ONE map literal from key to the array of its rows; each `df`
    * row inlines its key's array, so a missing or null key yields no row
    * and duplicates multiply as in a join. The join runs inside
    * `df`'s own stage: no broadcast job, no exchange, and `df`'s output
    * partitioning is kept. The literal ships with every task and each
    * lookup scans its keys, so `small` must be request-sized.
    */
  private[graft] def lookupJoin(df: DataFrame, key: String, small: DataFrame): DataFrame = {
    val k = small.schema.fieldIndex(key)
    val rest = StructType(small.schema.fields.filterNot(_.name == key))
    val mapType = MapType(small.schema(key).dataType, ArrayType(rest, containsNull = false),
      valueContainsNull = false)
    val byKey = small.collect().toSeq.filterNot(_.isNullAt(k)).groupBy(_.get(k))
      .map { case (kv, rs) => kv -> rs.map(r => Row.fromSeq(r.toSeq.patch(k, Nil, 1))) }
    val rows = GraftPlanBridge.column(
      Literal(CatalystTypeConverters.createToCatalystConverter(mapType)(byKey), mapType))
    df.select(col("*"), inline(element_at(rows, col(key))))
  }

  /** As-of join: for each left row, attach the payload of the latest right
    * row with the same key and `right.ts <= left.ts` (direction=backward,
    * the default; ties → largest `tieBreak`), or the earliest right row
    * with `right.ts >= left.ts` (direction=forward; ties → smallest
    * `tieBreak`). Both inclusive.
    *
    * Implemented as the MERGE-style union + sorted window, not a per-row
    * probe join: tag sides, union, then one window per key ordered by
    * (ts, side, tieBreak) carrying the matched right row forward. The
    * payload travels as ONE struct per right row, so it is attached
    * ATOMICALLY — a genuinely-null payload field stays null instead of
    * being back-filled from an older right row, which is what independent
    * per-column ignore-nulls carries would do.
    * Cost at scale: ONE shuffle of left+right by the key plus a per-key
    * sort — same exchange a sort-merge join would pay, but with no
    * candidate explosion on duplicate timestamps and no range predicate
    * the optimizer can't push. A per-key skew hotspot behaves like any
    * window skew (AQE handles the shuffle; the sort is per-partition).
    *
    * Left rows with no matching right row get null payloads. All left
    * columns are kept; right payload columns come back as `prefix+name`.
    *
    * `tolerance` (same units as a numeric `tsCol`, or microseconds for
    * timestamps) bounds the lookback like pandas merge_asof: a match
    * further away than `tolerance` yields nulls. The matched right
    * timestamp rides in the carried struct, so the plan stays ONE window
    * with no extra exchange.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, tieBreak: String, payload: Seq[String],
               prefix: String = "asof_", tolerance: Option[Long] = None,
               direction: String = "backward"): DataFrame = {
    require(payload.contains(tieBreak),
      s"tieBreak '$tieBreak' must be one of the carried payload columns $payload")
    require(direction == "backward" || direction == "forward",
      s"direction must be backward or forward, got '$direction'")
    require(!payload.contains("__ts"), "payload name '__ts' is reserved")
    val backward = direction == "backward"
    val leftCols = left.columns.toSeq
    val carry = prefix + "__p"
    val outNames = payload.map(prefix + _)
    require(leftCols.intersect(outNames :+ carry).isEmpty,
      s"left columns collide with output payload names ${outNames :+ carry}")
    // the matched right row travels as one struct: payload fields + its ts
    // (the ts powers the tolerance bound)
    val rStruct = StructType(
      payload.map(p => StructField(p, right.schema(p).dataType)) :+
        StructField("__ts", right.schema(tsCol).dataType))
    val lTagged = left.withColumn("__side", lit(1))
      .withColumn(carry, lit(null).cast(rStruct))
    val rTagged = {
      val keep = keys :+ tsCol
      val base = leftCols.filterNot(keep.contains).foldLeft(right) {
        case (df, c) => // carry the left schema's column as typed null
          df.withColumn("__null_" + c, lit(null).cast(left.schema(c).dataType))
      }
      val sel = keys.map(col) ++ Seq(col(tsCol)) ++
        leftCols.filterNot(keep.contains).map(c => col("__null_" + c).as(c)) ++
        Seq(lit(0).as("__side"),
          struct(payload.map(p => col(p).as(p)) :+ col(tsCol).as("__ts"): _*).as(carry))
      base.select(sel: _*)
    }
    // backward walks time ascending and keeps the LAST right seen (latest
    // at-or-before, ties → max tieBreak); forward walks descending and so
    // keeps the earliest at-or-after (ties → min tieBreak). Both inclusive.
    val tieField = col(carry).getField(tieBreak)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(
        if (backward) col(tsCol).asc else col(tsCol).desc,
        col("__side").asc,
        if (backward) tieField.asc else tieField.desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val unioned = lTagged.unionByName(rTagged)
    // one projection with the single carried struct → ONE Window operator
    val carried = unioned.select(
      unioned.columns.filterNot(_ == carry).map(col) :+
        last(col(carry), ignoreNulls = true).over(w).as(carry): _*)
    val matched = carried.filter(col("__side") === 1)
    // unpack the struct; under a tolerance, a too-distant match nulls out
    val keepMatch = tolerance.fold(lit(true)) { t =>
      def micros(c: Column): Column = right.schema(tsCol).dataType match {
        case TimestampType => unix_micros(c)
        case TimestampNTZType => unix_micros(c.cast("timestamp"))
        case _ => c.cast("long")
      }
      val matchTs = col(carry).getField("__ts")
      val age =
        if (backward) micros(col(tsCol)) - micros(matchTs)
        else micros(matchTs) - micros(col(tsCol))
      age <= t // null age (no match) → false → nulls, same as no match
    }
    matched.select(leftCols.map(col) ++ payload.map(p =>
      when(keepMatch, col(carry).getField(p))
        .otherwise(lit(null).cast(rStruct(p).dataType)).as(prefix + p)): _*)
  }

  /** Banded (interval) join: map each fact row to the band whose
    * [lo, hi) range contains `valueCol`. The band table is broadcast, so
    * the physical plan is a BroadcastNestedLoopJoin — no shuffle of the
    * fact side at any scale; per-row cost is a scan of the (small) band
    * list. For large band tables a production variant would bucketize
    * (`width_bucket`-style) or use a sorted-probe expression; for the
    * dimension-sized band lists this operator targets, broadcast NLJ is
    * the right physical shape and keeps arbitrary interval semantics.
    */
  def bandedJoin(facts: DataFrame, bands: DataFrame, valueCol: String,
                 loCol: String = "lo", hiCol: String = "hi"): DataFrame =
    facts.join(broadcast(bands),
      col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol), "inner")

  /** Specialization of bandedJoin for UNIFORM CONTIGUOUS bands (equal
    * positive width, each hi == next lo, ascending): no join at all —
    * `width_bucket` computes the band index arithmetically inside
    * whole-stage codegen and the label attaches by index. Rows outside
    * [first lo, last hi) are dropped, matching the inner banded join.
    * This is the 100 TB path when the band table tiles the domain evenly:
    * zero exchanges, zero per-row band-list scans.
    *
    * CONTRACT: band edges must be exactly-representable doubles (integers,
    * or multiples of a power of two such as 0.25/12.5). width_bucket
    * computes the index arithmetically — (v-lo)·n/(hi-lo) — so for a
    * tiling whose width is not exactly representable (e.g. 0.1), a value
    * sitting exactly on an interior boundary can round into the adjacent
    * bucket relative to bandedJoin's [lo, hi) comparisons. The equal-width
    * `require` below uses exact equality deliberately: a band list built
    * from non-representable increments usually fails it, pushing the
    * caller to the generic bandedJoin. Boundary agreement for
    * representable tilings is property-tested in RelationalSpec.
    */
  def bandedJoinContiguous(facts: DataFrame,
                           bands: Seq[(String, Double, Double)],
                           valueCol: String): DataFrame = {
    require(bands.nonEmpty && bands.head._2 < bands.head._3,
      "bands must have positive width")
    require(bands.sliding(2).forall {
      case Seq((_, lo1, hi1), (_, lo2, hi2)) => hi1 == lo2 && (hi1 - lo1) == (hi2 - lo2)
      case _ => true
    }, "bands must be ordered, contiguous and equal-width")
    val lo = bands.head._2; val hi = bands.last._3
    val labels = array(bands.map(b => lit(b._1)): _*)
    val idx = width_bucket(col(valueCol), lit(lo), lit(hi), lit(bands.size))
    facts.filter(col(valueCol) >= lo && col(valueCol) < hi)
      .withColumn("band", element_at(labels, idx.cast("int")))
  }

  /** Salted replicate join — the skew pattern for an equality join whose
    * LEFT side has hot keys and whose RIGHT side is too big to broadcast
    * but small enough to replicate `salts`×: each right row is exploded
    * into every salt bucket, each left row picks ONE deterministic salt
    * from `saltBy` (a content-derived column — NOT rand(), so retries and
    * recomputed partitions land identically), and the join runs on
    * (keys, salt). A key with s rows then occupies `salts` reducers at
    * s/salts rows each instead of pinning one. Inner/left-outer semantics
    * are identical to the unsalted join (property-tested); right-side
    * shuffle volume grows by the replication factor — the explicit price,
    * paid only when skew actually bounds the job. AQE's skew-join split
    * handles sort-merge cases adaptively; this static form is for when
    * the planner can't (first shuffle of a hot-keyed aggregate input, or
    * disabled/ineffective AQE).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 salts: Int, saltBy: Column,
                 joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      "salting replicates the right side: only inner/left joins are sound")
    // NULL saltBy must not strand the row (NULL pmod → NULL salt matches no
    // replica): coalesce to bucket 0, which holds a full right replica, so
    // inner/left semantics stay identical to the unsalted join for every row
    val l = left.withColumn("__salt",
      coalesce(pmod(saltBy, lit(salts)), lit(0)).cast("int"))
    val r = right.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Interval-overlap join (interval × interval — the class E9's bandedJoin
    * specializes to point × interval): rows pair iff their CLOSED intervals
    * [start, end] intersect, with equality `keys` co-partitioning. The
    * scale shape: each interval explodes into the grid cells it covers
    * (cells/interval ≈ length/gridWidth + 1 — size the grid near the
    * typical interval length to keep replication ~2×), candidates come
    * from ONE equality join on (keys, cell), the exact overlap predicate
    * prunes false cell-mates, and each pair is emitted EXACTLY ONCE by the
    * canonical-cell rule: a pair only survives in the cell containing
    * max(lStart, rStart) — a cell both intervals cover iff they overlap —
    * so multi-cell pairs dedup by construction, with no distinct() pass
    * (which would also have collapsed genuinely duplicate input rows;
    * input multiplicity is preserved exactly). Never a cross join, never
    * an unbounded inequality join; a hot cell is bounded by intervals
    * alive in one grid slot. Bounds are numeric (epoch ms long for time
    * intervals).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   lStart: String, lEnd: String,
                   rStart: String, rEnd: String,
                   gridWidth: Long): DataFrame = {
    require(gridWidth > 0, "gridWidth must be positive")
    def cells(s: Column, e: Column): Column =
      sequence(floor(s / gridWidth).cast("long"), floor(e / gridWidth).cast("long"))
    val l = left.withColumn("__cell", explode(cells(col(lStart), col(lEnd))))
    val r = right.withColumn("__cell", explode(cells(col(rStart), col(rEnd))))
    l.join(r, keys :+ "__cell")
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd))
      .filter(col("__cell") ===
        floor(greatest(col(lStart), col(rStart)) / gridWidth).cast("long"))
      .drop("__cell")
  }
}
