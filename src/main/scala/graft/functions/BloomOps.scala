package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.GraftPlanBridge

/** Column-API bridge to Spark's own bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the pair Catalyst's
  * runtime row-level filtering injects around big joins, not exposed as
  * public functions). The wrappers build them directly, so semi-join
  * pre-filters can be stated declaratively (SQL users get them as
  * `graft_bloom_agg` / `graft_bloom_contains` through `GraftExtensions`):
  *
  *   - `bloomAgg(xxhash64(key), items, bits)` aggregates a corpus of longs
  *     into ONE binary sketch (partially aggregable — each task builds a
  *     partial filter, merge is bitwise OR, the exchange carries a few MB
  *     regardless of corpus size);
  *   - `bloomContains(bf, xxhash64(key))` is a codegen'd probe with NO false
  *     negatives, so `filter(bloomContains(...))` before an exact semi-join
  *     never changes the result — it only shrinks the join's build input.
  *
  * At 100 TB this is the difference between broadcasting an exact key set
  * (unbounded) and broadcasting a fixed-size sketch plus confirming the few
  * surviving candidates exactly.
  */
object BloomOps {
  /** Aggregate a LONG column (pre-hash with xxhash64) into one bloom sketch
    * sized for `expectedItems` at ~`numBits` bits.
    */
  def bloomAgg(hashed: Column, expectedItems: Long, numBits: Long): Column =
    GraftPlanBridge.column(
      new BloomFilterAggregate(GraftPlanBridge.expression(hashed),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Probe: true if `hashed` may be in the sketch (never false for members). */
  def bloomContains(bf: Column, hashed: Column): Column =
    GraftPlanBridge.column(BloomFilterMightContain(
      GraftPlanBridge.expression(bf), GraftPlanBridge.expression(hashed)))
}
