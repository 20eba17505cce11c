package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, round}

package object functions {

  /** `x` rounded to `scale` decimals as DuckDB rounds a DOUBLE: half away
    * from zero on the scaled double x·10^scale, then divided back. Spark's
    * `round(x, scale)` instead rounds x's shortest decimal string, so the
    * two disagree at ties the scaled double misses (0.61235·10^4 =
    * 6123.4999…: 0.6123 here and in DuckDB, 0.6124 under Spark's
    * `round(x, 4)`). At scale 0 Spark's rounding is exact (a double whose
    * fraction prints as .5 IS .5), so the outer `round` agrees with
    * DuckDB's `std::round`.
    */
  def roundScaled(x: Column, scale: Int): Column = {
    val p = lit(math.pow(10, scale))
    round(x * p) / p
  }
}
