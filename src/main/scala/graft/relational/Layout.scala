package graft.relational

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Physical-layout helpers for 100 TB tables.
  *
  * [[zorder2]] builds the Morton (Z-order) key of two bounded ints: bit b
  * of x lands at position 2b, bit b of y at 2b+1. Sorting a table by this
  * key before writing clusters rows that are close in BOTH dimensions into
  * the same parquet row groups, so min/max pruning skips data for
  * predicates on x, on y, or on both — the standard multi-dimensional
  * data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER). A single-column
  * sort only ever prunes its leading column; the interleave is what buys
  * the second dimension.
  *
  * The key is a pure composed expression (shifts, masks, adds over
  * distinct bit positions — no carries), fully inside whole-stage codegen;
  * [[zorder2Sql]] emits the SAME formula as engine-portable SQL text from
  * the same loop, so an external system (or the DuckDB oracle) reproduces
  * the key bit-for-bit.
  */
object Layout {
  /** Morton key of two `bits`-bit non-negative ints (caller bounds them,
    * e.g. `pmod(col, 1 << bits)`). */
  def zorder2(x: Column, y: Column, bits: Int = 10): Column =
    (0 until bits).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)

  /** The same interleave as SQL text over column names `x` and `y`. */
  def zorder2Sql(x: String, y: String, bits: Int = 10): String =
    (0 until bits).map { b =>
      s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})"
    }.mkString(" + ")
}
