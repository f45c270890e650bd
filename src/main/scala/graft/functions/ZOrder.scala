package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering key for multi-dimensional data layout.
  *
  * A table range-partitioned and sorted on ONE column skips beautifully on
  * that column and not at all on any other; interleaving the bits of two
  * columns into one Morton key makes ranges of the key correspond to
  * RECTANGLES in (x, y) space, so parquet row-group zone maps (min/max per
  * file) prune selective predicates on EITHER column — the layout key
  * behind Delta/Iceberg's OPTIMIZE ZORDER, as a codegen'd expression.
  *
  * The key is built from fixed bit-budget, bounded inputs (callers map raw
  * values into [0, 2^bits) first — modulo for ids, scaled quantiles for
  * continuous values); bit arithmetic only, so any SQL engine reproduces it.
  */
object ZOrder {

  /** Morton key: interleave the low `bits` bits of x (even positions) and
    * y (odd positions). Pure shift/mask expression — whole-stage codegen,
    * no UDF. */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val mask = (1L << bits) - 1
    val xm = x.cast("long").bitwiseAND(lit(mask))
    val ym = y.cast("long").bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      val xbit = shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i)
      val ybit = shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1)
      xbit.bitwiseOR(ybit)
    }.reduce(_ bitwiseOR _)
  }
}
