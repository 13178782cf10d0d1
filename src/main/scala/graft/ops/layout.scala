package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Physical-layout operators: a multi-dimensional clustering key for
 * data-skipping.
 *
 * At 100 TB the scan cost of a query is decided before it runs — by how
 * the files were laid out. Range-partitioning on ONE key gives perfect
 * min/max pruning on that key and none on any other; interleaving the
 * bits of two keys (Morton / Z-order) gives useful pruning on BOTH,
 * because a contiguous Z-range is a small rectangle in (x, y) space, so
 * every file's min/max footprint stays tight on each dimension.
 */
object layout {

  /**
   * 2-D Morton (Z-order) key: interleaves the low `bits` bits of `x`
   * (even positions) and `y` (odd positions). Pure composition of
   * codegen'd integer built-ins — `(x>>i & 1) << 2i  |  (y>>i & 1) <<
   * 2i+1` summed over the bit positions — so the whole key fuses into
   * the surrounding whole-stage-codegen; no custom kernel needed for a
   * once-per-row integer op.
   *
   * Callers clamp/scale dimensions into [0, 2^bits) first (`pmod`,
   * epoch-day, bucketed doubles); 16+16 bits fills a long's low 32.
   */
  def zorder2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xi = x.cast("long"); val yi = y.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(xi, i).bitwiseAND(1), 2 * i)
        .bitwiseOR(shiftleft(shiftright(yi, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }
}
