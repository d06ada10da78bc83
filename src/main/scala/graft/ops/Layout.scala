package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering — the
  * write-once lever that makes 2-D range predicates prunable at 100 TB.
  * A table range-partitioned and sorted by the interleaved key keeps BOTH
  * coordinates' min/max tight per file and per row group, so a box
  * predicate (a BETWEEN .. AND b BETWEEN ..) skips most of the data at
  * scan time, where a linear sort only prunes its leading column.
  * (The same trick Delta/Iceberg OPTIMIZE ZORDER applies; here the key
  * is a plain Column, so any write can range-partition and sort by it.)
  */
object Layout {

  /** Spread a 16-bit value's bits into the even positions of a 32-bit
    * lane: the classic mask-shift cascade (x | x<<8) & 0x00FF00FF …,
    * expressed as Column arithmetic — codegen'd integer ops, no UDF. */
  private def spread16(x: Column): Column = {
    val s8 = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FFL))
    val s4 = (s8.bitwiseOR(shiftleft(s8, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val s2 = (s4.bitwiseOR(shiftleft(s4, 2))).bitwiseAND(lit(0x33333333L))
    (s2.bitwiseOR(shiftleft(s2, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Morton code of two dimensions, each clamped to 16 bits: a's bits in
    * the even positions, b's in the odd. Monotone locality: points close
    * in (a, b) are close in zValue, which is what keeps per-file stats
    * tight on both columns. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 16, s"bits in [1,16], got $bits")
    val mask = (1L << bits) - 1L
    val ca = a.cast("long").bitwiseAND(lit(mask))
    val cb = b.cast("long").bitwiseAND(lit(mask))
    spread16(ca).bitwiseOR(shiftleft(spread16(cb), 1))
  }
}
