package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve arithmetic.
  *
  * Z-ordering interleaves the bits of two (bounded) key columns so that
  * rows close in EITHER dimension land close in the one-dimensional
  * sort order. The curve is computed by pure bit arithmetic (codegen'd,
  * engine-portable — the o4_zorder_key oracle reproduces it in SQL).
  * Clustering a table on a Z-curve is GDX's job
  * (`GdxSource.optimizeZOrder`, which uses its own bucketized
  * `ZValue` curve).
  */
object Layout {

  /** 32-bit Morton interleave of two 16-bit-truncated non-negative int
    * columns: bit i of x → bit 2i, bit i of y → bit 2i+1. */
  def morton16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _).cast("long")

  /** The same interleave as portable SQL text (for oracles / pure-SQL
    * users). */
  def morton16Sql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("CAST(", " + ", " AS BIGINT)")
}
