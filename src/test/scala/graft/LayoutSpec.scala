package graft

import graft.pipeline.Layout
import org.apache.spark.sql.functions._

/** Morton curve arithmetic: bit i of x lands on bit 2i, bit i of y on
  * bit 2i+1 (the o4_zorder_key oracle reproduces it in SQL). */
class LayoutSpec extends SparkSuite {

  test("morton16 interleaves bits (hand-computed cases)") {
    import spark.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .select(Layout.morton16(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // interleave(3,5): x bits {0,1} -> z {0,2}; y bits {0,2} -> z {1,5}
    assert(rows === Seq(0L, 1L, 2L, (1L | 4L | 2L | 32L), 0xFFFFFFFFL))
  }
}
