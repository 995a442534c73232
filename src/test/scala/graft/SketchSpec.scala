package graft

import graft.functions.SketchFunctions._
import org.apache.spark.sql.functions._

/** Sketch error-bound guarantees on the real testdata: bloom has no
  * false negatives and bounded false positives; count-min never
  * undercounts and overcounts within eps·N. */
class SketchSpec extends SparkSuite {
  import spark.implicits._

  test("bloom filter: zero false negatives, bounded false positives") {
    val orders = Tables.orders(spark, sf())
    val big = orders.filter(col("o_totalprice") > 300000)
    val bloom = buildBloom(big, col("o_orderkey"),
      expectedItems = 2048L, numBits = 32768L)
    val keys = big.select("o_orderkey").as[Long].collect().toSet
    // no false negatives: every inserted key must probe true
    val misses = orders.filter(col("o_orderkey").isin(keys.toSeq: _*))
      .filter(!mightContain(bloom, col("o_orderkey"))).count()
    assert(misses === 0L, "bloom false negative — impossible by contract")
    // false positives bounded: probe keys far outside the inserted set
    val fp = spark.range(10_000_000, 10_050_000)
      .filter(mightContain(bloom, col("id"))).count()
    assert(fp < 2500, s"false-positive rate ${fp / 50000.0} too high")
  }

  test("count-min sketch: never undercounts, overshoot within eps*N") {
    val li = Tables.lineitem(spark, sf())
    val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val n = exact.values.sum
    val cms = buildCms(li, col("l_partkey"), eps = 0.005, conf = 0.99)
    assert(cms.totalCount() === n)
    val overshootBound = math.ceil(0.005 * n).toLong
    exact.foreach { case (k, c) =>
      val est = cms.estimateCount(k)
      assert(est >= c, s"CMS undercounted key $k: $est < $c")
      assert(est <= c + overshootBound,
        s"CMS overshoot for $k: $est vs $c + $overshootBound")
    }
  }

  test("partitioned HLL sketches merge to a near-exact distinct count") {
    // the audit frame carries approx + exact + rel_err (the query
    // projects only the oracle-checkable claims); re-derive the error
    // here so a broken in-query rel_err column can't vouch for itself
    val rows = operators.RelationalOps.a12HllPartitionedAudit(spark, sf())
      .as[(String, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val exact = Tables.events(spark, sf())
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("nd"))
      .as[(String, Long)].collect().toMap
    assert(rows.map(_._1).toSet === exact.keySet)
    rows.foreach { case (t, approx, exactCol, relErr) =>
      assert(exactCol === exact(t), s"$t: in-query exact column is wrong")
      val derived = math.abs(approx - exactCol).toDouble / exactCol
      assert(math.abs(relErr - derived) < 1e-6,
        s"$t: in-query rel_err $relErr != derived $derived")
      // default lgConfigK=12 ⇒ rsd ≈ 1.04/√4096 ≈ 1.63%; 3σ ≈ 4.9%
      assert(relErr < 0.05,
        s"$t: merged-HLL estimate $approx too far from exact $exactCol")
    }
  }

  test("a5_approx_distinct: in-query relative error within 4 rsd") {
    val r = operators.RelationalOps.a5ApproxDistinctAudit(spark, sf())
      .collect().head
    val relParts = r.getAs[Double]("rel_err_parts")
    val relOrders = r.getAs[Double]("rel_err_orders")
    // rsd=0.05 requested in-query; 4 standard deviations
    assert(relParts <= 0.2, s"HLL parts rel err $relParts > 4·rsd")
    assert(relOrders <= 0.2, s"HLL orders rel err $relOrders > 4·rsd")
    // the error column must agree with the approx/exact pair it rides with
    val derived = math.abs(r.getAs[Long]("n_parts_approx") -
      r.getAs[Long]("n_parts_exact")).toDouble / r.getAs[Long]("n_parts_exact")
    assert(math.abs(relParts - derived) < 1e-6)
  }

  test("a8_sketches: percentile rank error within the 1/accuracy bound") {
    val r = operators.RelationalOps.a8SketchesAudit(spark, sf())
      .collect().head
    // approx_percentile(…, accuracy=1000) guarantees |rank/N − p| ≤
    // 1/accuracy — a HARD deterministic bound, not probabilistic
    assert(r.getAs[Double]("p50_rank_err") <= 0.001 + 1e-9,
      s"p50 rank error ${r.getAs[Double]("p50_rank_err")} breaks the GK bound")
    assert(r.getAs[Double]("p90_rank_err") <= 0.001 + 1e-9,
      s"p90 rank error ${r.getAs[Double]("p90_rank_err")} breaks the GK bound")
    assert(r.getAs[Double]("nd_rel_err") <= 0.2,
      s"HLL rel err ${r.getAs[Double]("nd_rel_err")} > 4·rsd")
  }

  test("sketch queries project every contract flag as TRUE") {
    // the oracle pins these flags to TRUE — catch a broken-bound
    // regression here, before the driver's hash gate
    for (q <- Seq("a5_approx_distinct", "a8_sketches", "a12_hll_partitioned")) {
      val df = SparkEntry.queries(q)(spark, sf())
      val flags = df.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.BooleanType)
        .map(_.name)
      assert(flags.nonEmpty, s"$q: no claim flags in output")
      df.collect().foreach { r =>
        flags.foreach(f => assert(r.getAs[Boolean](f), s"$q: flag $f false"))
      }
    }
  }

  test("native CmsEstimate probe == driver-side estimateCount, key for key") {
    val li = Tables.lineitem(spark, sf())
    val bytes = buildCmsBytes(li, col("l_partkey"), eps = 0.005, conf = 0.99)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    // probe the executor-side expression over the part dictionary and
    // compare every estimate against the driver handle
    val probed = Tables.part(spark, sf())
      .select(col("p_partkey"), cmsEstimate(bytes, col("p_partkey")).as("est"))
      .as[(Long, Long)].collect()
    assert(probed.nonEmpty)
    probed.foreach { case (k, est) =>
      assert(est === cms.estimateCount(k),
        s"executor probe diverged from driver estimate for key $k")
    }
  }

  test("sketch-driven heavy hitters: candidate over-fetch covers the " +
    "exact top-10") {
    // the a11 contract requires estimate-ranked top-200 ⊇ exact top-10;
    // verify directly on the real data so a regression shows up here
    // before the oracle gate
    val li = Tables.lineitem(spark, sf())
    val bytes = buildCmsBytes(li, col("l_partkey"), eps = 0.00002, conf = 0.99)
    val candidates = Tables.part(spark, sf())
      .select(col("p_partkey"), cmsEstimate(bytes, col("p_partkey")).as("est"))
      .orderBy(col("est").desc, col("p_partkey")).limit(200)
      .select("p_partkey").as[Long].collect().toSet
    val top10 = li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_partkey")).limit(10)
      .select("l_partkey").as[Long].collect()
    val missed = top10.filterNot(candidates.contains)
    assert(missed.isEmpty,
      s"true heavy hitters missing from sketch candidates: ${missed.toSeq}")
  }

  test("KLL quantile sketch: direct and merged estimates stay inside " +
      "the published rank-error bound; tiny inputs are exact") {
    def median(sketch: org.apache.spark.sql.Column) =
      kll_sketch_get_quantile_double(sketch, lit(0.5))
    val df = spark.range(1, 10001)
      .select((col("id") % 10).as("g"), col("id").cast("double").as("x"))
    // direct build over all rows
    val direct = df.agg(median(kll_sketch_agg_double(col("x"))))
      .head.getDouble(0)
    // per-group sketches merged — the MV rollup path
    val merged = df.groupBy("g")
      .agg(kll_sketch_agg_double(col("x")).as("sk"))
      .agg(median(kll_merge_agg_double(col("sk")))).head.getDouble(0)
    // x is uniform on [1,10000]: a rank-error eps maps to a value error
    // of eps*n. 3x the k=200 normalized bound (~1.65%) over both the
    // build and one merge level — generous, never flakes
    val tol = 3 * 0.0165 * 10000
    assert(math.abs(direct - 5000.0) <= tol, s"direct median $direct")
    assert(math.abs(merged - 5000.0) <= tol, s"merged median $merged")
    // below the sketch's retained capacity everything is EXACT, and
    // nulls are ignored like every SQL aggregate
    val tiny = Seq(Some(1.0), Some(2.0), Some(3.0), None).toDF("x")
    assert(tiny.agg(median(kll_sketch_agg_double(col("x"))))
      .head.getDouble(0) === 2.0)
    // q=0 / q=1 are min / max
    assert(tiny.agg(kll_sketch_get_quantile_double(
      kll_sketch_agg_double(col("x")), lit(1.0))).head.getDouble(0) === 3.0)
  }
}
