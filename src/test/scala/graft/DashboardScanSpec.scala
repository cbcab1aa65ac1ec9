package graft

import graft.ops.{Dashboard, DashboardScan}
import org.apache.spark.sql.Row

/** The scan cascade must compute the same function as the window cascade
  * on every partitioning — including partition counts far above the row
  * count (empty partitions, multi-partition warm-up chains).
  */
class DashboardScanSpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Array[Row] =
    df.orderBy("symbol", "datetime").collect()

  private def assertSame(a: Array[Row], b: Array[Row], ctx: String): Unit = {
    assert(a.length == b.length, s"$ctx: ${a.length} vs ${b.length} rows")
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      (0 until x.length).foreach { j =>
        val (u, v) = (x.get(j), y.get(j))
        (u, v) match {
          case (null, null) => ()
          case (du: Double, dv: Double) =>
            // NaN equals NaN, as in Spark SQL
            val tol = 1e-9 * math.max(1.0, math.max(math.abs(du), math.abs(dv)))
            assert((du.isNaN && dv.isNaN) || math.abs(du - dv) <= tol,
              s"$ctx row $i col $j: $du vs $dv (row: $x / $y)")
          case _ =>
            assert(u == v, s"$ctx row $i col $j: $u vs $v (row: $x / $y)")
        }
      }
    }
  }

  private val extremaCols = Seq("symbol", "datetime", "h5", "l5", "c20max", "c20min",
    "prev_h5", "prev_l5", "stoch_k", "stoch_d")

  /** The scan's extrema and stochastic columns by their window formulas. */
  private def extremaWindows(dir: String): org.apache.spark.sql.DataFrame = {
    import graft.ops.{Indicators, Rolling}
    import org.apache.spark.sql.functions.col
    Indicators.withStochastic(
      graft.sources.Bars(spark, dir)
        .withColumn("h5", Rolling.rmax(col("high"), 5))
        .withColumn("l5", Rolling.rmin(col("low"), 5))
        .withColumn("c20max", Rolling.rmax(col("close"), 20))
        .withColumn("c20min", Rolling.rmin(col("close"), 20))
        .withColumn("prev_h5", Rolling.lag1(col("h5")))
        .withColumn("prev_l5", Rolling.lag1(col("l5"))))
      .select(extremaCols.head, extremaCols.tail: _*)
  }

  test("scan cascade matches the window cascade (default partitioning)") {
    val w = rows(Dashboard.cascadeWindows(spark, sf))
    val s = rows(DashboardScan.cascade(spark, sf))
    assert(w.nonEmpty)
    assert(w.head.length == s.head.length, "column arity differs")
    assertSame(w, s, "default")
  }

  test("scan cascade is partitioning-invariant (chained multi-partition warm-up)") {
    val w = rows(Dashboard.cascadeWindows(spark, sf))
    // 64 partitions over ~hundreds of rows: every chunk is far below
    // TailLen, so warm-up tails compose across MANY partitions, and some
    // partitions are empty — the adversarial case for the driver fold.
    val s64 = rows(DashboardScan.cascade(spark, sf, numPartitions = 64))
    assertSame(w, s64, "n=64")
    val s2 = rows(DashboardScan.cascade(spark, sf, numPartitions = 2))
    assertSame(w, s2, "n=2")
  }

  test("scan cascade matches the window cascade over a NaN-close bar (Spark SQL NaN ordering)") {
    // Spark SQL orders NaN above every number and equal to itself: a
    // rolling max over a NaN is NaN, a rolling min skips it, `NaN > 0`
    // holds. One event of value NaN, last in its minute, makes an AAPL
    // bar with close and high NaN mid-series; both arms read the copy
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-scan-nan")
    try {
      val events = graft.sources.Tables.events(spark, sf)
      val aapl = events.where(col("user_id") % 3 === 0).orderBy("ts").collect()
      val at = aapl(aapl.length / 2)
      val nan = events.where(col("event_id") === at.getAs[Long]("event_id"))
        .withColumn("event_id", lit(Long.MaxValue))
        .withColumn("ts", date_trunc("minute", col("ts")) + expr("INTERVAL 59 SECONDS"))
        .withColumn("value", lit(Double.NaN))
      events.unionByName(nan).write.parquet(dir.resolve("events.parquet").toString)
      val w = rows(Dashboard.cascadeWindows(spark, dir.toString))
      assert(w.exists(r => r.getAs[Double]("close").isNaN), "no NaN-close bar")
      for (n <- Seq(0, 2, 64))
        assertSame(w, rows(DashboardScan.cascade(spark, dir.toString, numPartitions = n)), s"NaN n=$n")
      val we = rows(extremaWindows(dir.toString))
      assert(we.exists(r => !r.isNullAt(r.fieldIndex("h5")) && r.getAs[Double]("h5").isNaN),
        "no rolling max over the NaN bar")
      for (n <- Seq(0, 2, 64))
        assertSame(we, rows(DashboardScan.cascadeScanOnly(spark, dir.toString, numPartitions = n)
          .select(extremaCols.head, extremaCols.tail: _*)), s"NaN extrema n=$n")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("extrema/stochastic scan columns match their window formulas on every partitioning") {
    // round-12 task 3: the w8/w9/w13 dispatch columns — bounded frames
    // only (<= 20 rows + one lag), so the warm-up makes them EXACT, not
    // just under-rounding like the EMA family
    val win = rows(extremaWindows(sf))
    for (n <- Seq(0, 2, 64)) {
      val scan = rows(DashboardScan.cascadeScanOnly(spark, sf, numPartitions = n)
        .select(extremaCols.head, extremaCols.tail: _*))
      assertSame(win, scan, s"extrema n=$n")
    }
  }

  test("TailLen margin: truncated EMA warm-up sits >=100x under the 6-dp rounding threshold") {
    // The scan tier seeds every EMA TailLen rows early instead of at the
    // key's true start; truncated history contributes at most
    // (1-alpha_min)^(TailLen - 64) relative (alpha_min = 1/14, the ADX
    // family; 64 discounts the bounded frames and chained lags the
    // warm-up must also cover). w1-w6 and the flagship ride this arm at
    // deep history (Indicators.tiered), so the margin IS the w1-w6
    // correctness headroom: at a generous 1e6 value-magnitude bound the
    // absolute error must stay two orders under the 0.5e-6 gate
    // rounding. Shrinking TailLen past this pin turns the documented
    // ~1e-10-per-cell triage note into a live flake mode — fail here
    // first, loudly.
    val alphaMin = 1.0 / 14.0
    val maxAbs = 1e6
    val err = math.pow(1.0 - alphaMin, DashboardScan.TailLen - 64) * maxAbs
    assert(err * 100 <= 0.5e-6,
      f"TailLen=${DashboardScan.TailLen} leaves warm-up error $err%.3e " +
        f"within 100x of the 0.5e-6 rounding threshold")
  }
}
