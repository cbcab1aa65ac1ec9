package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** The dashboard cascade as a KEY-COUNT-INDEPENDENT two-phase scan — the
  * 100 TB path for the flagship when the symbol universe is small.
  *
  * [[Dashboard.cascade]] is the right plan for many-symbols/modest-history:
  * one hash exchange on `symbol`, four Window operators, whole-stage
  * codegen throughout. But every window partitions by `symbol`, so with 3
  * hot symbols (the reference's universe, reference
  * `kafka_producer/yahoo_finance_producer.py:8-11`) the sort + all four
  * WindowExecs run on 3 tasks no matter how many executors exist — the
  * same single-key serialization [[graft.functions.EwmaScan]] solves for
  * W1, here for the WHOLE 25-column cascade.
  *
  * Design (the EwmaScan pattern, generalized):
  *   1. `repartitionByRange(n, symbol, datetime)` splits each symbol's
  *      history into n contiguous chunks — parallelism is n, not #symbols.
  *   2. Pass 1 collects each partition's trailing `TailLen` raw rows
  *      (key, close, high, low) — O(n · TailLen) driver bytes, same
  *      bounded-collect budget as EwmaScan's summaries.
  *   3. The driver composes, per partition, the incoming warm-up tail for
  *      its FIRST key (walking earlier partitions while the key matches —
  *      range partitioning guarantees any non-first key starts fresh
  *      inside its partition, so only the boundary key needs history).
  *   4. Pass 2 steps [[CascadeKernel]], the state machine the stream's
  *      cascade processor also runs, through each partition: warm-up
  *      rows seed the state (outputs discarded), then every owned row
  *      emits its cascade columns. Per-symbol globals
  *      (support/resistance/first/last) come from a separate tiny
  *      aggregate, broadcast-joined after the scan.
  *
  * Exactness: every BOUNDED window (rolling mean/min/max ≤ 20 rows, lags,
  * diffs) is bit-exact — the warm-up tail is longer than any frame and
  * the kernel replays the window folds' order. The EMA family is seeded
  * `TailLen` rows early instead of at the key's true start; the smallest
  * alpha in the cascade is 1/14, so the truncated history contributes
  * (13/14)^512 ≈ 4e-17 relative — below double ulp, ~10 orders under the
  * 6-dp oracle rounding (tighter than EwmaScan's documented 1e-12
  * reassociation). A NaN bar is the exception: it stays in a window EMA
  * for good, while this arm forgets one that lies more than `TailLen`
  * rows before a partition boundary. `DashboardScanSpec` checks equality
  * against the window cascade at 1e-9 across adversarial partitionings.
  *
  * Scale: two passes over the data (one shared range exchange — the
  * shuffle map stage is reused across both jobs), O(n·TailLen) driver
  * state, no per-symbol serialization anywhere. Growth sf1→sf10 is the
  * pass cost, flat in key count.
  */
object DashboardScan {

  /** Warm-up rows per partition boundary. (13/14)^(512-26) ≈ 4e-16:
    * beyond every bounded frame, below rounding for every EMA chain. */
  val TailLen = 512

  /** One partition's trailing raw rows (chronological), for boundary
    * warm-up composition on the driver. */
  private final case class Tail(
      firstKey: String, keys: Array[String],
      cs: Array[Double], hs: Array[Double], ls: Array[Double])

  // input projection indices (see `input` below)
  private val SYM = 0; private val HIGH = 3; private val LOW = 4; private val CLOSE = 5
  private val VOLUME = 6

  private val scanSchema = StructType(Seq(
    StructField("symbol", StringType), StructField("datetime", TimestampType),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", LongType), StructField("indicator", StringType),
    StructField("ema5", DoubleType), StructField("ema15", DoubleType),
    StructField("sma", DoubleType), StructField("rsi", DoubleType),
    StructField("tsi", DoubleType), StructField("macd", DoubleType),
    StructField("macd_signal", DoubleType), StructField("adx", DoubleType),
    StructField("scalping_signal", IntegerType),
    StructField("momentum_signal", IntegerType),
    StructField("breakout_signal", IntegerType),
    StructField("ascending_triangle", BooleanType, nullable = false),
    StructField("descending_triangle", BooleanType, nullable = false),
    StructField("rounding_bottom", BooleanType, nullable = false),
    StructField("color", StringType),
    // round-12 task 3: the remaining standalone window families (w8/w9
    // rolling/shifted extrema, w13 stochastic) dispatch onto this tier
    // at deep history — their columns are the state the cascade already
    // tracks (or a 14-frame view of the same raw ring), exposed here.
    // The flagship's withGlobals projection drops them, so
    // dashboard_cascade's oracle schema is unchanged.
    StructField("h5", DoubleType), StructField("l5", DoubleType),
    StructField("c20max", DoubleType), StructField("c20min", DoubleType),
    StructField("prev_h5", DoubleType), StructField("prev_l5", DoubleType),
    StructField("stoch_k", DoubleType), StructField("stoch_d", DoubleType)))

  /** The scan WITHOUT the per-symbol-globals join — the tier the
    * standalone indicator queries (w1-w6, and since round 12 the
    * extrema/pattern/strategy families w8/w9/w13/g1-g3/t4) dispatch
    * onto: they project only replayed-state columns, so the extra
    * globals aggregate pass (support/resistance/trend inputs) would be
    * a third data pass bought for columns the query drops. */
  def cascadeScanOnly(spark: SparkSession, dir: String,
      numPartitions: Int = 0): DataFrame =
    cascade(spark, dir, numPartitions, withGlobals = false)

  def cascade(spark: SparkSession, dir: String, numPartitions: Int = 0,
      withGlobals: Boolean = true): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    val scored = Core.scored(spark, dir)
    val input = scored.select(
      col("symbol"), col("datetime"), col("open"), col("high"), col("low"),
      col("close"), col("volume"), col("indicator"))
    val sorted = input.repartitionByRange(n, col("symbol"), col("datetime"))
      .sortWithinPartitions("symbol", "datetime")
    val rdd = sorted.rdd // shared lineage: the range-shuffle map stage runs once

    // pass 1: per-partition trailing TailLen raw rows
    val tails: Map[Int, Tail] = rdd.mapPartitionsWithIndex { (pid, it) =>
      val keys = new Array[String](TailLen)
      val cs = new Array[Double](TailLen)
      val hs = new Array[Double](TailLen)
      val ls = new Array[Double](TailLen)
      var pos = 0; var size = 0; var firstKey: String = null
      it.foreach { r =>
        val k = r.getString(SYM)
        if (firstKey == null) firstKey = k
        keys(pos) = k; cs(pos) = r.getDouble(CLOSE)
        hs(pos) = r.getDouble(HIGH); ls(pos) = r.getDouble(LOW)
        pos = (pos + 1) % TailLen; if (size < TailLen) size += 1
      }
      if (firstKey == null) Iterator.empty
      else { // unroll the ring chronologically
        val ord = (0 until size).map(k => (pos - size + k + 2 * TailLen) % TailLen)
        Iterator((pid, Tail(firstKey,
          ord.map(keys).toArray, ord.map(cs).toArray,
          ord.map(hs).toArray, ord.map(ls).toArray)))
      }
    }.collect().toMap

    // driver composition: incoming warm-up rows per partition's first key.
    // Range partitioning puts a key's entire earlier history in earlier
    // partitions, so walk back while the trailing rows still carry it.
    val incoming: Array[Array[(Double, Double, Double)]] =
      Array.tabulate(n) { p =>
        tails.get(p).map(_.firstKey) match {
          case None => Array.empty[(Double, Double, Double)]
          case Some(fk) =>
            val acc = new ArrayBuffer[(Double, Double, Double)]
            var q = p - 1
            var continue = true
            while (continue && q >= 0 && acc.length < TailLen) {
              tails.get(q) match {
                case None => // empty partition: keep walking
                case Some(t) =>
                  var i = t.keys.length - 1
                  val run = new ArrayBuffer[(Double, Double, Double)]
                  while (i >= 0 && t.keys(i) == fk) {
                    run.prepend((t.cs(i), t.hs(i), t.ls(i))); i -= 1
                  }
                  acc.prependAll(run)
                  // stop once this tail held a different key, or held a
                  // full TailLen of fk (enough history either way)
                  if (run.length < t.keys.length || t.keys.length == TailLen)
                    continue = false
              }
              q -= 1
            }
            acc.takeRight(TailLen).toArray
        }
      }
    val bcIn: Broadcast[Array[Array[(Double, Double, Double)]]] =
      spark.sparkContext.broadcast(incoming)

    // pass 2: sequential replay per partition, warm-up first
    val outRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
      var curKey: String = null
      var k: CascadeKernel = null
      it.map { r =>
        val key = r.getString(SYM)
        if (key != curKey) {
          k = new CascadeKernel(CascadeKernel.empty)
          if (curKey == null) // partition's first key: replay the warm-up tail
            bcIn.value(pid).foreach { case (c, h, l) => k.step(h, l, c, 0L) }
          curKey = key
        }
        k.step(r.getDouble(HIGH), r.getDouble(LOW), r.getDouble(CLOSE), r.getLong(VOLUME))
        Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
          r.get(6), r.get(7),
          k.ema5, k.ema15, k.sma, k.rsi, k.tsi, k.macd, k.macdSignal, k.adx,
          k.t1, k.t3, k.t4, k.g1, k.g2, k.g3, if (k.green) "green" else "red",
          k.h5, k.l5, k.c20max, k.c20min, k.prevH5, k.prevL5, k.stochK, k.stochD)
      }
    }
    val scan = spark.createDataFrame(outRdd, scanSchema)
    if (!withGlobals) return scan

    // per-symbol globals: tiny aggregate, broadcast-joined (datetime is
    // unique per symbol, so min_by/max_by ≡ the window first/last)
    val globals = scored.groupBy("symbol").agg(
      min("low").as("g_support"), max("high").as("g_resistance"),
      min_by(col("close"), col("datetime")).as("g_firstc"),
      max_by(col("close"), col("datetime")).as("g_lastc"))
    scan.join(broadcast(globals), "symbol")
      .select(col("symbol"), col("datetime"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), col("indicator"),
        col("ema5"), col("ema15"), col("sma"), col("rsi"), col("tsi"),
        col("macd"), col("macd_signal"), col("adx"),
        col("scalping_signal"),
        when(col("close") >= col("g_resistance") * 0.95, -1)
          .when(col("close") <= col("g_support") * 1.05, 1).otherwise(0)
          .as("range_signal"),
        col("momentum_signal"), col("breakout_signal"),
        col("ascending_triangle"), col("descending_triangle"),
        col("rounding_bottom"), col("color"),
        when(col("g_lastc") > col("g_firstc"), "Uptrend").otherwise("Downtrend")
          .as("trend"))
  }
}
