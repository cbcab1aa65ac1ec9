package graft.ops

/** The per-symbol indicator cascade as ONE incremental state machine:
  * [[CascadeKernel.step]] advances a key's state by one bar (in event-time
  * order) and yields every column both cascade arms emit. The scan arm
  * ([[DashboardScan]]) replays it per range-partition chunk; the stream
  * (`streaming.Pipeline.IndicatorCascadeProcessor`) keeps its
  * [[CascadeKernel.State]] as the one RocksDB value per symbol, the
  * one-tuple-per-vertex state of Pregelix (VLDB'14). The window plans
  * ([[Dashboard.cascadeWindows]], `Pipeline.indicatorCascadeBatch`) stay
  * the independent references it is pinned against.
  *
  * Exactness: every step replays its window reference's arithmetic in the
  * same order. EMAs run `Ewma`'s `a·x + (1−a)·y` recurrence (NULL carries,
  * the first non-NULL seeds); rolling means fold their frame oldest to
  * newest from 0.0, as WindowExec's sliding frame does; a rolling mean or
  * extremum is NULL until its frame is full (pandas `min_periods`); RSI's
  * first-row gain and loss are the batch CASE's 0.0 for the NULL diff.
  * Every comparison and extremum follows Spark SQL's double ordering: NaN
  * equals NaN and sorts above every number, `-0.0 = 0.0`, and a rolling
  * max or min keeps the oldest of equal values.
  *
  * The state holds only what the bar inputs cannot rebuild: the raw close
  * (21 rows: a lagged 20-row frame) and high/low (14 rows) rings, from
  * which diffs, true ranges and every raw extremum are re-derived, plus
  * rings of the path-dependent series (the ADX's DX input, the SMA slope,
  * stochastic %K). Slot `i mod capacity` holds row `i`, so the row count
  * `n` is the only position; a nullable ring records the row of its
  * latest NULL instead of a per-slot marker.
  */
object CascadeKernel {

  private final val CloseCap = 21
  private final val HlCap = 14
  private final val Sma = 20 // SMA, T4's breakout frame and G3's slope input
  private final val Rsi = 14 // RSI, the ADX's true-range mean and DX mean, stochastic %K
  private final val Slope = 5 // G3's rolling mean of the SMA slope
  private final val StochD = 3

  // EMA weights, written as Ewma.span and Ewma.alpha compute them
  private def span(n: Int): Double = 2.0 / (n + 1.0)
  private val A5 = span(5); private val A15 = span(15)
  private val A12 = span(12); private val A26 = span(26); private val A9 = span(9)
  private val ATsi1 = span(25); private val ATsi2 = span(13)
  private val Wilder = 1.0 / 14

  /** One key's cascade state, encodable by `Encoders.product`. `n` is
    * the number of bars folded; `adxSeeded` whether a DX has seeded the
    * ADX EMA; `dxNullAt`/`kNullAt` the row of the latest NULL pushed to
    * `dxs`/`ks` (-1 for none). */
  final case class State(
      var n: Long,
      var e5: Double, var e15: Double, var e12: Double, var e26: Double,
      var sig9: Double,
      var te1: Double, var ta1: Double, var te2: Double, var ta2: Double,
      var epdm: Double, var emdm: Double,
      var adx: Double, var adxSeeded: Boolean,
      var atr: Double, var runLow: Double, var runHigh: Double,
      var peak: Double, var obv: Long,
      var dxNullAt: Long, var kNullAt: Long,
      closes: Array[Double], highs: Array[Double], lows: Array[Double],
      dxs: Array[Double], slopes: Array[Double], ks: Array[Double])

  def empty: State = State(0L, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    adxSeeded = false, 0, 0, 0, 0, 0L, -1L, -1L,
    new Array(CloseCap), new Array(HlCap), new Array(HlCap),
    new Array(Rsi), new Array(Slope), new Array(StochD))

  /** Spark SQL's double comparison (`SQLOrderingUtil.compareDoubles`). */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)
  private def gt(a: Double, b: Double): Boolean = cmp(a, b) > 0
  private def lt(a: Double, b: Double): Boolean = cmp(a, b) < 0
  private def greatest(a: Double, b: Double): Double = if (gt(b, a)) b else a
  private def least(a: Double, b: Double): Double = if (lt(b, a)) b else a
  private def box(defined: Boolean, x: Double): java.lang.Double =
    if (defined) x else null
}

/** Steps one key's [[CascadeKernel.State]] in place. After each
  * [[step]] the fields below hold that bar's outputs; a
  * `java.lang.Double` output is null where the window reference yields
  * NULL. */
final class CascadeKernel(val state: CascadeKernel.State) {
  import CascadeKernel._

  var ema5, ema15, macd, macdSignal = 0.0
  var sma, rsi, tsi, adx: java.lang.Double = _
  /** T1 scalping, T2 range trading on the running (prefix) band, T3
    * momentum, T4 breakout: 1 buy, -1 sell, 0 hold. */
  var t1, t2, t3, t4 = 0
  var t3Momentum: java.lang.Double = _
  /** G1 ascending and G2 descending triangle, G3 rounding bottom; the
    * dashboard's colour (close above the previous close). */
  var g1, g2, g3, green = false
  var h5, l5, c20max, c20min, prevH5, prevL5, stochK, stochD: java.lang.Double = _
  /** Wilder ATR, on-balance volume and drawdown from the running peak. */
  var atr, drawdown = 0.0
  var obv = 0L

  // the newest row's slot in each raw ring, set by `step`
  private var hc, hl = 0
  private def ago(a: Array[Double], head: Int, k: Int): Double = {
    val i = head - k
    a(if (i < 0) i + a.length else i)
  }
  private def close(k: Int): Double = ago(state.closes, hc, k)
  private def high(k: Int): Double = ago(state.highs, hl, k)
  private def low(k: Int): Double = ago(state.lows, hl, k)

  // folds over the `n` rows ending `o` rows before the newest, oldest
  // first: sums from 0.0, extrema replaced only by a strictly greater
  // (smaller) value
  private def sum(a: Array[Double], head: Int, o: Int, n: Int): Double = {
    var acc = 0.0
    var k = o + n - 1
    while (k >= o) { acc += ago(a, head, k); k -= 1 }
    acc
  }
  private def max(a: Array[Double], head: Int, o: Int, n: Int): Double = {
    var m = ago(a, head, o + n - 1)
    var k = o + n - 2
    while (k >= o) { val x = ago(a, head, k); if (gt(x, m)) m = x; k -= 1 }
    m
  }
  private def min(a: Array[Double], head: Int, o: Int, n: Int): Double = {
    var m = ago(a, head, o + n - 1)
    var k = o + n - 2
    while (k >= o) { val x = ago(a, head, k); if (lt(x, m)) m = x; k -= 1 }
    m
  }

  /** The row `k` rows before the newest is the key's first row. */
  private def first(k: Int): Boolean = state.n - 1 - k == 0
  /** `close - lag(close)` at `k` rows before the newest (not the first). */
  private def delta(k: Int): Double = close(k) - close(k + 1)
  /** The ADX true range: `high - low` on the first row (its previous
    * close is NULL), else the greatest of the three ranges. */
  private def trueRange(k: Int): Double = {
    val h = high(k); val l = low(k)
    if (first(k)) h - l
    else {
      val pc = close(k + 1)
      greatest(greatest(h - l, math.abs(h - pc)), math.abs(l - pc))
    }
  }
  private def ema(a: Double, prev: Double, x: Double, seeded: Boolean): Double =
    if (seeded) a * x + (1.0 - a) * prev else x

  /** Fold one bar, the next in event time, and set every output. */
  def step(high: Double, low: Double, close: Double, volume: Long): Unit = {
    val s = state
    val row = s.n // this bar's row index within its key
    val seeded = row > 0
    hc = (row % CloseCap).toInt; hl = (row % HlCap).toInt
    s.closes(hc) = close; s.highs(hl) = high; s.lows(hl) = low
    s.n = row + 1
    val cnt = s.n

    // EMA family, MACD
    s.e5 = ema(A5, s.e5, close, seeded); s.e15 = ema(A15, s.e15, close, seeded)
    s.e12 = ema(A12, s.e12, close, seeded); s.e26 = ema(A26, s.e26, close, seeded)
    ema5 = s.e5; ema15 = s.e15
    macd = s.e12 - s.e26
    s.sig9 = ema(A9, s.sig9, macd, seeded)
    macdSignal = s.sig9

    // TSI: double-smoothed diff over double-smoothed |diff|; the NULL
    // first diff seeds both chains on the second row
    val d = if (seeded) delta(0) else 0.0
    if (seeded) {
      val again = row > 1
      s.te1 = ema(ATsi1, s.te1, d, again); s.ta1 = ema(ATsi1, s.ta1, math.abs(d), again)
      s.te2 = ema(ATsi2, s.te2, s.te1, again); s.ta2 = ema(ATsi2, s.ta2, s.ta1, again)
    }
    tsi = box(seeded && s.ta2 != 0, 100.0 * (s.te2 / s.ta2))
    green = seeded && gt(d, 0)

    // SMA20 and its slope, G3's rolling mean of five slopes
    val smaNow = sum(s.closes, hc, 0, Sma) / Sma
    sma = box(cnt >= Sma, smaNow)
    s.slopes((row % Slope).toInt) = smaNow - sum(s.closes, hc, 1, Sma) / Sma
    g3 = cnt >= Sma + Slope && gt(sum(s.slopes, (row % Slope).toInt, 0, Slope) / Slope, 0)

    // RSI14 over the last 14 diffs, oldest first (the first row adds 0.0)
    rsi = null
    if (cnt >= Rsi) {
      var gains, losses = 0.0
      var k = Rsi - 1
      while (k >= 0) {
        if (!first(k)) {
          val dk = delta(k)
          if (gt(dk, 0)) gains += dk
          if (lt(dk, 0)) losses += -dk
        }
        k -= 1
      }
      val ag = gains / Rsi; val al = losses / Rsi
      if (al != 0) rsi = 100.0 - 100.0 / (1.0 + ag / al)
      else if (ag != 0) rsi = 100.0
    }

    // ADX: Wilder +DM/-DM EMAs over the 14-row true-range mean, DX as
    // the 14-mean of the nullable DX input, ADX its Wilder EMA
    var pdm, mdm = 0.0
    if (seeded) {
      val hd = high - this.high(1); val ld = low - this.low(1)
      if (gt(hd, ld) && gt(hd, 0)) pdm = hd
      if (gt(ld, hd) && gt(ld, 0)) mdm = ld
    }
    s.epdm = ema(Wilder, s.epdm, pdm, seeded); s.emdm = ema(Wilder, s.emdm, mdm, seeded)
    val dxSlot = (row % Rsi).toInt
    var dxIn = false
    if (cnt >= Rsi) {
      var trs = 0.0
      var k = Rsi - 1
      while (k >= 0) { trs += trueRange(k); k -= 1 }
      val atr14 = trs / Rsi
      if (atr14 != 0) {
        val pdi = 100.0 * (s.epdm / atr14); val mdi = 100.0 * (s.emdm / atr14)
        if (pdi + mdi != 0) {
          s.dxs(dxSlot) = 100.0 * math.abs(pdi - mdi) / (pdi + mdi)
          dxIn = true
        }
      }
    }
    if (!dxIn) s.dxNullAt = row
    if (row - s.dxNullAt >= Rsi) {
      s.adx = ema(Wilder, s.adx, sum(s.dxs, dxSlot, 0, Rsi) / Rsi, s.adxSeeded)
      s.adxSeeded = true
    }
    adx = box(s.adxSeeded, s.adx)

    // raw extrema and the strategy/pattern signals over them
    val hi5 = max(s.highs, hl, 0, 5); val lo5 = min(s.lows, hl, 0, 5)
    val hi5p = max(s.highs, hl, 1, 5); val lo5p = min(s.lows, hl, 1, 5)
    h5 = box(cnt >= 5, hi5); l5 = box(cnt >= 5, lo5)
    prevH5 = box(cnt >= 6, hi5p); prevL5 = box(cnt >= 6, lo5p)
    c20max = box(cnt >= Sma, max(s.closes, hc, 0, Sma))
    c20min = box(cnt >= Sma, min(s.closes, hc, 0, Sma))
    g1 = cnt >= 6 && lt(hi5p, hi5) && gt(lo5p, lo5)
    g2 = cnt >= 6 && gt(hi5p, hi5) && lt(lo5p, lo5)
    // T1 reads close against a frame that contains it, so its strict
    // predicates never hold (the reference's quirk, kept as written)
    t1 = if (cnt < 5) 0
      else if (lt(close, min(s.closes, hc, 0, 5))) 1
      else if (gt(close, max(s.closes, hc, 0, 5))) -1 else 0
    val mom = close - this.close(5)
    t3Momentum = box(cnt >= 6, mom)
    t3 = if (cnt < 6) 0 else if (gt(mom, 0)) 1 else if (lt(mom, 0)) -1 else 0
    t4 = if (cnt < Sma + 1) 0
      else if (gt(close, max(s.closes, hc, 1, Sma))) 1
      else if (lt(close, min(s.closes, hc, 1, Sma))) -1 else 0

    // stochastic %K over the 14-row high/low frame, %D its 3-mean
    val kSlot = (row % StochD).toInt
    stochK = null
    if (cnt >= Rsi) {
      val hh = max(s.highs, hl, 0, Rsi); val ll = min(s.lows, hl, 0, Rsi)
      if (cmp(hh, ll) != 0) {
        val k = 100.0 * (close - ll) / (hh - ll)
        s.ks(kSlot) = k
        stochK = k
      }
    }
    if (stochK == null) s.kNullAt = row
    stochD = box(row - s.kNullAt >= StochD, sum(s.ks, kSlot, 0, StochD) / StochD)

    // T2 on the running band, Wilder ATR, OBV, drawdown
    s.runLow = if (seeded) least(s.runLow, low) else low
    s.runHigh = if (seeded) greatest(s.runHigh, high) else high
    t2 = if (cmp(close, s.runHigh * 0.95) >= 0) -1
      else if (cmp(close, s.runLow * 1.05) <= 0) 1 else 0
    s.atr = ema(Wilder, s.atr, trueRange(0), seeded)
    atr = s.atr
    if (seeded) s.obv += (if (gt(d, 0)) volume else if (lt(d, 0)) -volume else 0L)
    obv = s.obv
    s.peak = if (seeded) greatest(s.peak, close) else close
    drawdown = close / s.peak - 1.0
  }
}
