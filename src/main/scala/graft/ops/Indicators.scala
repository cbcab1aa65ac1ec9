package graft.ops

import graft.Q
import graft.functions.Ewma
import graft.sources.Bars
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Technical-indicator cascade (SURVEY.md §2.4 W1-W6) replicating the
  * reference's pandas definitions as-written (reference
  * `streamlit_app/streamlit_app.py:165-204`), generalized from a
  * single-symbol frame to `partitionBy(symbol)`.
  *
  * The reference computes these over the dashboard's `ORDER BY datetime
  * DESC LIMIT 100` frame without re-sorting (`streamlit_app.py:76,346-352`),
  * i.e. literally over *descending* time. We use ascending event time — the
  * indicator semantics the formulas intend — and document the quirk here.
  *
  * All division-by-zero cases are explicit CASE guards (Spark 4 runs ANSI
  * mode; DuckDB yields NULL): degenerate flat-window inputs produce NULL
  * instead of pandas' ±inf/NaN — documented deviation, same on both the
  * engine and oracle side.
  */
object Indicators {
  import Rolling._

  // --- column builders (reference streamlit_app.py:165-204) ---

  /** The per-symbol event-time window as (partition, order) column seqs
    * for direct Catalyst window construction (see [[Ewma.alpha]]). */
  private val P = Seq(col("symbol"))
  private val O = Seq(col("datetime"))

  /** W1: EMA(span) — `close.ewm(span, adjust=False).mean()` (:165-166). */
  def ema(c: Column, span: Int): Column = Ewma.span(c, span, P, O)

  /** W2: SMA(20) — `close.rolling(20).mean()` (:168-169). */
  def sma(c: Column, n: Int = 20): Column = mean(c, n)

  def withIndicatorCols(bars: DataFrame): DataFrame = {
    val b = bars
      .withColumn("ema5", ema(col("close"), 5))
      .withColumn("ema15", ema(col("close"), 15))
      .withColumn("sma", sma(col("close")))
    withAdx(withMacd(withTsi(withRsi(b))))
  }

  /** W3: RSI(14), Cutler simple-mean variant (:171-176). */
  def withRsi(df: DataFrame, n: Int = 14): DataFrame = {
    val delta = diff(col("close"))
    val gain = when(delta > 0, delta).otherwise(0.0)
    val loss = when(delta < 0, -delta).otherwise(0.0)
    val withGl = df.select(col("*"),
      mean(gain, n).as("rsi_gain"), mean(loss, n).as("rsi_loss"))
    withGl.withColumn("rsi",
        when(col("rsi_loss") === 0 && col("rsi_gain") === 0, lit(null))
          .when(col("rsi_loss") === 0, 100.0)
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("rsi_gain") / col("rsi_loss"))))
      .drop("rsi_gain", "rsi_loss")
  }

  /** W4: TSI(25,13) — double-smoothed momentum (:178-184). */
  def withTsi(df: DataFrame, longW: Int = 25, shortW: Int = 13): DataFrame =
    df.select(col("*"), diff(col("close")).as("tsi_d"))
      .select(col("*"),
        ema(col("tsi_d"), longW).as("tsi_e1"), ema(abs(col("tsi_d")), longW).as("tsi_a1"))
      .select(col("*"),
        ema(col("tsi_e1"), shortW).as("tsi_e2"), ema(col("tsi_a1"), shortW).as("tsi_a2"))
      .withColumn("tsi",
        when(col("tsi_a2") === 0, lit(null))
          .otherwise(lit(100.0) * (col("tsi_e2") / col("tsi_a2"))))
      .drop("tsi_d", "tsi_e1", "tsi_a1", "tsi_e2", "tsi_a2")

  /** W5: MACD(12,26,9) (:186-191). */
  def withMacd(df: DataFrame): DataFrame =
    df.select(col("*"),
        (ema(col("close"), 12) - ema(col("close"), 26)).as("macd"))
      .select(col("*"), ema(col("macd"), 9).as("macd_signal"))

  /** W6: ADX(14) with the author's as-written -DM sign convention
    * (`low_diff.where((low_diff > high_diff) & (low_diff > 0), 0)`,
    * :193-204 — standard ADX uses -low.diff()).
    */
  def withAdx(df: DataFrame, n: Int = 14): DataFrame = {
    // layered selects: same-depth window expressions share one select so
    // ExtractWindowExpressions emits one Window operator per layer (a
    // withColumn chain planned ~8 — see Dashboard.cascade for the pattern)
    val hd = diff(col("high"))
    val ld = diff(col("low"))
    val pc = lag1(col("close"))
    val pdm = when(hd > ld && hd > 0, hd).otherwise(0.0)
    val mdm = when(ld > hd && ld > 0, ld).otherwise(0.0)
    // row 0: prev close NULL -> pandas rowwise max skips NaN -> tr = high-low
    val tr = when(pc.isNull, col("high") - col("low"))
      .otherwise(greatest(col("high") - col("low"), abs(col("high") - pc), abs(col("low") - pc)))
    // ewm(alpha=1/n) directly (not span form) per reference :200-201
    val l1 = df.select(col("*"),
      Ewma.alpha(pdm, 1.0 / n, P, O).as("adx_epdm"),
      Ewma.alpha(mdm, 1.0 / n, P, O).as("adx_emdm"),
      mean(tr, n).as("adx_atr"))
    val pdi = when(col("adx_atr") === 0, lit(null))
      .otherwise(lit(100.0) * (col("adx_epdm") / col("adx_atr")))
    val mdi = when(col("adx_atr") === 0, lit(null))
      .otherwise(lit(100.0) * (col("adx_emdm") / col("adx_atr")))
    val dxin = when(pdi + mdi === 0, lit(null))
      .otherwise(lit(100.0) * abs(pdi - mdi) / (pdi + mdi))
    val l2 = l1.select(col("*"), mean(dxin, n).as("adx_dx"))
    l2.select(col("*"), Ewma.alpha(col("adx_dx"), 1.0 / n, P, O).as("adx"))
      .drop("adx_epdm", "adx_emdm", "adx_atr", "adx_dx")
  }

  /** W12 (beyond-reference): ATR(n) — Wilder's average true range,
    * `ewm(alpha=1/n)` over the same TR the reference's ADX builds
    * (`streamlit_app.py:196-200`), with the identical row-0 NaN-skip
    * quirk (prev close NULL → tr = high - low).
    */
  def withAtr(df: DataFrame, n: Int = 14): DataFrame = {
    val pc = lag1(col("close"))
    val tr = when(pc.isNull, col("high") - col("low"))
      .otherwise(greatest(col("high") - col("low"), abs(col("high") - pc), abs(col("low") - pc)))
    df.select(col("*"), Ewma.alpha(tr, 1.0 / n, P, O).as("atr"))
  }

  /** W13 (beyond-reference): stochastic oscillator %K(n)/%D(d) — rolling
    * extrema the reference already computes for breakout (W8), recombined
    * as 100·(close − LL)/(HH − LL) with a flat-window NULL guard, then a
    * d-bar SMA for the signal line. Same per-symbol window cascade; zero
    * extra shuffles.
    */
  def withStochastic(df: DataFrame, n: Int = 14, d: Int = 3): DataFrame = {
    val l1 = df.select(col("*"),
      rmin(col("low"), n).as("st_ll"), rmax(col("high"), n).as("st_hh"))
    val k = when(col("st_hh") === col("st_ll"), lit(null))
      .otherwise(lit(100.0) * (col("close") - col("st_ll")) / (col("st_hh") - col("st_ll")))
    l1.select(col("*"), k.as("stoch_k"))
      .select(col("*"), mean(col("stoch_k"), d).as("stoch_d"))
      .drop("st_ll", "st_hh")
  }

  // --- oracle CTE chains (DuckDB) mirroring the above bit-for-bit ---

  private def barsWith(extra: String, select: String): String =
    s"WITH ${Bars.cte}, $extra\n$select"

  private val rsiCtes =
    s"""d AS (SELECT symbol, datetime, close, ${Sql.diff("close")} AS delta FROM bars),
       |g AS (SELECT *, CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
       |               CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss FROM d),
       |r AS (SELECT *, ${Sql.rollMean("gain", 14)} AS ag, ${Sql.rollMean("loss", 14)} AS al FROM g)""".stripMargin

  private val tsiCtes =
    s"""d AS (SELECT symbol, datetime, close, ${Sql.diff("close")} AS td FROM bars),
       |e1 AS (SELECT *, ${Sql.ewmaSpan("td", 25)} AS te1, ${Sql.ewmaSpan("abs(td)", 25)} AS ta1 FROM d),
       |e2 AS (SELECT *, ${Sql.ewmaSpan("te1", 13)} AS te2, ${Sql.ewmaSpan("ta1", 13)} AS ta2 FROM e1)""".stripMargin

  private val macdCtes =
    s"""m1 AS (SELECT symbol, datetime, close, ${Sql.ewmaSpan("close", 12)} AS e12,
       |              ${Sql.ewmaSpan("close", 26)} AS e26 FROM bars),
       |m2 AS (SELECT *, (e12 - e26) AS macd FROM m1),
       |m3 AS (SELECT *, ${Sql.ewmaSpan("macd", 9)} AS macd_signal FROM m2)""".stripMargin

  private val atrCtes =
    s"""t0 AS (SELECT symbol, datetime, high, low, close, ${Sql.lag("close")} AS pc FROM bars),
       |t1 AS (SELECT *, CASE WHEN pc IS NULL THEN high - low
       |                    ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr FROM t0),
       |t2 AS (SELECT *, ${Sql.ewma("tr", "1.0/14.0")} AS atr FROM t1)""".stripMargin

  private val stochCtes =
    s"""s0 AS (SELECT symbol, datetime, close,
       |              ${Sql.rollMin("low", 14)} AS ll, ${Sql.rollMax("high", 14)} AS hh FROM bars),
       |s1 AS (SELECT *, CASE WHEN hh = ll THEN NULL
       |                    ELSE 100.0 * (close - ll) / (hh - ll) END AS stoch_k FROM s0),
       |s2 AS (SELECT *, ${Sql.rollMean("stoch_k", 3)} AS stoch_d FROM s1)""".stripMargin

  private val adxCtes =
    s"""a0 AS (SELECT symbol, datetime, high, low, close,
       |              ${Sql.diff("high")} AS hd, ${Sql.diff("low")} AS ld,
       |              ${Sql.lag("close")} AS pc FROM bars),
       |a1 AS (SELECT *, CASE WHEN hd > ld AND hd > 0 THEN hd ELSE 0.0 END AS pdm,
       |               CASE WHEN ld > hd AND ld > 0 THEN ld ELSE 0.0 END AS mdm,
       |               CASE WHEN pc IS NULL THEN high - low
       |                    ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr FROM a0),
       |a2 AS (SELECT *, ${Sql.ewma("pdm", "1.0/14.0")} AS epdm,
       |               ${Sql.ewma("mdm", "1.0/14.0")} AS emdm,
       |               ${Sql.rollMean("tr", 14)} AS atr FROM a1),
       |a3 AS (SELECT *, CASE WHEN atr = 0 THEN NULL ELSE 100.0 * (epdm / atr) END AS pdi,
       |               CASE WHEN atr = 0 THEN NULL ELSE 100.0 * (emdm / atr) END AS mdi FROM a2),
       |a4 AS (SELECT *, CASE WHEN pdi + mdi = 0 THEN NULL
       |                    ELSE 100.0 * abs(pdi - mdi) / (pdi + mdi) END AS dxin FROM a3),
       |a5 AS (SELECT *, ${Sql.rollMean("dxin", 14)} AS dx FROM a4),
       |a6 AS (SELECT *, ${Sql.ewma("dx", "1.0/14.0")} AS adx FROM a5)""".stripMargin

  // --- queries ---

  /** Bollinger-band 3-sigma outlier detection with EXACT integer
    * algebra — no float mean/std ever crosses an engine boundary:
    * |x - mean| > 3*sigma  ⇔  (n·x - s)² > 9·(n·ss - s²) over the
    * 20-bar window sums s = Σx, ss = Σx² in integer cents. milli_z2
    * (z² per-mille) additionally multiplies by 1000, which bounds the
    * exact range to |n·x - s| ≤ ~9.6e7 cents — ~$48k/share deviation
    * headroom, beyond every listed equity except BRK.A-class prices;
    * the flag itself is safe to ~$6M/share. At 100 TB this is the same
    * one-exchange window cascade as every w* indicator.
    */
  /** History-depth-adaptive tier dispatch for the STANDALONE indicator
    * queries (round-11 task 1 — the flagship's [[Dashboard.deepHistory]]
    * decision applied to w1-w6): at deep per-key history the per-symbol
    * WindowExec serializes onto #symbols tasks, so the query rides the
    * key-count-independent [[DashboardScan]] replay of [[CascadeKernel]]
    * and projects its columns. Both tiers answer the SAME per-query
    * oracle; the scan arm additionally stays gate-checked at every SF
    * through `dashboard_cascade_scan` (the same kernel).
    * The gate SFs land one on each side of the threshold, so BOTH arms
    * stay oracle-covered (sf0.01 window, sf0.1+ scan).
    *
    * KNOWN ACCEPTED RISK — the [[Dashboard.cascade]] warm-up-rounding
    * note applies VERBATIM to w1-w6 on the scan arm: the chunked replay
    * truncates EMA warm-up beyond [[DashboardScan.TailLen]] rows, so
    * every EMA-family column (ema5/15, rsi, tsi, macd, macd_signal,
    * adx) can differ from the window tier by ≤ (13/14)^(TailLen−64)
    * relative (~4e-15 absolute at 1e6 magnitude — ≥100x under the
    * 0.5e-6 rounding threshold; DashboardScanSpec pins that margin
    * against TailLen shrinkage). If a w1-w6 gate row ever
    * hash-mismatches on a SINGLE cell while neighbors agree, triage as
    * warm-up rounding (recompute with TailLen raised), not regression.
    */
  private[ops] def tiered(s: SparkSession, dir: String, cols: String*)(
      windowPlan: => DataFrame): DataFrame =
    tieredCols(s, dir, cols.map(col))(windowPlan)

  /** [[tiered]] with arbitrary projection expressions — for dispatched
    * queries whose output names differ from the scan's column names
    * (t4 renames breakout_signal → signal). */
  private[ops] def tieredCols(s: SparkSession, dir: String, cols: Seq[Column])(
      windowPlan: => DataFrame): DataFrame =
    if (Dashboard.deepHistory(s, dir))
      Q.norm(DashboardScan.cascadeScanOnly(s, dir)
        .select(cols: _*), "symbol", "datetime")
    else windowPlan

  /** The w16r gate fixture: one selected pair out of C(3,2) = 3 — the
    * restriction is observable (GOOGL drops out of every scan). */
  val SelectedPairs: Seq[(String, String)] = Seq(("AAPL", "MSFT"))

  /** w16 rolling pairwise Pearson with the pair universe as a parameter
    * (None = every a < b pair in one pass). All sums are EXACT BIGINTs
    * over cents (the w11 scheme) so nothing fp-accumulates; only the
    * final two sqrts and one division are IEEE, identical on both
    * engines. The window partitions by the DATA-DERIVED pair key, so
    * pairs fan out as independent partitions (a literal pair id would
    * constant-fold out of the partitioning and serialize the window —
    * caught by the PlanShapeSpec pin in round 10). */
  /** The leg-aligned (pair, datetime, x, y) cents series with the
    * optional pair-universe restriction (leg predicate below the bar
    * aggregation, pair predicate below everything downstream). */
  private[graft] def pairXY(s: SparkSession, dir: String,
      pairs: Option[Seq[(String, String)]]): DataFrame = {
    val base = pairs match {
      case Some(ps) =>
        val legs = ps.flatMap(p => Seq(p._1, p._2)).distinct
        // group-key predicate: sinks below the bar aggregation to the
        // event rows, so non-leg symbols never reach the join
        Bars(s, dir).where(col("symbol").isin(legs: _*))
      case None => Bars(s, dir)
    }
    val c = base.select(col("symbol"), col("datetime"),
      round(col("close") * 100, 0).cast("long").as("cents"))
    val xyAll = c.as("a").join(c.as("b"),
        col("a.datetime") === col("b.datetime") && col("a.symbol") < col("b.symbol"))
      .select(concat(col("a.symbol"), lit("|"), col("b.symbol")).as("pair"),
        col("a.datetime").as("datetime"),
        col("a.cents").as("x"), col("b.cents").as("y"))
    pairs match {
      case Some(ps) =>
        xyAll.where(col("pair").isin(ps.map(p => s"${p._1}|${p._2}"): _*))
      case None => xyAll
    }
  }

  /** The 20-row rolling integer sufficient statistics over [[pairXY]],
    * tier-dispatched — but ONLY for a RESTRICTED pair universe at deep
    * history: there the window serializes onto |watchlist| tasks and
    * the [[PairScan]] chunked replay wins (measured at sf10: w16r
    * 10.7 → 4.4 s). The ALL-pairs case stays on the window at every
    * depth — its parallelism is C(symbols, 2) and GROWS with the
    * universe, while the scan arm pays the range-partitioner's
    * sampling pass over the self-join (measured REGRESSION at sf10:
    * w16 11.8 → 14.9 s, t6 8.0 → 24.1 s — the falsified arm, kept out
    * of the dispatch on that evidence). The scan replay is EXACT
    * (bounded frames, integer sums — no EMA-style warm-up caveat).
    * Both w16 (Pearson) and t6 (spread z-score) consume this frame;
    * their final formulas are ordinary column expressions on the
    * identical integer statistics, so both tiers answer the same
    * oracles (gate SFs exercise the window arm, sf0.1+ the scan arm
    * for the restricted variants). */
  private[graft] def pairStats(s: SparkSession, dir: String,
      pairs: Option[Seq[(String, String)]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val xy = pairXY(s, dir, pairs)
    if (pairs.isDefined && Dashboard.deepHistory(s, dir)) PairScan.stats(s, xy)
    else {
      val win = Window.partitionBy("pair").orderBy("datetime")
        .rowsBetween(-19, Window.currentRow)
      xy.select(col("pair"), col("datetime"), col("x"), col("y"),
        count(lit(1)).over(win).as("n"),
        sum(col("x")).over(win).as("sx"), sum(col("y")).over(win).as("sy"),
        sum(col("x") * col("y")).over(win).as("sxy"),
        sum(col("x") * col("x")).over(win).as("sxx"),
        sum(col("y") * col("y")).over(win).as("syy"))
    }
  }

  def pairCorr(s: SparkSession, dir: String,
      pairs: Option[Seq[(String, String)]]): DataFrame = {
    val w = pairStats(s, dir, pairs)
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    Q.norm(
      w.select(col("pair"), col("datetime"),
        when(col("n") === 20 && dx > 0 && dy > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))))
          .otherwise(lit(null).cast("double")).as("corr20")),
      "pair", "datetime")
  }

  /** Oracle twin of [[pairCorr]]: the same leg and pair predicates in
    * the same positions. */
  private def pairCorrSql(pairs: Option[Seq[(String, String)]]): String = {
    val legPred = pairs.map { ps =>
      val legs = ps.flatMap(p => Seq(p._1, p._2)).distinct
      s" WHERE symbol IN (${legs.map(l => s"'$l'").mkString(", ")})"
    }.getOrElse("")
    // single-line append: an embedded newline would collide with the
    // outer stripMargin (the SQL itself contains '|' concat operators)
    val pairPred = pairs.map { ps =>
      s" AND a.symbol || '|' || b.symbol IN (${ps.map(p => s"'${p._1}|${p._2}'").mkString(", ")})"
    }.getOrElse("")
    s"""WITH ${graft.sources.Bars.cte},
       |c AS (SELECT symbol, datetime, CAST(round(close * 100, 0) AS BIGINT) AS cents
       |      FROM bars$legPred),
       |xy AS (SELECT a.symbol || '|' || b.symbol AS pair, a.datetime AS datetime,
       |              a.cents AS x, b.cents AS y
       |       FROM c a JOIN c b ON a.datetime = b.datetime AND a.symbol < b.symbol$pairPred),
       |w AS (SELECT pair, datetime, x, y,
       |        CAST(count(*) OVER win AS BIGINT) AS n,
       |        CAST(sum(x) OVER win AS BIGINT) AS sx,
       |        CAST(sum(y) OVER win AS BIGINT) AS sy,
       |        CAST(sum(x*y) OVER win AS BIGINT) AS sxy,
       |        CAST(sum(x*x) OVER win AS BIGINT) AS sxx,
       |        CAST(sum(y*y) OVER win AS BIGINT) AS syy
       |      FROM xy
       |      WINDOW win AS (PARTITION BY pair ORDER BY datetime
       |                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       |SELECT pair, datetime,
       |       round(CASE WHEN n = 20 AND (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
       |             THEN (n*sxy - sx*sy) /
       |                  (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
       |             ELSE NULL END, 6) AS corr20
       |FROM w ORDER BY pair, datetime""".stripMargin
  }

  /** Shared w17 oracle (both tiers answer it — see the w17 queries). */
  private lazy val ichimokuOracle: String =
    barsWith(
      s"""i0 AS (SELECT symbol, datetime, close,
         |  (${Sql.rollMax("high", 9)} + ${Sql.rollMin("low", 9)}) / 2.0 AS tenkan,
         |  (${Sql.rollMax("high", 26)} + ${Sql.rollMin("low", 26)}) / 2.0 AS kijun,
         |  (${Sql.rollMax("high", 52)} + ${Sql.rollMin("low", 52)}) / 2.0 AS span_b0,
         |  lead(close, 26) ${Sql.over} AS chikou
         |  FROM bars),
         |i1 AS (SELECT symbol, datetime, close, tenkan, kijun, chikou,
         |  lag((tenkan + kijun) / 2.0, 26) ${Sql.over} AS senkou_a,
         |  lag(span_b0, 26) ${Sql.over} AS senkou_b
         |  FROM i0)""".stripMargin,
      """SELECT symbol, datetime, round(close, 6) AS close,
        |round(tenkan, 6) AS tenkan, round(kijun, 6) AS kijun,
        |round(senkou_a, 6) AS senkou_a, round(senkou_b, 6) AS senkou_b,
        |round(chikou, 6) AS chikou
        |FROM i1 ORDER BY symbol, datetime""".stripMargin)

  /** w17's window tier: one per-symbol window cascade — every line a
    * midpoint of EXACT rolling extrema ((max+min)/2), the two leading
    * spans SHIFTED 26 FORWARD (lead = lag(-26) of a window value ≡
    * pandas shift(-26)), lagging span = close shifted 26 back. */
  def ichimokuWindows(s: SparkSession, dir: String): DataFrame =
    Q.norm(ichimokuWindowsRaw(s, dir), "symbol", "datetime")

  /** Unrounded window-tier columns — what IchimokuScanSpec bit-compares
    * against [[IchimokuScan]]'s equally-unrounded output. */
  def ichimokuWindowsRaw(s: SparkSession, dir: String): DataFrame =
    ichimokuCols(Bars(s, dir))

  /** The same cascade over ANY bars frame (the streaming twin's batch
    * side reuses this — one formula definition for all three tiers). */
  def ichimokuCols(bars: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{lag => slag, lead => slead}
    def mid(n: Int) = (rmax(col("high"), n) + rmin(col("low"), n)) / 2.0
    val l1 = bars.select(col("symbol"), col("datetime"), col("close"),
      mid(9).as("tenkan"), mid(26).as("kijun"), mid(52).as("span_b0"),
      slead(col("close"), 26).over(Rolling.W).as("chikou"))
    l1.select(col("symbol"), col("datetime"), col("close"),
      col("tenkan"), col("kijun"), col("chikou"),
      slag((col("tenkan") + col("kijun")) / 2.0, 26).over(Rolling.W).as("senkou_a"),
      slag(col("span_b0"), 26).over(Rolling.W).as("senkou_b"))
      .select("symbol", "datetime", "close", "tenkan", "kijun",
        "senkou_a", "senkou_b", "chikou")
  }

  def queries: Seq[Q] = Seq(
    Q("w11_bollinger_outlier",
      s"""WITH ${graft.sources.Bars.cte},
         |c AS (
         |  SELECT symbol, datetime, CAST(round(close * 100, 0) AS BIGINT) AS cents
         |  FROM bars),
         |w AS (
         |  SELECT symbol, datetime, cents,
         |         CAST(count(*) OVER win AS BIGINT) AS n,
         |         CAST(sum(cents) OVER win AS BIGINT) AS s,
         |         CAST(sum(cents * cents) OVER win AS BIGINT) AS ss
         |  FROM c
         |  WINDOW win AS (PARTITION BY symbol ORDER BY datetime
         |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         |SELECT symbol, datetime, cents,
         |       CAST(CASE WHEN n = 20
         |                  AND (n*cents - s)*(n*cents - s) > 9*(n*ss - s*s)
         |                 THEN 1 ELSE 0 END AS BIGINT) AS outlier,
         |       CAST(CASE WHEN n = 20 AND n*ss > s*s
         |                 THEN ((n*cents - s)*(n*cents - s) * 1000) // (n*ss - s*s)
         |                 ELSE -1 END AS BIGINT) AS milli_z2
         |FROM w ORDER BY symbol, datetime""".stripMargin) {
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val win = Window.partitionBy("symbol").orderBy("datetime")
          .rowsBetween(-19, Window.currentRow)
        graft.sources.Bars(s, dir)
          .select(col("symbol"), col("datetime"),
            round(col("close") * 100, 0).cast("long").as("cents"))
          .withColumn("n", count(lit(1)).over(win))
          .withColumn("s", sum("cents").over(win))
          .withColumn("ss", sum(col("cents") * col("cents")).over(win))
          .select(col("symbol"), col("datetime"), col("cents"),
            when(col("n") === 20 &&
              (col("n") * col("cents") - col("s")) *
                (col("n") * col("cents") - col("s")) >
                lit(9L) * (col("n") * col("ss") - col("s") * col("s")), 1L)
              .otherwise(0L).as("outlier"),
            when(col("n") === 20 && col("n") * col("ss") > col("s") * col("s"),
              expr("((n*cents - s)*(n*cents - s) * 1000) div (n*ss - s*s)"))
              .otherwise(-1L).as("milli_z2"))
          .transform(d => graft.Q.sorted(d, "symbol", "datetime"))
      }
    },
    Q("w1_ema",
      barsWith(
        s"x AS (SELECT symbol, datetime, close, ${Sql.ewmaSpan("close", 5)} AS ema5, ${Sql.ewmaSpan("close", 15)} AS ema15 FROM bars)",
        "SELECT symbol, datetime, round(close, 6) AS close, round(ema5, 6) AS ema5, round(ema15, 6) AS ema15 FROM x ORDER BY symbol, datetime")) {
      (s, dir) => tiered(s, dir, "symbol", "datetime", "close", "ema5", "ema15") {
        Q.norm(
          Bars(s, dir).select(col("symbol"), col("datetime"), col("close"),
            ema(col("close"), 5).as("ema5"), ema(col("close"), 15).as("ema15")),
          "symbol", "datetime")
      }
    },

    Q("w2_sma20",
      barsWith(
        s"x AS (SELECT symbol, datetime, close, ${Sql.rollMean("close", 20)} AS sma FROM bars)",
        "SELECT symbol, datetime, round(close, 6) AS close, round(sma, 6) AS sma FROM x ORDER BY symbol, datetime")) {
      (s, dir) => tiered(s, dir, "symbol", "datetime", "close", "sma") {
        Q.norm(
          Bars(s, dir).select(col("symbol"), col("datetime"), col("close"),
            sma(col("close")).as("sma")),
          "symbol", "datetime")
      }
    },

    Q("w3_rsi14",
      barsWith(rsiCtes,
        """SELECT symbol, datetime, round(close, 6) AS close,
          |round(CASE WHEN al = 0 AND ag = 0 THEN NULL WHEN al = 0 THEN 100.0
          |           ELSE 100.0 - 100.0 / (1.0 + ag / al) END, 6) AS rsi
          |FROM r ORDER BY symbol, datetime""".stripMargin)) {
      (s, dir) => tiered(s, dir, "symbol", "datetime", "close", "rsi") {
        Q.norm(
          withRsi(Bars(s, dir)).select("symbol", "datetime", "close", "rsi"),
          "symbol", "datetime")
      }
    },

    Q("w4_tsi",
      barsWith(tsiCtes,
        """SELECT symbol, datetime, round(close, 6) AS close,
          |round(CASE WHEN ta2 = 0 THEN NULL ELSE 100.0 * (te2 / ta2) END, 6) AS tsi
          |FROM e2 ORDER BY symbol, datetime""".stripMargin)) {
      (s, dir) => tiered(s, dir, "symbol", "datetime", "close", "tsi") {
        Q.norm(
          withTsi(Bars(s, dir)).select("symbol", "datetime", "close", "tsi"),
          "symbol", "datetime")
      }
    },

    Q("w5_macd",
      barsWith(macdCtes,
        """SELECT symbol, datetime, round(close, 6) AS close,
          |round(macd, 6) AS macd, round(macd_signal, 6) AS macd_signal
          |FROM m3 ORDER BY symbol, datetime""".stripMargin)) {
      (s, dir) => tiered(s, dir, "symbol", "datetime", "close", "macd", "macd_signal") {
        Q.norm(
          withMacd(Bars(s, dir)).select("symbol", "datetime", "close", "macd", "macd_signal"),
          "symbol", "datetime")
      }
    },

    Q("w6_adx",
      barsWith(adxCtes,
        "SELECT symbol, datetime, round(close, 6) AS close, round(adx, 6) AS adx FROM a6 ORDER BY symbol, datetime")) {
      (s, dir) => tiered(s, dir, "symbol", "datetime", "close", "adx") {
        Q.norm(
          withAdx(Bars(s, dir)).select("symbol", "datetime", "close", "adx"),
          "symbol", "datetime")
      }
    },

    Q("w12_atr",
      barsWith(atrCtes,
        "SELECT symbol, datetime, round(close, 6) AS close, round(atr, 6) AS atr FROM t2 ORDER BY symbol, datetime")) {
      (s, dir) =>
        Q.norm(
          withAtr(Bars(s, dir)).select("symbol", "datetime", "close", "atr"),
          "symbol", "datetime")
    },

    Q("w13_stochastic",
      barsWith(stochCtes,
        """SELECT symbol, datetime, round(close, 6) AS close,
          |round(stoch_k, 6) AS stoch_k, round(stoch_d, 6) AS stoch_d
          |FROM s2 ORDER BY symbol, datetime""".stripMargin)) {
      (s, dir) =>
        tiered(s, dir, "symbol", "datetime", "close", "stoch_k", "stoch_d") {
          Q.norm(
            withStochastic(Bars(s, dir))
              .select("symbol", "datetime", "close", "stoch_k", "stoch_d"),
            "symbol", "datetime")
        }
    },

    // W14 (beyond-reference): on-balance volume — cumulative signed-volume
    // flow. EXACT integer algebra end to end (volume is a bar count; the
    // sign comes from close.diff()), so the running sum is shuffle-order-
    // and engine-proof with no rounding anywhere. Same single (symbol)
    // window pass as every other indicator.
    Q("w14_obv",
      barsWith(
        s"o0 AS (SELECT symbol, datetime, close, volume, ${Sql.diff("close")} AS d FROM bars)",
        s"""SELECT symbol, datetime, round(close, 6) AS close,
           |CAST(sum(CASE WHEN d > 0 THEN volume WHEN d < 0 THEN -volume ELSE 0 END)
           |     ${Sql.run} AS BIGINT) AS obv
           |FROM o0 ORDER BY symbol, datetime""".stripMargin)) {
      (s, dir) =>
        Q.norm(
          Bars(s, dir)
            .select(col("*"), diff(col("close")).as("obv_d"))
            .select(col("symbol"), col("datetime"), col("close"),
              sum(when(col("obv_d") > 0, col("volume"))
                  .when(col("obv_d") < 0, -col("volume"))
                  .otherwise(lit(0L)))
                .over(Rolling.W.rowsBetween(Long.MinValue, 0))
                .cast("long").as("obv")),
          "symbol", "datetime")
    },

    // W15 (beyond-reference): running-peak drawdown. The peak is an exact
    // running max (no fp accumulation); the ratio is one IEEE division
    // performed identically on both engines, then the shared 6-dp gate.
    Q("w15_drawdown",
      barsWith(
        s"p0 AS (SELECT symbol, datetime, close, max(close) ${Sql.run} AS peak FROM bars)",
        """SELECT symbol, datetime, round(close, 6) AS close, round(peak, 6) AS peak,
          |round(close / peak - 1.0, 6) AS drawdown
          |FROM p0 ORDER BY symbol, datetime""".stripMargin)) {
      (s, dir) =>
        Q.norm(
          Bars(s, dir)
            .select(col("symbol"), col("datetime"), col("close"),
              max(col("close")).over(Rolling.W.rowsBetween(Long.MinValue, 0)).as("peak"))
            .withColumn("drawdown", col("close") / col("peak") - 1.0),
          "symbol", "datetime")
    },

    // W17 (beyond-reference): Ichimoku cloud — the remaining classic
    // indicator family. Every line is a midpoint of EXACT rolling
    // extrema ((max+min)/2: one fp add + one halving, identical on both
    // engines), conversion/base on 9/26-bar windows, the two leading
    // spans SHIFTED 26 FORWARD (lead = lag(-26) of a window value:
    // pandas shift(-26) ≡ the span drawn 26 bars ahead), lagging span =
    // close shifted 26 back. Same one-shuffle per-symbol cascade.
    Q("w17_ichimoku", ichimokuOracle) {
      // History-depth dispatch (round-11 task 1): Ichimoku was the
      // round-10 verdict's one weak row — 40.2 s at sf10 for a 3-key
      // WindowExec serialization. Deep history rides [[IchimokuScan]]
      // (bit-exact, bounded frames only); shallow keeps the one-exchange
      // window cascade. `w17_ichimoku_scan` pins the scan arm to the
      // same oracle at every SF.
      (s, dir) =>
        if (Dashboard.deepHistory(s, dir))
          Q.norm(IchimokuScan(s, dir), "symbol", "datetime")
        else ichimokuWindows(s, dir)
    },

    // The scan arm, gate-checked unconditionally (the
    // dashboard_cascade_scan pattern): both tiers answer one oracle, so
    // the dispatch can only change the plan, never the rows.
    Q("w17_ichimoku_scan", ichimokuOracle) {
      (s, dir) => Q.norm(IchimokuScan(s, dir), "symbol", "datetime")
    },

    // W16 (beyond-reference): rolling pairwise correlation — the
    // pairs-trading cross-series analytic, over EVERY symbol pair at
    // once. The bars frame self-joins on the shared time grid with
    // sym_a < sym_b (all C(symbols,2) pairs in one pass — 3 here,
    // thousands in a real universe), then Pearson over a 20-bar window
    // from EXACT integer sufficient statistics in cents (the w11
    // scheme): every sum is a BIGINT (|n·Sxy|, |Sx·Sy| ≲ 4e12 at $1k
    // prices — 6 orders under int64), so nothing fp-accumulates across
    // engines; only the final two sqrts and one division are IEEE,
    // identical on both sides. The window partitions by the DATA-DERIVED
    // pair key, so pairs fan out as independent partitions
    // (PlanShapeSpec pins the hashpartitioning — a literal pair id
    // constant-folds out of the partitioning and serializes the window;
    // caught by that pin in round 10).
    Q("w16_pair_corr", pairCorrSql(None)) {
      (s, dir) => pairCorr(s, dir, None)
    },

    // w16's CANDIDATE-RESTRICTED variant (round-11 task 2): the pair
    // universe as an explicit parameter. At a real universe (thousands
    // of symbols) the all-pairs self-join is C(n,2) — the default must
    // be a CHOICE, not the only plan. With a pairs list, the leg filter
    // lands BELOW the self-join (and below the bar aggregation: the
    // predicate is on the group key, so PushDownPredicates sinks it
    // under the groupBy to the event rows) and the pair filter lands
    // below the Window — the scans, the join, and the window all see
    // only the selected legs. PlanShapeSpec pins both placements.
    Q("w16r_pair_corr_sel", pairCorrSql(Some(SelectedPairs))) {
      (s, dir) => pairCorr(s, dir, Some(SelectedPairs))
    },

    // W11 (beyond-reference): cumulative VWAP per symbol. Price x volume
    // and volume accumulate as EXACT integers (price quantized to
    // micros), so the running sums are shuffle-order- and engine-proof;
    // only the final division goes through doubles, identically on both
    // sides. The micro-price x volume products accumulate in
    // DECIMAL(38,0) (Int64 wraps silently at ~9.2e18 with ANSI off —
    // a long high-price x high-volume history could exhaust that;
    // decimal headroom is ~1e38, unreachable), identically widened on
    // the DuckDB side. One window pass over the same (symbol, datetime)
    // sort every other indicator shares — at scale it fuses into the
    // existing Window operator, no extra exchange.
    Q("w10_vwap",
      barsWith(
        """x AS (SELECT symbol, datetime, close,
          |  sum(CAST(CAST(round(close * 1e6, 0) AS BIGINT) AS DECIMAL(18,0))
          |      * CAST(volume AS DECIMAL(18,0)))
          |    OVER (PARTITION BY symbol ORDER BY datetime
          |          ROWS UNBOUNDED PRECEDING) AS cq,
          |  sum(volume) OVER (PARTITION BY symbol ORDER BY datetime
          |                    ROWS UNBOUNDED PRECEDING) AS cv
          |  FROM bars)""".stripMargin,
        """SELECT symbol, datetime, round(close, 6) AS close,
          |CASE WHEN cv = 0 THEN NULL
          |     ELSE round(CAST(cq AS DOUBLE) / (1e6 * CAST(cv AS DOUBLE)), 6) END AS vwap
          |FROM x ORDER BY symbol, datetime""".stripMargin)) {
      (s, dir) => {
        val w = Rolling.W.rowsBetween(Long.MinValue, 0)
        Q.norm(
          Bars(s, dir).select(col("symbol"), col("datetime"), col("close"),
            sum(round(col("close") * 1e6, 0).cast("long").cast("decimal(18,0)")
                * col("volume").cast("decimal(18,0)"))
              .over(w).as("cq"),
            sum(col("volume")).over(w).as("cv"))
            .select(col("symbol"), col("datetime"), col("close"),
              when(col("cv") === 0, lit(null).cast("double"))
                .otherwise(col("cq").cast("double") / (lit(1e6) * col("cv").cast("double")))
                .as("vwap")),
          "symbol", "datetime")
      }
    })
}
