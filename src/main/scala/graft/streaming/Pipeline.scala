package graft.streaming

import graft.ops.{CascadeKernel, Core}
import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig}
import org.apache.spark.sql.types._

/** The reference pipeline's streaming half, Spark-first (SURVEY.md §2.8,
  * §3.1/§3.3):
  *
  *   Kafka topic `stock_data` (JSON, malformed rows silently dropped,
  *   reference `flink_processor/flink_processor.py:52-74`)
  *     -> event-time `ts` (`flink_processor.py:56`)
  *     -> BUY/SELL/HOLD CASE (`flink_processor.py:105-109`)
  *     -> upsert into the keyed store, PK (symbol, datetime)
  *        (`flink_processor.py:77-91`, `postgres/init.sql:12`)
  *
  * plus the client-side bounded 20-row per-symbol buffer
  * (`streamlit_app/provider.py:107-113`) as a stateful streaming operator.
  *
  * Source/sink specifics are parameters (any streaming DataFrame works:
  * Kafka via `readStream.format("kafka")`, files, or MemoryStream in
  * tests) — the engine owns the transforms and state semantics.
  *
  * Scale design: the ingest path is stateless row-local work (parse,
  * project, CASE) — it scales with source partitions, no shuffle. The
  * upsert adds no stage: the store applies rows as keyed upserts, and
  * a keyed stage in front of it ([[indicatorCascade]]) already emits one
  * row per (symbol, datetime), so a stream micro-batch shuffles once,
  * into the stage that is keyed by symbol. State lives only in the
  * `transformWithState` processors keyed by symbol (the bounded buffer
  * is capped at 20 rows * |symbols|).
  *
  * Event time has one owner: the operator that needs a watermark adds
  * it. The event-time operators ([[rebar]], [[sessionize]],
  * [[slidingCount]], [[intervalJoin]]) each declare theirs, because they
  * drop late rows and evict state by it; [[rebarCascade]]'s, below its
  * windowed aggregation, closes the bars it feeds the cascade. The
  * reference's 1-second watermark (`flink_processor.py:64`) is read by
  * no operator of its job, so [[score]] does not add it. Every stateful
  * processor here is a `transformWithState` (on the RocksDB state store
  * that `graft.Session.local` installs) without event time
  * (`TimeMode.None`): none reads a watermark, and a watermark in front
  * of one would only make Spark run a no-data micro-batch after each
  * advance.
  */
object Pipeline {

  /** The wire schema of the reference's `stock_data` topic
    * (`flink_processor.py:53-63`). */
  val wireSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("Datetime", StringType),
    StructField("Open", DoubleType),
    StructField("High", DoubleType),
    StructField("Low", DoubleType),
    StructField("Close", DoubleType),
    StructField("Volume", LongType),
    StructField("Dividends", DoubleType),
    StructField("Stock_Splits", DoubleType)))

  /** S5/S6 Kafka wiring (no broker in this environment — the transforms
    * are exercised through MemoryStream/batch twins; this is the
    * production source): value bytes -> string for [[decode]].
    */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** S5: keyed JSON producer sink (`yahoo_finance_producer.py:107-108`). */
  def kafkaSink(scored: DataFrame, bootstrap: String, topic: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    scored
      .select(col("symbol").cast("string").as("key"),
        to_json(struct(col("*"))).as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** S6: schema-first JSON decode with silent malformed-row drop
    * (`'json.ignore-parse-errors' = 'True'`, `flink_processor.py:72`).
    * Works on both batch and streaming DataFrames with a `value` string
    * column (the Kafka value).
    */
  def decode(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), wireSchema).as("r"))
      .select(col("r.*"))
      .where(col("symbol").isNotNull && col("Datetime").isNotNull)

  /** S7+S8+P4+P5: event time, rename-to-sink-schema, indicator.
    * Mirrors the Flink job's single SELECT (`flink_processor.py:94-112`).
    *
    * No watermark: the Flink job declares one (`flink_processor.py:64`)
    * that none of its operators reads, and the `transformWithState`
    * entry points fed from here ([[indicatorCascade]], [[boundedBuffer]],
    * [[pairsStrategy]], [[pairCorrStrategy]], [[ichimoku]]) run without
    * event time. A caller that puts an event-time operator downstream
    * (`dropDuplicatesWithinWatermark`, a window, a stream-stream join)
    * declares the watermark it needs on `datetime`.
    */
  def score(decoded: DataFrame): DataFrame =
    decoded
      .withColumn("ts", to_timestamp(col("Datetime"), "yyyy-MM-dd HH:mm:ss"))
      .where(col("ts").isNotNull)
      .select(
        col("symbol"),
        col("ts").as("datetime"),
        col("Open").as("open"), col("High").as("high"),
        col("Low").as("low"), col("Close").as("close"),
        col("Volume").as("volume"),
        col("Dividends").as("dividends"),
        col("Stock_Splits").as("stock_splits"),
        Core.indicator(col("Close"), col("Open")).as("indicator"))

  /** S9: streaming upsert keyed (symbol, datetime) — Flink's JDBC upsert
    * (`flink_processor.py:89`) as foreachBatch. `store` receives each
    * micro-batch as it is and, like the reference's JDBC upsert writer,
    * applies its rows as keyed upserts in order: last write wins, within
    * a batch and across batches, so replays and duplicates converge to
    * one row per key. The output of a keyed stage such as
    * [[indicatorCascade]] is already unique per (symbol, datetime) within
    * a batch; an un-keyed input such as `score(decode(..))` can still
    * carry in-batch duplicates, which the store resolves. A MERGE-style
    * writer (JDBC/Delta MERGE), which rejects two source rows for one
    * target row, must reduce the batch by key first.
    */
  def upsertQuery(scored: DataFrame, store: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    scored.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch(store)
      .start()

  // one field per init.sql column, in sink order (postgres/init.sql:1-13)
  final case class Bar(symbol: String, datetime: java.sql.Timestamp,
      open: Double, high: Double, low: Double, close: Double,
      volume: Long, dividends: Double, stock_splits: Double,
      indicator: String)

  /** S13: the provider's bounded per-symbol buffer (the latest 20 rows,
    * `provider.py:111-112`) as a `transformWithState` processor over a
    * RocksDB `ListState`. Emits the full buffer on every update (the
    * provider's consumer-visible contract: latest <= 20 rows per symbol).
    *
    * Scale: new rows land via `appendList` — an incremental state-store
    * write — and only an overflowing batch rewrites state (trim + put).
    * The `get()` here serves the EMISSION contract (this operator
    * re-emits the whole buffer, matching the provider's consumer-visible
    * behavior), not state maintenance; a delta-emitting variant would
    * drop it and never read state on the happy path. A whole-value state
    * (the buffer as one `ValueState` or `GroupState` value) would read
    * and rewrite all 20 rows every batch, which `ListState` avoids.
    */
  class BoundedBufferProcessor extends StatefulProcessor[String, Bar, Bar] {
    private val cap = 20
    @transient private var buf: ListState[Bar] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[Bar]("buf", barEncoder, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Bar],
        timers: TimerValues): Iterator[Bar] = {
      val incoming = rows.toArray
      if (incoming.nonEmpty) buf.appendList(incoming)
      val all = buf.get().toList
      if (all.length <= cap) all.iterator
      else {
        val next = all.takeRight(cap)
        buf.put(next.toArray) // ListState.put rejects empty arrays; cap >= 1 guarantees non-empty
        next.iterator
      }
    }
  }

  def boundedBuffer(scored: Dataset[Bar]): Dataset[Bar] = {
    import scored.sparkSession.implicits._
    scored.groupByKey(_.symbol)
      .transformWithState(new BoundedBufferProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One output row of the streaming indicator cascade: the
    * prefix-computable subset of `dashboard_cascade`'s columns (EMA
    * family, SMA20, RSI14, MACD + signal). `sma`/`rsi` are Options
    * because their rolling windows have pandas `min_periods` semantics
    * (NULL until the frame fills); the EMAs seed on the first row.
    */
  final case class CascRow(symbol: String, datetime: java.sql.Timestamp,
      close: Double, ema5: Double, ema15: Double, sma: Option[Double],
      rsi: Option[Double], macd: Double, macd_signal: Double,
      t1_signal: Int, t2_signal: Int, t3_momentum: Option[Double],
      t3_signal: Int, t4_signal: Int,
      g1_ascending: Boolean, g2_descending: Boolean, g3_rounding: Boolean,
      atr: Double, stoch_k: Option[Double], stoch_d: Option[Double],
      obv: Long, drawdown: Double)

  // state encoders are derived once per JVM: Scala-reflecting a product
  // encoder in every task's processor init cost more executor CPU than
  // the cascade's state reads
  private lazy val barEncoder = org.apache.spark.sql.Encoders.product[Bar]
  private lazy val cascStateEncoder = org.apache.spark.sql.Encoders.product[CascadeKernel.State]
  private lazy val pairLegEncoder = org.apache.spark.sql.Encoders.product[PairLegState]
  private lazy val ichiStateEncoder = org.apache.spark.sql.Encoders.product[IchiState]

  // the rolling frames, each read by its processor and that processor's
  // batch twin, so a stream and its twin cannot disagree on a frame
  private final val ZScoreN = 20 // pairs t6 z-score
  private final val CorrN = 20 // pairs w16 Pearson

  /** Event time in microseconds, the precision of Spark's timestamps:
    * `Timestamp.getTime` is milliseconds, so it would order two bars
    * under 1 ms apart by arrival and call them one time. */
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** S13→indicators: the streaming twin of the batch `dashboard_cascade`
    * window stack — per-symbol EMA5/15, SMA20, RSI14, MACD(12,26,9), the
    * T1-T4 strategy signals, G1-G3 patterns and w12-w15 indicators,
    * computed INCREMENTALLY as bars arrive: the computation the
    * reference's provider.py consumer re-runs client-side over its
    * 20-row buffer on every poll (`streamlit_app.py:165-257`,
    * `provider.py:107-113`).
    *
    * The per-bar arithmetic is [[graft.ops.CascadeKernel]]'s, the state
    * machine the batch scan arm ([[graft.ops.DashboardScan]]) replays
    * too; this processor adds only the stream's concerns. State per
    * symbol = ONE [[graft.ops.CascadeKernel.State]] value, so a
    * micro-batch costs each key one state-store get and one put, whatever
    * its bar count — the whole key's state is one tuple, as in Pregelix's
    * vertex tuples. O(1) state per key — no window re-sort, no unbounded
    * history; this is why the cascade streams at 100 TB/day while the
    * batch plan's Exchange+Sort recomputes the full partition.
    * StreamingSpec pins stream-vs-batch row equality, bit for bit,
    * against [[indicatorCascadeBatch]] on the same frames.
    *
    * Ordering: rows are sorted by event time (µs) WITHIN each batch
    * before folding (micro-batch arrival order is not event order), and
    * of two bars with one event time in a batch only the later arrival
    * is folded and emitted — the sink's upsert semantics, so the output
    * needs no dedup before the store. Cross-batch disorder is not
    * replayed: the processor runs without event time and drops nothing,
    * so a late bar is folded in like any other (late rows would need the
    * batch path or a watermark-delayed emit). The full dashboard's
    * global-window columns (support/resistance, first/last trend) are
    * whole-history and stay batch-only; T2 streams as the running-prefix
    * band (extrema over rows seen so far), pinned against a prefix-window
    * batch twin rather than the whole-frame t2 oracle.
    */
  class IndicatorCascadeProcessor extends StatefulProcessor[String, Bar, CascRow] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[CascadeKernel.State] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CascadeKernel.State]("casc", cascStateEncoder, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Bar],
        timers: TimerValues): Iterator[CascRow] = {
      // the sort is stable, so bars with one event time stay in arrival
      // order, and only the last of them is folded and emitted: the
      // keyed store's upsert semantics (last write wins), applied here
      // so that the output is unique per (symbol, datetime)
      val sorted = rows.map(b => (micros(b.datetime), b)).toArray.sortBy(_._1)
      if (sorted.isEmpty) return Iterator.empty
      val k = new CascadeKernel(Option(st.get()).getOrElse(CascadeKernel.empty))
      val out = sorted.indices
        .filter(i => i + 1 == sorted.length || sorted(i + 1)._1 != sorted(i)._1)
        .map { i =>
          val b = sorted(i)._2
          k.step(b.high, b.low, b.close, b.volume)
          CascRow(b.symbol, b.datetime, b.close, k.ema5, k.ema15, opt(k.sma),
            opt(k.rsi), k.macd, k.macdSignal, k.t1, k.t2, opt(k.t3Momentum), k.t3,
            k.t4, k.g1, k.g2, k.g3, k.atr, opt(k.stochK), opt(k.stochD), k.obv,
            k.drawdown)
        }
      st.update(k.state)
      out.iterator
    }

    private def opt(x: java.lang.Double): Option[Double] =
      if (x == null) None else Some(x.doubleValue)
  }

  /** The streaming indicator cascade over scored bars (see
    * [[IndicatorCascadeProcessor]]). Requires the RocksDB state store
    * provider, like [[boundedBuffer]].
    */
  def indicatorCascade(scored: Dataset[Bar]): Dataset[CascRow] = {
    import scored.sparkSession.implicits._
    scored.groupByKey(_.symbol)
      .transformWithState(new IndicatorCascadeProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Batch twin of [[indicatorCascade]] — the same columns computed with
    * the `dashboard_cascade` window operators (identical expressions to
    * `ops/Dashboard.layers`' L1-L3 subset), so StreamingSpec can assert
    * stream-vs-batch equality on the same frames.
    */
  def indicatorCascadeBatch(bars: DataFrame): DataFrame = {
    import graft.functions.Ewma
    import graft.ops.Rolling.{lag1, mean, rmax, rmin, W, diff}
    val P = Seq(col("symbol"))
    val O = Seq(col("datetime"))
    def ema(c: org.apache.spark.sql.Column, span: Int) = Ewma.span(c, span, P, O)
    // the running (prefix) support/resistance band for the STREAMING t2
    // variant — batch t2's whole-history band (unbounded following) is
    // not prefix-computable; see IndicatorCascadeProcessor's scaladoc
    val prefix = W.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    // W12 ATR input: the ADX true range with the row-0 NaN-skip quirk
    val pc = lag1(col("close"))
    val tr = when(pc.isNull, col("high") - col("low"))
      .otherwise(greatest(col("high") - col("low"),
        org.apache.spark.sql.functions.abs(col("high") - pc),
        org.apache.spark.sql.functions.abs(col("low") - pc)))
    val l1 = bars.select(col("symbol"), col("datetime"), col("close"),
      ema(col("close"), 5).as("ema5"), ema(col("close"), 15).as("ema15"),
      mean(col("close"), 20).as("sma"),
      (col("close") - lag1(col("close"))).as("delta"),
      ema(col("close"), 12).as("e12"), ema(col("close"), 26).as("e26"),
      // strategy/pattern inputs (same expressions as ops/Strategies and
      // ops/Patterns — T1/T3/T4 and G1-G3 verbatim, T2 prefix-banded)
      rmin(col("close"), 5).as("c5min"), rmax(col("close"), 5).as("c5max"),
      min(col("low")).over(prefix).as("run_low"),
      max(col("high")).over(prefix).as("run_high"),
      diff(col("close"), 5).as("t3_momentum"),
      lag1(rmax(col("close"), 20)).as("bk_max"),
      lag1(rmin(col("close"), 20)).as("bk_min"),
      rmax(col("high"), 5).as("pt_h"), rmin(col("low"), 5).as("pt_l"),
      lag1(rmax(col("high"), 5)).as("pt_hp"), lag1(rmin(col("low"), 5)).as("pt_lp"),
      mean(col("close"), 20).as("pt_rm"),
      // w12-w15 (same expressions as ops/Indicators w12_atr..w15_drawdown)
      col("volume"),
      Ewma.alpha(tr, 1.0 / 14, P, O).as("atr"),
      rmin(col("low"), 14).as("st_ll"), rmax(col("high"), 14).as("st_hh"),
      max(col("close")).over(prefix).as("peak"))
    val gain = when(col("delta") > 0, col("delta")).otherwise(0.0)
    val loss = when(col("delta") < 0, -col("delta")).otherwise(0.0)
    val stochK = when(col("st_hh") === col("st_ll"), lit(null))
      .otherwise(lit(100.0) * (col("close") - col("st_ll")) / (col("st_hh") - col("st_ll")))
    val l2 = l1.select(col("*"), (col("e12") - col("e26")).as("macd"),
      mean(gain, 14).as("ag"), mean(loss, 14).as("al"),
      (col("pt_rm") - lag1(col("pt_rm"))).as("pt_slope"),
      stochK.as("stoch_k"),
      sum(when(col("delta") > 0, col("volume"))
          .when(col("delta") < 0, -col("volume"))
          .otherwise(lit(0L))).over(prefix).as("obv"))
    val l3 = l2.select(col("*"), ema(col("macd"), 9).as("macd_signal"),
      mean(col("pt_slope"), 5).as("pt_bottom"),
      mean(col("stoch_k"), 3).as("stoch_d"))
    l3.select(col("symbol"), col("datetime"), col("close"),
      col("ema5"), col("ema15"), col("sma"),
      when(col("al") === 0 && col("ag") === 0, lit(null))
        .when(col("al") === 0, 100.0)
        .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("ag") / col("al")))
        .as("rsi"),
      col("macd"), col("macd_signal"),
      when(col("close") < col("c5min"), 1)
        .when(col("close") > col("c5max"), -1).otherwise(0).as("t1_signal"),
      when(col("close") >= col("run_high") * 0.95, -1)
        .when(col("close") <= col("run_low") * 1.05, 1)
        .otherwise(0).as("t2_signal"),
      col("t3_momentum"),
      when(col("t3_momentum") > 0, 1).when(col("t3_momentum") < 0, -1)
        .otherwise(0).as("t3_signal"),
      when(col("close") > col("bk_max"), 1)
        .when(col("close") < col("bk_min"), -1).otherwise(0).as("t4_signal"),
      coalesce(col("pt_hp") < col("pt_h") && col("pt_lp") > col("pt_l"),
        lit(false)).as("g1_ascending"),
      coalesce(col("pt_hp") > col("pt_h") && col("pt_lp") < col("pt_l"),
        lit(false)).as("g2_descending"),
      coalesce(col("pt_bottom") > 0, lit(false)).as("g3_rounding"),
      col("atr"), col("stoch_k"), col("stoch_d"),
      col("obv").cast("long").as("obv"),
      (col("close") / col("peak") - 1.0).as("drawdown"))
  }

  /** The full streaming analytics pipeline as ONE continuous query —
    * raw ticks → tumbling re-bar (watermark-closed OHLC) → BUY/SELL/HOLD
    * score → per-symbol indicator cascade — i.e. the reference's
    * producer→Flink→provider chain ([[rebar]] + [[score]]'s CASE +
    * [[indicatorCascade]]) with no store-and-repoll hop in the middle.
    * Two chained STATEFUL operators (windowed agg, then
    * transformWithState) in append mode: bars only reach the cascade
    * when their window closes, and the watermark is monotone, so bars
    * arrive per-symbol in event-time order across micro-batches — the
    * ordering contract the cascade's incremental state needs (within a
    * batch the processor sorts).
    *
    * `events`: (symbol, ts, price, qty) — the same input as [[rebar]].
    */
  def rebarCascade(events: DataFrame, window: String = "1 minute"): Dataset[CascRow] = {
    import events.sparkSession.implicits._
    val bars = rebar(events, window)
    val scored = bars.select(col("symbol"), col("datetime"),
      col("open").cast("double").as("open"),
      col("high").cast("double").as("high"),
      col("low").cast("double").as("low"),
      col("close").cast("double").as("close"),
      col("volume").cast("long").as("volume"),
      lit(0.0).as("dividends"), lit(0.0).as("stock_splits"),
      Core.indicator(col("close"), col("open")).as("indicator")).as[Bar]
    indicatorCascade(scored)
  }

  /** One leg-aligned (x, y) cents observation — the grain of both
    * streaming pairs chains (t6 reads the spread x − y, w16 both legs). */
  final case class PairObsRow(pair: String, datetime: java.sql.Timestamp,
      x: Long, y: Long)

  /** Streaming t6 output: the batch query's columns, bit-identical. */
  final case class PairSignalRow(pair: String, datetime: java.sql.Timestamp,
      s: Long, signal: Long, milli_z2: Long)

  /** First-arrived-leg state for [[PairObsProcessor]]. */
  final case class PairLegState(aCents: Long, aSeen: Boolean,
      bCents: Long, bSeen: Boolean)

  /** Stage 1 of both streaming pairs chains: align the two legs of
    * (symA, symB) on the bar grid and emit the pair of cents values.
    * Keyed by the bar MINUTE — the state is one small record per
    * UNMATCHED minute (cleared the moment both legs arrive), so it is
    * bounded by the minutes whose other leg has not arrived, not by
    * history. Cents quantization matches the batch t6/w16's
    * round(close*100) exactly (prices are positive, so half-up ≡
    * half-away-from-zero).
    */
  class PairObsProcessor(symA: String, symB: String)
      extends StatefulProcessor[java.sql.Timestamp, Bar, PairObsRow] {
    @transient private var leg: org.apache.spark.sql.streaming.ValueState[PairLegState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      leg = getHandle.getValueState[PairLegState]("leg", pairLegEncoder, TTLConfig.NONE)

    override def handleInputRows(key: java.sql.Timestamp, rows: Iterator[Bar],
        timers: TimerValues): Iterator[PairObsRow] = {
      var st = Option(leg.get()).getOrElse(PairLegState(0L, false, 0L, false))
      for (b <- rows) {
        val cents = math.round(b.close * 100)
        if (b.symbol == symA) st = st.copy(aCents = cents, aSeen = true)
        else if (b.symbol == symB) st = st.copy(bCents = cents, bSeen = true)
      }
      if (st.aSeen && st.bSeen) {
        leg.clear()
        Iterator.single(PairObsRow(s"$symA|$symB", key, st.aCents, st.bCents))
      } else {
        leg.update(st)
        Iterator.empty
      }
    }
  }

  /** The (symA, symB) legs of `bars` aligned per minute ([[PairObsProcessor]]),
    * keyed by pair for the stage-2 window processors. */
  private def legs(bars: Dataset[Bar], symA: String,
      symB: String): KeyValueGroupedDataset[String, PairObsRow] = {
    import bars.sparkSession.implicits._
    bars.filter(b => b.symbol == symA || b.symbol == symB)
      .groupByKey(_.datetime)
      .transformWithState(new PairObsProcessor(symA, symB),
        TimeMode.None(), OutputMode.Append())
      .groupByKey(_.pair)
  }

  /** Stage 2: the t6 mean-reversion gate over a bounded per-pair buffer
    * of spreads s = x − y — EXACT integer algebra ((n·s−S)² > 4(n·SS−S²) and the
    * floored milli-z², identical to the batch window sums), so stream ≡
    * batch bit-for-bit. O(n) longs of state per pair. The ordering
    * contract is [[PairCorrProcessor]]'s, GUARDED the same way
    * ([[requireOrdered]]).
    */
  class PairZScoreProcessor extends StatefulProcessor[String, PairObsRow, PairSignalRow] {
    // (µs, s), oldest first: the newest entry's time is the latest the
    // key has seen, which the ordering guard reads
    @transient private var buf: ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val long = org.apache.spark.sql.Encoders.scalaLong
      buf = getHandle.getListState[(Long, Long)]("spreads",
        org.apache.spark.sql.Encoders.tuple(long, long), TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[PairObsRow],
        timers: TimerValues): Iterator[PairSignalRow] = {
      val batch = rows.toArray.sortBy(r => micros(r.datetime))
      if (batch.isEmpty) return Iterator.empty
      var b = buf.get().toList
      requireOrdered(s"pair $key", batch.map(_.datetime), b.lastOption.fold(Long.MinValue)(_._1))
      val out = batch.map { r =>
        val s = r.x - r.y
        b = (b :+ ((micros(r.datetime), s))).takeRight(ZScoreN)
        if (b.length >= ZScoreN) {
          val cnt = ZScoreN.toLong
          val sm = b.foldLeft(0L)(_ + _._2)
          val ss = b.foldLeft(0L)((acc, v) => acc + v._2 * v._2)
          val dev = cnt * s - sm
          val varn = cnt * ss - sm * sm
          val signal =
            if (dev * dev > 4L * varn) { if (dev > 0) -1L else 1L } else 0L
          val z2 = if (varn > 0) dev * dev * 1000L / varn else -1L
          PairSignalRow(r.pair, r.datetime, s, signal, z2)
        } else PairSignalRow(r.pair, r.datetime, s, 0L, -1L)
      }
      buf.put(b.toArray) // batch.nonEmpty appended at least one
      out.iterator
    }
  }

  /** The streaming pairs-trading strategy — batch `t6_pairs_zscore` for
    * one symbol pair as TWO chained stateful operators (the rebarCascade
    * pattern): minute-keyed leg alignment, then pair-keyed bounded
    * z-score state. StreamingSpec pins stream ≡ batch on the shared
    * frames; every emitted number is an exact integer.
    *
    * Ordering contract: spreads enter the z-score buffer in MATCH
    * order, so a leg that arrives batches late would append its minute
    * out of event-time order. Unlike the cascade, which folds a late bar
    * in, the z-score processor fails the query on it ([[requireOrdered]]),
    * as the w16 chain does; stage-1 carry-over within that contract is
    * pinned by the spec.
    */
  def pairsStrategy(bars: Dataset[Bar], symA: String, symB: String): Dataset[PairSignalRow] = {
    import bars.sparkSession.implicits._
    legs(bars, symA, symB).transformWithState(new PairZScoreProcessor,
      TimeMode.None(), OutputMode.Append())
  }

  /** Batch twin of [[pairsStrategy]] — the t6 window algebra restricted
    * to one pair, for the StreamingSpec equality pin. */
  def pairZScoreBatch(bars: DataFrame, symA: String, symB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = bars.where(col("symbol").isin(symA, symB))
      .select(col("symbol"), col("datetime"),
        round(col("close") * 100, 0).cast("long").as("cents"))
    val xy = c.as("a").join(c.as("b"),
        col("a.datetime") === col("b.datetime") && col("a.symbol") < col("b.symbol"))
      .select(concat(col("a.symbol"), lit("|"), col("b.symbol")).as("pair"),
        col("a.datetime").as("datetime"),
        (col("a.cents") - col("b.cents")).as("s"))
    val win = Window.partitionBy("pair").orderBy("datetime")
      .rowsBetween(1 - ZScoreN, Window.currentRow)
    val w = xy.select(col("pair"), col("datetime"), col("s"),
      count(lit(1)).over(win).as("n"),
      sum(col("s")).over(win).as("sm"),
      sum(col("s") * col("s")).over(win).as("ss"))
    val dev = col("n") * col("s") - col("sm")
    val varn = col("n") * col("ss") - col("sm") * col("sm")
    w.select(col("pair"), col("datetime"), col("s"),
      when(col("n") === ZScoreN && dev * dev > lit(4L) * varn,
        when(dev > 0, -1L).otherwise(1L)).otherwise(0L).as("signal"),
      when(col("n") === ZScoreN && varn > 0,
        expr("((n*s - sm)*(n*s - sm) * 1000) div (n*ss - sm*sm)"))
        .otherwise(-1L).as("milli_z2"))
  }

  // ---- streaming w16: rolling pair correlation (round-11 task 7) ----

  /** Streaming w16 output: pair, time, both legs, and the 20-bar Pearson
    * (None until the window fills or when a leg is flat — exactly the
    * batch query's NULL cases). */
  final case class PairCorrRow(pair: String, datetime: java.sql.Timestamp,
      x: Long, y: Long, corr20: Option[Double])

  /** The ordering guard of the rolling-window processors
    * ([[PairZScoreProcessor]], [[PairCorrProcessor]],
    * [[IchimokuProcessor]]): `times` (one key's
    * micro-batch, sorted) must all lie after `seen`, the latest time (µs)
    * of the key's earlier batches, and be strictly increasing in µs. A
    * bar stream emits one row per (key, window), so an EQUAL time is a
    * re-delivered bar — as corrupt for a rolling buffer as a late one.
    * Throws rather than splice the buffer out of order and silently
    * diverge from the batch twin. */
  private def requireOrdered(what: String, times: Array[java.sql.Timestamp],
      seen: Long): Unit = {
    if (micros(times.head) <= seen)
      throw new IllegalStateException(
        s"$what: out-of-order or duplicate arrival across micro-batches " +
          s"(${times.head.toInstant} after max seen " +
          s"${java.time.Instant.EPOCH.plus(seen, java.time.temporal.ChronoUnit.MICROS)}) — " +
          "feed this processor from a watermark-closed bar stream")
    times.iterator.sliding(2).withPartial(false).foreach { w =>
      if (micros(w(0)) == micros(w(1)))
        throw new IllegalStateException(
          s"$what: duplicate timestamp ${w(0)} within one " +
            "micro-batch — a bar stream emits one row per (key, window)")
    }
  }

  /** Stage 2: 20-bar rolling Pearson over a bounded per-pair buffer of
    * (x, y) cents — the batch w16's EXACT integer sufficient statistics
    * (n·Sxy−Sx·Sy etc. all BIGINT), with only the final two sqrts and
    * one division in doubles, so stream ≡ batch bit-for-bit. O(n) longs
    * of state per pair.
    *
    * ORDERING CONTRACT (same as [[pairsStrategy]] and the cascade,
    * see [[rebarCascade]]): rows are sorted within a micro-batch, but
    * arrival must be in event-time order ACROSS micro-batches — the
    * intended upstream is a watermark-closed bar aggregation, whose
    * append-mode emission is monotone per key. The contract is GUARDED
    * ([[requireOrdered]]): late or re-delivered data fails the query. */
  class PairCorrProcessor extends StatefulProcessor[String, PairObsRow, PairCorrRow] {
    // (µs, x, y), oldest first: the newest entry's time is the latest
    // the key has seen, which the ordering guard reads
    @transient private var buf: ListState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val long = org.apache.spark.sql.Encoders.scalaLong
      buf = getHandle.getListState[(Long, Long, Long)]("obs",
        org.apache.spark.sql.Encoders.tuple(long, long, long), TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[PairObsRow],
        timers: TimerValues): Iterator[PairCorrRow] = {
      val batch = rows.toArray.sortBy(r => micros(r.datetime))
      if (batch.isEmpty) return Iterator.empty
      var b = buf.get().toList
      requireOrdered(s"pair $key", batch.map(_.datetime), b.lastOption.fold(Long.MinValue)(_._1))
      val out = batch.map { r =>
        b = (b :+ ((micros(r.datetime), r.x, r.y))).takeRight(CorrN)
        val corr =
          if (b.length < CorrN) None
          else {
            val cnt = CorrN.toLong
            val sx = b.foldLeft(0L)(_ + _._2)
            val sy = b.foldLeft(0L)(_ + _._3)
            val sxy = b.foldLeft(0L)((a, v) => a + v._2 * v._3)
            val sxx = b.foldLeft(0L)((a, v) => a + v._2 * v._2)
            val syy = b.foldLeft(0L)((a, v) => a + v._3 * v._3)
            val dx = cnt * sxx - sx * sx
            val dy = cnt * syy - sy * sy
            if (dx > 0 && dy > 0)
              Some((cnt * sxy - sx * sy).toDouble /
                (math.sqrt(dx.toDouble) * math.sqrt(dy.toDouble)))
            else None
          }
        PairCorrRow(r.pair, r.datetime, r.x, r.y, corr)
      }
      buf.put(b.toArray)
      out.iterator
    }
  }

  /** The streaming w16 for one symbol pair — two chained stateful
    * operators, exactly the [[pairsStrategy]] layout with the z-score
    * gate swapped for the Pearson window. Same ordering contract. */
  def pairCorrStrategy(bars: Dataset[Bar], symA: String, symB: String): Dataset[PairCorrRow] = {
    import bars.sparkSession.implicits._
    legs(bars, symA, symB).transformWithState(new PairCorrProcessor,
      TimeMode.None(), OutputMode.Append())
  }

  /** Batch twin of [[pairCorrStrategy]] — the w16 window algebra
    * restricted to one pair, for the StreamingSpec equality pin. */
  def pairCorrBatch(bars: DataFrame, symA: String, symB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = bars.where(col("symbol").isin(symA, symB))
      .select(col("symbol"), col("datetime"),
        round(col("close") * 100, 0).cast("long").as("cents"))
    val xy = c.as("a").join(c.as("b"),
        col("a.datetime") === col("b.datetime") && col("a.symbol") < col("b.symbol"))
      .select(concat(col("a.symbol"), lit("|"), col("b.symbol")).as("pair"),
        col("a.datetime").as("datetime"),
        col("a.cents").as("x"), col("b.cents").as("y"))
    val win = Window.partitionBy("pair").orderBy("datetime")
      .rowsBetween(1 - CorrN, Window.currentRow)
    val w = xy.select(col("pair"), col("datetime"), col("x"), col("y"),
      count(lit(1)).over(win).as("n"),
      sum(col("x")).over(win).as("sx"), sum(col("y")).over(win).as("sy"),
      sum(col("x") * col("y")).over(win).as("sxy"),
      sum(col("x") * col("x")).over(win).as("sxx"),
      sum(col("y") * col("y")).over(win).as("syy"))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    w.select(col("pair"), col("datetime"), col("x"), col("y"),
      when(col("n") === CorrN && dx > 0 && dy > 0,
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))))
        .otherwise(lit(null).cast("double")).as("corr20"))
  }

  // ---- streaming w17: Ichimoku cloud (round-11 task 7) ----

  /** Streaming w17 output row (None ≡ the batch columns' NULLs). */
  final case class IchimokuRow(symbol: String, datetime: java.sql.Timestamp,
      close: Double, tenkan: Option[Double], kijun: Option[Double],
      senkouA: Option[Double], senkouB: Option[Double], chikou: Option[Double])

  /** Bounded per-symbol Ichimoku state: the last ≤52 (high, low) bars
    * (the longest midpoint frame), the ≤26-deep FIFO of derived midline
    * values (the senkou 26-bar lag), and the ≤26 rows awaiting their
    * `lead(close, 26)` — the identical three buffers
    * [[graft.ops.IchimokuScan]] replays per chunk, here persisted
    * between micro-batches. ~104 doubles + 26 small rows per symbol. */
  final case class IchiPend(datetime: java.sql.Timestamp, close: Double,
      tenkan: Option[Double], kijun: Option[Double],
      senkouA: Option[Double], senkouB: Option[Double])
  final case class IchiState(hs: Seq[Double], ls: Seq[Double], n: Long,
      fifoA: Seq[Option[Double]], fifoB: Seq[Option[Double]],
      pending: Seq[IchiPend])

  /** Streaming w17: a row EMITS when its 26-bars-later close arrives
    * (lead(close, 26) is future-dependent — the only indicator here that
    * must wait), so the stream's output equals the batch cascade's rows
    * WHERE chikou IS NOT NULL; the trailing 26 bars of a key stay
    * pending until more data comes (an unbounded stream never ends, so
    * lead()'s end-of-series NULLs never materialize). Every emitted
    * double is the identical IEEE expression on the identical operands
    * — stream ≡ batch bit-for-bit.
    *
    * ORDERING CONTRACT (same as [[PairCorrProcessor]], and GUARDED the
    * same way): in-batch rows are sorted here, but cross-batch arrival
    * must be event-time monotone per symbol — feed from a
    * watermark-closed bar stream ([[rebarCascade]]'s discipline). An
    * un-gated late bar fails the query loudly instead of entering the
    * 52-bar window and the 26-deep FIFOs out of order. */
  class IchimokuProcessor
      extends StatefulProcessor[String, Bar, IchimokuRow] {
    private val Lead = 26
    @transient private var st: org.apache.spark.sql.streaming.ValueState[IchiState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[IchiState]("ichi", ichiStateEncoder, TTLConfig.NONE)

    private def mid(hs: Seq[Double], ls: Seq[Double], n: Long, w: Int): Option[Double] =
      if (n < w) None
      else Some((hs.takeRight(w).max + ls.takeRight(w).min) / 2.0)

    override def handleInputRows(key: String, rows: Iterator[Bar],
        timers: TimerValues): Iterator[IchimokuRow] = {
      val batch = rows.toArray.sortBy(b => micros(b.datetime))
      if (batch.isEmpty) return Iterator.empty
      var s = Option(st.get()).getOrElse(
        IchiState(Nil, Nil, 0L, Nil, Nil, Nil))
      // every bar joins `pending`, so its last row is the latest bar seen
      requireOrdered(s"symbol $key", batch.map(_.datetime),
        s.pending.lastOption.fold(Long.MinValue)(p => micros(p.datetime)))
      val out = scala.collection.mutable.ArrayBuffer.empty[IchimokuRow]
      batch.foreach { b =>
        // the arriving close completes (emits) the row 26 back
        val (popped, rest) =
          if (s.pending.length == Lead) (Some(s.pending.head), s.pending.tail)
          else (None, s.pending)
        popped.foreach { p =>
          out += IchimokuRow(key, p.datetime, p.close, p.tenkan, p.kijun,
            p.senkouA, p.senkouB, Some(b.close))
        }
        val hs = (s.hs :+ b.high).takeRight(52)
        val ls = (s.ls :+ b.low).takeRight(52)
        val n = s.n + 1
        val tenkan = mid(hs, ls, n, 9)
        val kijun = mid(hs, ls, n, 26)
        val spanB0 = mid(hs, ls, n, 52)
        val aSrc = for (t <- tenkan; k <- kijun) yield (t + k) / 2.0
        val (senkouA, senkouB, fa, fb) =
          if (s.fifoA.length == Lead)
            (s.fifoA.head, s.fifoB.head, s.fifoA.tail :+ aSrc, s.fifoB.tail :+ spanB0)
          else (None, None, s.fifoA :+ aSrc, s.fifoB :+ spanB0)
        s = IchiState(hs, ls, n, fa, fb,
          rest :+ IchiPend(b.datetime, b.close, tenkan, kijun, senkouA, senkouB))
      }
      st.update(s)
      out.iterator
    }
  }

  /** Streaming w17 over a bar stream. */
  def ichimoku(bars: Dataset[Bar]): Dataset[IchimokuRow] = {
    import bars.sparkSession.implicits._
    bars.groupByKey(_.symbol)
      .transformWithState(new IchimokuProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Batch twin of [[ichimoku]] — the w17 window cascade over the same
    * frames (ONE formula definition, `Indicators.ichimokuCols`, shared
    * by the window tier, the scan tier, and this pin). */
  def ichimokuBatch(bars: DataFrame): DataFrame =
    graft.ops.Indicators.ichimokuCols(bars)

  /** Streaming gap sessionization — the streaming twin of the batch
    * `a6_sessionize` operator, on Spark's native session windows: each
    * user's events merge into sessions separated by >= `gap` of
    * inactivity; a session closes (and emits, in append mode) once the
    * watermark (1 second, the reference's delay) passes its end.
    *
    * Scale: state per OPEN session only (watermark-bounded), merged
    * incrementally — the unbounded-history window pass of the batch
    * formulation never materializes.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 second")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming incremental dedup ingest — the end-to-end training-data
    * loop: each micro-batch of documents (doc_id, text) is MinHash-
    * signed, LSH-probed against the corpus band index, exact-Jaccard
    * verified (`Dedup.JaccardThreshold`), and only the survivors are
    * (a) handed to `onKeep` and (b) appended to the index, so later
    * batches dedup against them. Within a batch, a doc also drops if it
    * matches an earlier-id batch member (same greedy rule as the batch
    * `d10_incremental`).
    *
    * Scale: per batch the work is O(batch signatures) + one probe join
    * against the index — never corpus x corpus. foreachBatch is the
    * right harness because the probe is a batch join against a mutable
    * EXTERNAL table — not stream state; Spark's stateful operators can't
    * host a multi-GB side index. The index is a table bucketed on the
    * band key (created on the first batch if missing), which gives
    * (a) crash/restart durability (a new query against the same table
    * keeps deduping against everything kept before — spec-pinned),
    * (b) an append-only write per batch (one sorted file per bucket, no
    * rewrite), and (c) an exchange-free stored side in the probe join:
    * the scan's bucket layout already satisfies the join's distribution,
    * so only the O(batch) probe side shuffles — the index NEVER moves.
    *
    * The probe join key is the single column `bkey = xxhash64(bi, bk)`
    * (bucketed single-key joins line up exchange-free; a 64-bit
    * collision merely adds a candidate pair that exact-Jaccard
    * verification rejects).
    */
  def dedupIngest(docs: DataFrame, indexTable: String, buckets: Int = 8,
      onKeep: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    def withBkey(bands: DataFrame): DataFrame =
      bands.withColumn("bkey", xxhash64(col("bi"), col("bk")))
    docs.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val sp = batch.sparkSession
        if (!sp.catalog.tableExists(indexTable)) {
          // create the empty bucketed table with the band schema so the
          // first batch probes (vacuously) and appends like any other
          val empty = withBkey(graft.ext.Dedup.bandRows(
            graft.ext.Dedup.signatures(batch.toDF().limit(0))))
          graft.sources.Layout.writeBucketed(empty, indexTable, "bkey", buckets)
        }
        val sig = graft.ext.Dedup.signatures(batch.toDF()).localCheckpoint()
        val bands = withBkey(graft.ext.Dedup.bandRows(sig))
        // candidate pairs: vs the corpus, and vs an earlier-id batch member
        def cand(other: DataFrame, on: org.apache.spark.sql.Column): DataFrame =
          bands.as("n").join(other.as("o"), col("n.bkey") === col("o.bkey") && on)
            .select(col("n.doc_id").as("nid"), col("n.sh").as("nsh"),
              col("o.sh").as("osh"))
        val pairs = cand(sp.table(indexTable), lit(true))
          .union(cand(bands, col("n.doc_id") > col("o.doc_id"))).distinct()
        val inter = size(array_intersect(col("nsh"), col("osh")))
        val drops = pairs.where(inter * 1.0 / (size(col("nsh")) + size(col("osh")) - inter) >=
            graft.ext.Dedup.JaccardThreshold)
          .select(col("nid").as("doc_id")).distinct()
        val keeps = batch.toDF().join(drops, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        onKeep(keeps, id)
        // materialize BEFORE the append: the kept-band lineage reads the
        // table being appended to
        val keptBands = bands.join(drops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("sh"), col("bi"), col("bk"), col("bkey"))
          .localCheckpoint()
        graft.sources.Layout.appendBucketed(keptBands, indexTable, "bkey", buckets)
      }
      .start()
  }

  /** Watermarked stream-stream interval join: every left row is matched
    * to right rows of the same key whose event time falls inside
    * [lts - beforeSec, lts + afterSec] — the streaming twin of the batch
    * range join (`ops/AsOf.rangeJoin`), e.g. live bars enriched with the
    * news/trade events surrounding them.
    *
    * Scale: Spark's symmetric hash join buffers BOTH sides keyed by the
    * join key, and the interval condition + both watermarks (10 seconds
    * each) give the planner a state-eviction bound — a row older than
    * watermark + interval can never match again and is dropped. Without
    * the time bound the join state would grow forever; this shape is the
    * only stream-stream join that survives at 100 TB/day ingest.
    *
    * Inputs must not share column names (rename before calling); `lts`
    * and `rts` are the two event-time columns.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      lkey: String, rkey: String, lts: String, rts: String,
      beforeSec: Int, afterSec: Int): DataFrame = {
    val l = left.withWatermark(lts, "10 seconds")
    val r = right.withWatermark(rts, "10 seconds")
    l.join(r,
      col(lkey) === col(rkey) &&
        col(rts) >= col(lts) - expr(s"INTERVAL $beforeSec SECONDS") &&
        col(rts) <= col(lts) + expr(s"INTERVAL $afterSec SECONDS"))
  }

  /** Streaming re-bar: tumbling event-time window OHLC aggregation — the
    * windowed-agg the reference lists as future work (`README.md:343-347`)
    * and the batch `Bars` derivation's streaming twin. Works on any
    * DataFrame with (symbol, ts-like event time, price, qty); the
    * watermark (1 second, the reference's delay) bounds state so closed
    * windows emit and their state is dropped.
    *
    * Scale: one keyed stateful aggregation; state is O(open windows x
    * symbols), partial aggregation happens before the shuffle, and the
    * watermark guarantees eviction — the standard production shape for
    * continuous bar building.
    */
  def rebar(events: DataFrame, window: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", "1 second")
      .groupBy(col("symbol"), org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(
        min_by(col("price"), col("ts")).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), col("ts")).as("close"),
        count(lit(1)).as("volume"))
      .select(col("symbol"), col("window.start").as("datetime"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))

  /** Sliding (hopping) windowed aggregation — the streaming twin of the
    * batch `a22_hopping` query: each event lands in window/slide
    * overlapping windows (Spark expands the membership per-row before
    * the keyed state lookup), every open window keeps O(1) aggregate
    * state, and the watermark (1 second) closes and evicts windows whose
    * end has passed. Append mode emits each window exactly once, on close —
    * the standard continuous-metrics shape (per-symbol rolling activity
    * at a finer emit cadence than the window length).
    */
  def slidingCount(events: DataFrame, window: String = "5 minutes",
      slide: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", "1 second")
      .groupBy(col("symbol"),
        org.apache.spark.sql.functions.window(col("ts"), window, slide))
      .agg(count(lit(1)).as("n_events"), sum(col("qty")).as("qty_sum"))
      .select(col("symbol"), col("window.start").as("win_start"),
        col("n_events"), col("qty_sum"))
}
