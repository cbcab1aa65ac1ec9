package graft

import graft.streaming.Pipeline
import graft.streaming.Pipeline.Bar
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable

/** Streaming semantics (SURVEY.md §2.8): JSON decode with corrupt-drop,
  * event-time scoring, keyed upsert, bounded per-symbol state.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def bar(sym: String, i: Int): Bar =
    Bar(sym, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i / 60}%02d:${i % 60}%02d"),
      i, i + 1, i - 1, i, 10L, 0.0, 0.0, "HOLD")

  private def rec(sym: String, dt: String, o: Double, c: Double): String =
    s"""{"symbol":"$sym","Datetime":"$dt","Open":$o,"High":${math.max(o, c)},"Low":${math.min(o, c)},"Close":$c,"Volume":10,"Dividends":0.0,"Stock_Splits":0.0}"""

  /** Deterministic non-monotone closes: exercises RSI gain/loss
    * branches, SMA warm-up, and both MACD signs. */
  private def cascBar(sym: String, i: Int): Bar = {
    val close = 50.0 + 10.0 * math.sin(i * 0.7) + (i % 7)
    // high/low bands move INDEPENDENTLY of close (and of each other),
    // otherwise G1/G2's "rising highs AND falling lows" conjunction
    // is unsatisfiable and the pattern assertions go vacuous
    // volatility spikes (every 11th bar engulfs: new 5-row high AND
    // new 5-row low on the same row) make G1 reachable; G2 needs the
    // spike's extrema to then FALL OUT of both windows together
    // (spikes start at i=7 — a spike on row 0 would widen the running
    // support/resistance band before T2 can ever touch it)
    val spike = if (i % 11 == 7) 25.0 else 0.0
    bar(sym, i).copy(open = close - 0.5,
      high = close + 1 + 3.0 * math.sin(i * 1.3) + (i % 3) + spike,
      low = close - 1 - 3.0 * math.cos(i * 0.9) - (i % 5) - spike,
      close = close, volume = 10L + i % 4)
  }

  /** 40 [[cascBar]]s per symbol; the last symbol's last bar has a NaN
    * close (a wire `"Close":NaN` decodes to one), which Spark SQL orders
    * above every number: `NaN > 0` and `NaN >= x` hold. */
  private def cascBars(syms: Seq[String]): Seq[Bar] =
    for (sym <- syms; i <- 0 until 40) yield
      if (sym == syms.last && i == 39) cascBar(sym, i).copy(close = Double.NaN)
      else cascBar(sym, i)

  /** Equality in which NaN equals NaN, as in Spark SQL, through the
    * tuples, options and row sequences the cascade cases compare. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case (x: Seq[_], y: Seq[_]) => x.length == y.length && x.zip(y).forall { case (u, v) => same(u, v) }
    case (x: Product, y: Product) => x.productArity == y.productArity &&
      x.productIterator.zip(y.productIterator).forall { case (u, v) => same(u, v) }
    case _ => a == b
  }

  test("S6 decode: malformed rows silently dropped, schema-first") {
    val out = Pipeline.score(Pipeline.decode(Seq(
      rec("AAPL", "2024-01-01 10:00:00", 1.0, 2.0),
      """{"not json""",
      """{"symbol":"MSFT"}""", // missing Datetime -> dropped
      rec("MSFT", "2024-01-01 10:01:00", 5.0, 4.0)).toDF("value")))
    val rows = out.orderBy("symbol").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("indicator")).toSeq == Seq("BUY", "SELL"))
  }

  test("S9 streaming upsert: duplicates within and across batches converge to one row per PK") {
    // the store applies each micro-batch's rows as keyed upserts in
    // order (the reference's JDBC upsert writer): upsertQuery hands it
    // the batch as it is, in-batch duplicates included
    val input = MemoryStream[String](spark)
    val store = mutable.Map[(String, java.sql.Timestamp), Row]()
    val seen = mutable.ArrayBuffer.empty[Double]
    val scored = Pipeline.score(Pipeline.decode(input.toDF()))
    val q = Pipeline.upsertQuery(scored, (batch, _) => {
      batch.collect().foreach { r =>
        seen += r.getAs[Double]("close")
        store((r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("datetime"))) = r
      }
    }, Trigger.ProcessingTime(0L)) // immediate micro-batches; AvailableNow would stop after wave 1

    // one addData is one MemoryStream partition, so arrival order holds
    input.addData(
      rec("AAPL", "2024-01-01 10:00:00", 1.0, 2.0),
      rec("AAPL", "2024-01-01 10:00:00", 1.0, 3.0)) // same PK, same batch
    q.processAllAvailable()
    assert(seen == Seq(2.0, 3.0), s"store saw $seen")
    // the later row of the batch wins
    assert(store.size == 1 && store.values.head.getAs[Double]("close") == 3.0)
    input.addData(rec("AAPL", "2024-01-01 10:00:00", 1.0, 9.0)) // same PK, later batch
    q.processAllAvailable()
    q.stop()

    assert(store.size == 1)
    // later batch wins (upsert semantics)
    assert(store.values.head.getAs[Double]("close") == 9.0)
  }

  test("S13 bounded buffer: per-symbol state capped at 20 rows, arrival order kept") {
    val input = MemoryStream[Bar](spark)
    val out = Pipeline.boundedBuffer(input.toDS())
    val q = out.writeStream.format("memory").queryName("buf")
      .outputMode("append").start()

    input.addData((0 until 30).map(i => bar("AAPL", i)): _*)
    input.addData((0 until 5).map(i => bar("MSFT", i)): _*)
    q.processAllAvailable()

    // the last emission per symbol reflects the capped buffer
    val aapl = spark.table("buf").where($"symbol" === "AAPL")
    // first batch emits the trailing 20 of 30 rows
    assert(aapl.count() == 20)
    val minutes = aapl.select(max("open")).as[Double].head()
    assert(minutes == 29.0) // newest row retained
    assert(aapl.select(min("open")).as[Double].head() == 10.0) // oldest 10 evicted
    assert(spark.table("buf").where($"symbol" === "MSFT").count() == 5)

    // second wave: state persists across batches and stays capped
    input.addData((30 until 35).map(i => bar("AAPL", i)): _*)
    q.processAllAvailable()
    q.stop()
    val afterIds = spark.table("buf").where($"symbol" === "AAPL")
      .select("open").as[Double].collect()
    // total emitted rows: 20 (batch 1) + 20 (batch 2 re-emission of capped buffer)
    assert(afterIds.length == 40)
    assert(afterIds.max == 34.0)
  }

  test("streaming plan is stateless up to the sink (no unexpected shuffle)") {
    val plan = Pipeline.score(Pipeline.decode(Seq("{}").toDF("value")))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in ingest plan:\n$plan")
  }

  test("streaming re-bar: tumbling OHLC windows close on watermark advance") {
    val input = MemoryStream[(String, java.sql.Timestamp, Double, Long)](spark)
    val events = input.toDF().toDF("symbol", "ts", "price", "qty")
    val q = Pipeline.rebar(events, "1 minute")
      .writeStream.format("memory").queryName("rebar").outputMode("append").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      ("AAPL", ts("2024-01-01 10:00:05"), 10.0, 1L),
      ("AAPL", ts("2024-01-01 10:00:30"), 12.0, 1L),
      ("AAPL", ts("2024-01-01 10:00:50"), 11.0, 1L))
    q.processAllAvailable()
    // window [10:00, 10:01) not closed yet -> nothing emitted in append mode
    assert(spark.table("rebar").count() == 0)

    // advance event time past the watermark: closes the first window
    input.addData(("AAPL", ts("2024-01-01 10:01:30"), 20.0, 1L))
    q.processAllAvailable()
    input.addData(("AAPL", ts("2024-01-01 10:02:30"), 30.0, 1L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("rebar").orderBy("datetime").collect()
    assert(rows.length >= 1)
    val first = rows.head
    assert(first.getAs[Double]("open") == 10.0)
    assert(first.getAs[Double]("high") == 12.0)
    assert(first.getAs[Double]("low") == 10.0)
    assert(first.getAs[Double]("close") == 11.0)
    assert(first.getAs[Long]("volume") == 3L)
  }

  test("streaming sliding windows: each event counts in window/slide windows") {
    val input = MemoryStream[(String, java.sql.Timestamp, Double, Long)](spark)
    val events = input.toDF().toDF("symbol", "ts", "price", "qty")
    val q = Pipeline.slidingCount(events, "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("sliding").outputMode("append").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // one event -> member of 5 sliding windows
    input.addData(("AAPL", ts("2024-01-01 10:07:30"), 10.0, 2L))
    q.processAllAvailable()
    // push the watermark far enough to close all 5
    input.addData(("AAPL", ts("2024-01-01 10:30:00"), 11.0, 1L))
    q.processAllAvailable()
    input.addData(("AAPL", ts("2024-01-01 11:00:00"), 12.0, 1L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sliding")
      .where(col("win_start") < ts("2024-01-01 10:08:00")).orderBy("win_start").collect()
    // the 10:07:30 event appears in windows starting 10:03..10:07
    assert(rows.length == 5, rows.mkString(";"))
    assert(rows.head.getAs[java.sql.Timestamp]("win_start") == ts("2024-01-01 10:03:00"))
    assert(rows.last.getAs[java.sql.Timestamp]("win_start") == ts("2024-01-01 10:07:00"))
    assert(rows.forall(r => r.getAs[Long]("n_events") == 1L &&
      r.getAs[Long]("qty_sum") == 2L))
  }

  test("streaming dedup within watermark: exact duplicates collapse, state is bounded") {
    // the streaming-native half of the S9 upsert contract: duplicates
    // arriving within the watermark horizon drop in-engine (bounded
    // keyed state), so the foreachBatch store sees each PK once even
    // before its own dedup
    val input = MemoryStream[String](spark)
    val deduped = Pipeline.score(Pipeline.decode(input.toDF()))
      .withWatermark("datetime", "10 seconds")
      .dropDuplicatesWithinWatermark("symbol", "datetime")
    val q = deduped.writeStream.format("memory").queryName("dedupwm")
      .outputMode("append").start()

    input.addData(
      rec("AAPL", "2024-01-01 10:00:00", 1.0, 2.0),
      rec("AAPL", "2024-01-01 10:00:00", 1.0, 2.0), // same batch dup
      rec("MSFT", "2024-01-01 10:00:01", 5.0, 4.0))
    q.processAllAvailable()
    input.addData(rec("AAPL", "2024-01-01 10:00:00", 1.0, 2.0)) // cross-batch dup inside horizon
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("dedupwm").collect()
    assert(rows.length == 2, s"expected 2 deduped rows, got ${rows.length}")
  }

  test("streaming session windows: gap-merged sessions close on watermark, match batch semantics") {
    val input = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val events = input.toDF().toDF("user_id", "ts")
    val q = Pipeline.sessionize(events, gap = "30 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:10:00")), // same session (10 min gap)
      (1L, ts("2024-01-01 11:00:00")), // > 30 min after previous -> new session
      (2L, ts("2024-01-01 10:05:00")))
    q.processAllAvailable()
    // advance the watermark far past every session end to close them all
    input.addData((9L, ts("2024-01-02 00:00:00")))
    q.processAllAvailable()
    input.addData((9L, ts("2024-01-03 00:00:00")))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sessions")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3)))
    val u1 = rows.filter(_._1 == 1L).sortBy(_._2.getTime)
    assert(u1.length == 2, s"expected 2 sessions for user 1: ${rows.mkString(", ")}")
    assert(u1(0)._2 == ts("2024-01-01 10:00:00") && u1(0)._3 == 2L) // merged pair
    assert(u1(1)._2 == ts("2024-01-01 11:00:00") && u1(1)._3 == 1L)
    val u2 = rows.filter(_._1 == 2L)
    assert(u2.length == 1 && u2(0)._3 == 1L)
  }

  test("dedupIngest: drops vs corpus, within batch, and vs earlier-batch keeps") {
    val s = spark
    import s.implicits._
    val t = "graft_band_index_drops_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      val input = MemoryStream[(Long, String)](spark)
      val kept = mutable.Map[Long, Seq[Long]]()
      val q = Pipeline.dedupIngest(input.toDF().toDF("doc_id", "text"), t,
        onKeep = (keeps, id) => kept.synchronized {
          kept(id) = keeps.select("doc_id")
            .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq
        })

      // batch 0 seeds the corpus
      input.addData((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      q.processAllAvailable()
      input.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of corpus 1
        (11L, "one two three four five six seven eight nine"),  // unique -> keep
        (12L, "one two three four five six seven eight nine"))  // dup of 11 in-batch
      q.processAllAvailable()
      input.addData(
        (20L, "one two three four five six seven eight nine"),  // dup of batch-1 KEEP 11
        (21L, "red orange yellow green blue indigo violet"))    // unique -> keep
      q.processAllAvailable()
      q.stop()

      assert(kept == Map(0L -> Seq(1L), 1L -> Seq(11L), 2L -> Seq(21L)), s"kept=$kept")
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("dedupIngest: index survives a restart; probe join leaves the index unshuffled") {
    val s = spark
    import s.implicits._
    val t = "graft_band_index_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      def ingest(input: MemoryStream[(Long, String)], kept: mutable.ArrayBuffer[Long]) =
        Pipeline.dedupIngest(
          input.toDF().toDF("doc_id", "text"), t, buckets = 4,
          onKeep = (keeps, _) => kept.synchronized {
            kept ++= keeps.select("doc_id")
              .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
          })

      // run 1: within-batch dup drops, uniques keep and land in the table
      val in1 = MemoryStream[(Long, String)](spark)
      val kept1 = mutable.ArrayBuffer[Long]()
      val q1 = ingest(in1, kept1)
      in1.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight nine"),
        (3L, "alpha beta gamma delta epsilon zeta eta theta")) // in-batch dup of 1
      q1.processAllAvailable()
      q1.stop()
      assert(kept1.sorted == Seq(1L, 2L), s"kept1=$kept1")

      // restart: a brand-new query against the same table must still
      // drop duplicates of what run 1 kept — state outlived the query
      val in2 = MemoryStream[(Long, String)](spark)
      val kept2 = mutable.ArrayBuffer[Long]()
      val q2 = ingest(in2, kept2)
      in2.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of run-1 keep 1
        (11L, "red orange yellow green blue indigo violet"))    // unique -> keep
      q2.processAllAvailable()
      q2.stop()
      assert(kept2.sorted == Seq(11L), s"kept2=$kept2")
      // run-2's keep was appended too
      assert(spark.table(t).select("doc_id").distinct().count() == 3)

      // the probe join plan: stored side reads its buckets in place —
      // the ONLY exchange is the O(batch) probe side (broadcast disabled
      // so the layout, not the tiny spec scale, decides the plan)
      val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probe = graft.ext.Dedup.bandRows(graft.ext.Dedup.signatures(
            Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
              .toDF("doc_id", "text")))
          .withColumn("bkey", xxhash64(col("bi"), col("bk")))
        val j = probe.as("n").join(spark.table(t).as("o"), Seq("bkey"))
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
        val nEx = "Exchange".r.findAllIn(plan).length
        assert(nEx <= 1, s"expected only the probe-side exchange, got $nEx:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("stream-stream interval join: matches only inside the time band, plans stateful join") {
    val bars = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    val news = MemoryStream[(String, java.sql.Timestamp, String)](spark)
    val joined = Pipeline.intervalJoin(
      bars.toDF().toDF("symbol", "bar_ts", "close"),
      news.toDF().toDF("n_symbol", "news_ts", "headline"),
      "symbol", "n_symbol", "bar_ts", "news_ts",
      beforeSec = 60, afterSec = 60)
    val q = joined.writeStream.format("memory").queryName("ivjoin")
      .outputMode("append").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    bars.addData(
      ("AAPL", ts("2024-01-01 10:05:00"), 10.0),
      ("MSFT", ts("2024-01-01 10:05:00"), 20.0))
    news.addData(
      ("AAPL", ts("2024-01-01 10:04:30"), "inside-before"),   // -30s: match
      ("AAPL", ts("2024-01-01 10:05:45"), "inside-after"),    // +45s: match
      ("AAPL", ts("2024-01-01 10:07:30"), "outside"),         // +150s: no match
      ("MSFT", ts("2024-01-01 10:05:10"), "other-key"))       // matches MSFT only
    q.processAllAvailable()
    // advance both watermarks so the joined rows finalize in append mode
    bars.addData(("ZZZ", ts("2024-01-01 11:00:00"), 0.0))
    news.addData(("ZZZ", ts("2024-01-01 11:00:00"), "wm"))
    q.processAllAvailable()

    val got = spark.table("ivjoin").select("symbol", "headline")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    assert(got == Set(
      ("AAPL", "inside-before"), ("AAPL", "inside-after"),
      ("MSFT", "other-key"), ("ZZZ", "wm")),
      s"unexpected join result: $got")
  }

  test("rebar→cascade composition: ticks to indicators in one query equals the batch twin") {
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // 22 one-minute bars per symbol (enough to fill SMA20 and RSI14),
      // two ticks per bar so the OHLC agg does real work
      val ticks = for {
        sym <- Seq("AAPL", "MSFT"); m <- 0 until 22; t <- 0 until 2
      } yield {
        val price = 50.0 + 7.0 * math.sin(m * 0.9) + (m % 5) + t * 0.25
        (sym, ts(f"2024-01-01 10:$m%02d:${10 + t * 30}%02d"), price, 1L)
      }
      val input = MemoryStream[(String, java.sql.Timestamp, Double, Long)](spark)
      val events = input.toDF().toDF("symbol", "ts", "price", "qty")
      val casc = Pipeline.rebarCascade(events, "1 minute")
      // the re-bar's watermark closes its windows, so the cascade keeps it
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, EventTimeWatermark}
      val plan = casc.queryExecution.analyzed
      def marks(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        p.collect { case w: EventTimeWatermark => w }.size
      assert(marks(plan) == 1 && plan.collect { case a: Aggregate => marks(a) }.sum == 1,
        s"expected one watermark, below the re-bar Aggregate:\n$plan")
      val q = casc.writeStream.format("memory").queryName("rbcasc")
        .outputMode("append").start()

      val (w1, w2) = ticks.partition(_._2.before(ts("2024-01-01 10:10:00")))
      input.addData(w1: _*)
      q.processAllAvailable()
      input.addData(w2: _*)
      q.processAllAvailable()
      // far-future tick closes every real window (its own stays open and
      // is excluded from the comparison)
      input.addData(("AAPL", ts("2024-01-01 11:00:00"), 1.0, 1L))
      q.processAllAvailable()
      q.stop()

      // batch twin: same ticks -> batch OHLC bars -> batch window cascade
      import org.apache.spark.sql.functions.{window => fwindow}
      val batchBars = ticks.toDF("symbol", "ts", "price", "qty")
        .groupBy(col("symbol"), fwindow(col("ts"), "1 minute"))
        .agg(min_by(col("price"), col("ts")).as("open"),
          max(col("price")).as("high"), min(col("price")).as("low"),
          max_by(col("price"), col("ts")).as("close"),
          count(lit(1)).as("volume"))
        .select(col("symbol"), col("window.start").as("datetime"),
          col("high"), col("low"), col("close"), col("volume"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("datetime"))
      def vals(r: org.apache.spark.sql.Row) = (
        r.getAs[Double]("close"), r.getAs[Double]("ema5"), r.getAs[Double]("ema15"),
        Option(r.getAs[Any]("sma")).map(_.asInstanceOf[Double]),
        Option(r.getAs[Any]("rsi")).map(_.asInstanceOf[Double]),
        r.getAs[Double]("macd"), r.getAs[Double]("macd_signal"))
      val batch = Pipeline.indicatorCascadeBatch(batchBars)
        .collect().map(r => key(r) -> vals(r)).toMap
      val streamed = spark.table("rbcasc")
        .collect().map(r => key(r) -> vals(r)).toMap

      assert(streamed.size == 44, s"expected 44 closed bars, got ${streamed.size}")
      val diffs = streamed.keys.filter(k => streamed(k) != batch(k))
      assert(diffs.isEmpty,
        s"${diffs.size} rows diverge, e.g. ${diffs.headOption.map(k => (k, streamed(k), batch(k)))}")
      // RSI and SMA actually engaged (non-null tail) — not a vacuous pass
      assert(streamed.values.count(_._5.isDefined) > 0, "rsi never materialized")
      assert(streamed.values.count(_._4.isDefined) > 0, "sma never materialized")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("streaming indicator cascade equals the batch window cascade on the same frames") {
    try {
      val bars = cascBars(Seq("AAPL", "MSFT"))

      val input = MemoryStream[Bar](spark)
      val q = Pipeline.indicatorCascade(input.toDS())
        .writeStream.format("memory").queryName("casc")
        .outputMode("append").start()
      // two waves, each internally SHUFFLED (deterministic interleave) —
      // the processor must sort within the batch; state carries across
      def interleave(xs: Seq[Bar]) = {
        val (a, b) = xs.zipWithIndex.partition(_._2 % 2 == 0)
        (a ++ b.reverse).map(_._1)
      }
      input.addData(interleave(bars.filter(_.datetime.getTime < bars(25).datetime.getTime)): _*)
      q.processAllAvailable()
      input.addData(interleave(bars.filterNot(_.datetime.getTime < bars(25).datetime.getTime)): _*)
      q.processAllAvailable()
      q.stop()

      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("datetime"))
      def vals(r: org.apache.spark.sql.Row) = (
        r.getAs[Double]("close"), r.getAs[Double]("ema5"), r.getAs[Double]("ema15"),
        Option(r.getAs[Any]("sma")).map(_.asInstanceOf[Double]),
        Option(r.getAs[Any]("rsi")).map(_.asInstanceOf[Double]),
        r.getAs[Double]("macd"), r.getAs[Double]("macd_signal"))
      // the round-10 strategy/pattern extension columns
      def sigs(r: org.apache.spark.sql.Row) = (
        r.getAs[Int]("t1_signal"), r.getAs[Int]("t2_signal"),
        Option(r.getAs[Any]("t3_momentum")).map(_.asInstanceOf[Double]),
        r.getAs[Int]("t3_signal"), r.getAs[Int]("t4_signal"),
        r.getAs[Boolean]("g1_ascending"), r.getAs[Boolean]("g2_descending"),
        r.getAs[Boolean]("g3_rounding"))
      // the round-10 w12-w15 extension columns
      def inds(r: org.apache.spark.sql.Row) = (
        r.getAs[Double]("atr"),
        Option(r.getAs[Any]("stoch_k")).map(_.asInstanceOf[Double]),
        Option(r.getAs[Any]("stoch_d")).map(_.asInstanceOf[Double]),
        r.getAs[Long]("obv"), r.getAs[Double]("drawdown"))

      val cascRows = spark.table("casc").collect()
      val streamed = cascRows.map(r => key(r) -> vals(r)).toMap
      val streamedSigs = cascRows.map(r => key(r) -> sigs(r)).toMap
      val streamedInds = cascRows.map(r => key(r) -> inds(r)).toMap
      val batchRows = Pipeline.indicatorCascadeBatch(bars.toDF()
          .select($"symbol", $"datetime", $"high", $"low", $"close", $"volume"))
        .collect()
      val batch = batchRows.map(r => key(r) -> vals(r)).toMap
      val batchSigs = batchRows.map(r => key(r) -> sigs(r)).toMap
      val batchInds = batchRows.map(r => key(r) -> inds(r)).toMap

      assert(streamed.size == 80 && batch.size == 80)
      // bit-exact row equality (NaN equal to NaN): the incremental
      // recurrences replicate the batch window folds' accumulation order,
      // so no tolerance is needed
      val diffs = batch.keys.filter(k => !same(streamed(k), batch(k)))
      assert(diffs.isEmpty,
        s"${diffs.size} rows diverge, e.g. ${diffs.headOption.map(k => (k, streamed(k), batch(k)))}")
      // strategies + patterns: stream == batch on the same frames
      val sigDiffs = batchSigs.keys.filter(k => !same(streamedSigs(k), batchSigs(k)))
      assert(sigDiffs.isEmpty,
        s"${sigDiffs.size} signal rows diverge, e.g. ${sigDiffs.headOption.map(k => (k, streamedSigs(k), batchSigs(k)))}")
      // non-vacuity: each signal family actually fires somewhere (the
      // sine-wave closes guarantee momentum sign flips, range-band hits,
      // triangle conditions, and a defined G3 tail at 40 rows/symbol);
      // t1 is the as-written always-0 reference quirk, asserted as such
      assert(batchSigs.values.forall(_._1 == 0), "t1 quirk should be always 0")
      assert(batchSigs.values.exists(_._2 != 0), "t2 never fired")
      assert(batchSigs.values.exists(_._4 == 1) && batchSigs.values.exists(_._4 == -1),
        "t3 never fired both ways")
      assert(batchSigs.values.exists(_._5 != 0), "t4 never fired")
      assert(batchSigs.values.exists(_._6) || batchSigs.values.exists(_._7),
        "no triangle pattern fired")
      assert(batchSigs.values.exists(_._8), "g3 never fired")
      // w12-w15: stream == batch bit-exact, and each actually engages
      val indDiffs = batchInds.keys.filter(k => !same(streamedInds(k), batchInds(k)))
      assert(indDiffs.isEmpty,
        s"${indDiffs.size} w12-w15 rows diverge, e.g. ${indDiffs.headOption.map(k => (k, streamedInds(k), batchInds(k)))}")
      assert(batchInds.values.forall(_._1 >= 0), "negative atr")
      assert(batchInds.values.exists(_._3.isDefined), "stoch_d never materialized")
      assert(batchInds.values.exists(_._4 != 0L), "obv never moved")
      assert(batchInds.values.exists(_._5 < 0), "drawdown never engaged")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("indicator cascade state survives a save and load at every bar: one bar per micro-batch ≡ batch") {
    // each micro-batch carries one bar per symbol, so every bar's step
    // starts from the value the state store decoded: the ring positions
    // and NULL markers must round-trip. FLAT's flat run makes %K and RSI
    // NULL mid-series, and its NaN close then stays in the close ring
    try {
      val flat = (0 until 40).map { i =>
        val b = cascBar("FLAT", i)
        if (i >= 12 && i < 30) b.copy(open = 50.0, high = 50.0, low = 50.0, close = 50.0)
        else if (i == 33) b.copy(close = Double.NaN)
        else b
      }
      val bars = cascBars(Seq("AAPL", "MSFT")) ++ flat
      val input = MemoryStream[Bar](spark)
      val q = Pipeline.indicatorCascade(input.toDS())
        .writeStream.format("memory").queryName("cascPerBar")
        .outputMode("append").start()
      for (i <- 0 until 40) {
        input.addData(bars.filter(_.datetime == bar("AAPL", i).datetime): _*)
        q.processAllAvailable()
      }
      val batches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      assert(batches == 40, s"$batches micro-batches")

      def key(r: Row) = (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("datetime"))
      val got = spark.table("cascPerBar").collect().map(r => key(r) -> r).toMap
      val want = Pipeline.indicatorCascadeBatch(bars.toDF()
          .select($"symbol", $"datetime", $"high", $"low", $"close", $"volume"))
        .collect().map(r => key(r) -> r).toMap
      assert(got.size == 120 && want.size == 120, s"${got.size} stream rows, ${want.size} batch rows")
      val diffs = want.keys.filter(k => !same(got(k).toSeq, want(k).toSeq)).toSeq.sortBy(_._2.getTime)
      assert(diffs.isEmpty,
        s"${diffs.size} rows diverge, e.g. ${diffs.headOption.map(k => (k, got(k), want(k)))}")
      // not vacuous: a NULL %K and RSI after the warm-up, and the NaN in
      // a rolling mean
      val flatRows = want.collect { case ((sym, _), r) if sym == "FLAT" => r }
      assert(flatRows.exists(r => r.isNullAt(r.fieldIndex("stoch_k")) && !r.isNullAt(r.fieldIndex("sma"))))
      assert(flatRows.exists(r => r.isNullAt(r.fieldIndex("rsi")) && !r.isNullAt(r.fieldIndex("sma"))))
      assert(flatRows.exists(r => !r.isNullAt(r.fieldIndex("sma")) && r.getAs[Double]("sma").isNaN))
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("indicator cascade keeps one RocksDB state row per symbol") {
    // the scalar recurrences and the bounded rings are one
    // CascadeKernel.State value, so a micro-batch costs each key one
    // state get and one put; a split layout (list buffers beside a
    // scalar value) would report several rows per key here
    try {
      val keys = 50
      val input = MemoryStream[Bar](spark)
      val q = Pipeline.indicatorCascade(input.toDS())
        .writeStream.format("memory").queryName("cascLayout")
        .outputMode("append").start()
      for (i <- 0 until 3) {
        input.addData((0 until keys).map(k => bar(f"K$k%03d", i)))
        q.processAllAvailable()
      }
      val rowsTotal = q.lastProgress.stateOperators.head.numRowsTotal
      q.stop()
      assert(spark.table("cascLayout").count() == keys * 3L)
      assert(rowsTotal == keys, s"$rowsTotal state rows for $keys keys")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("stream micro-batch shuffles once: the cascade's keyed stage is the upsert's dedup") {
    // the frame the store gets for indicatorCascade(score(decode)) is
    // unique per (symbol, datetime) already, so the upsert adds no
    // exchange of its own: the one shuffle keys the bars by symbol.
    // foreachBatch hands the store a scan of the micro-batch's planned
    // RDD, whose own plan hides the cascade's exchange, so the shuffles
    // are counted in the lineage that the store's collect runs
    try {
      import org.apache.spark.ShuffleDependency
      def shuffles(rdd: org.apache.spark.rdd.RDD[_]): Int =
        rdd.dependencies.map {
          case d: ShuffleDependency[_, _, _] => 1 + shuffles(d.rdd)
          case d => shuffles(d.rdd)
        }.sum
      val input = MemoryStream[String](spark)
      val scored = Pipeline.score(Pipeline.decode(input.toDF())).as[Bar]
      val exchanges = mutable.ArrayBuffer.empty[Int]
      val q = Pipeline.upsertQuery(Pipeline.indicatorCascade(scored).toDF(), (batch, _) => {
        exchanges += shuffles(batch.queryExecution.toRdd)
        batch.collect()
      }, Trigger.ProcessingTime(0L))
      input.addData(rec("AAPL", "2024-01-01 10:00:00", 1.0, 2.0),
        rec("MSFT", "2024-01-01 10:00:00", 2.0, 3.0))
      q.processAllAvailable()
      q.stop()
      assert(exchanges == Seq(1), s"exchanges per micro-batch: $exchanges")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("indicator cascade keeps the last arrival of a duplicated bar and folds it once") {
    try {
      def mk(i: Int): Bar = {
        val close = 50.0 + 10.0 * math.sin(i * 0.7) + (i % 7)
        bar("AAPL", i).copy(open = close - 0.5, high = close + 2, low = close - 2,
          close = close, volume = 10L + i % 4)
      }
      val wave1 = (0 until 30).map(mk)
      val wave2 = (30 until 45).map(mk)
      // bar 10 arrives twice in wave 1; the earlier arrival, far off the
      // series, must leave no trace in the output or the state
      val early = mk(10).copy(close = 80.0, high = 82.0, low = 78.0, volume = 99L)
      val input = MemoryStream[Bar](spark)
      val q = Pipeline.indicatorCascade(input.toDS())
        .writeStream.format("memory").queryName("cascDup")
        .outputMode("append").start()
      input.addData(wave1.take(5) ++ Seq(early) ++ wave1.drop(5): _*)
      q.processAllAvailable()
      val afterWave1 = spark.table("cascDup").count()
      input.addData(wave2: _*)
      q.processAllAvailable()
      q.stop()
      assert(afterWave1 == 30, s"$afterWave1 rows for 30 distinct bars")

      def key(r: Row) = r.getAs[java.sql.Timestamp]("datetime")
      val got = spark.table("cascDup").collect().map(r => key(r) -> r.toSeq).toMap
      val want = Pipeline.indicatorCascadeBatch((wave1 ++ wave2).toDF()
          .select($"symbol", $"datetime", $"high", $"low", $"close", $"volume"))
        .collect().map(r => key(r) -> r.toSeq).toMap
      assert(got.size == 45 && want.size == 45, s"${got.size} stream rows, ${want.size} batch rows")
      assert(got(mk(10).datetime)(2) == mk(10).close, "the earlier arrival won")
      val diffs = want.keys.filter(k => got(k) != want(k)).toSeq.sortBy(_.getTime)
      assert(diffs.isEmpty,
        s"${diffs.size} rows diverge, e.g. ${diffs.headOption.map(k => (k, got(k), want(k)))}")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("indicator cascade over score(decode) carries no watermark: no no-data batch, no late-row drop") {
    // no processor here runs with event time, so a watermark in front of
    // one would only schedule an empty micro-batch after every advance;
    // score adds none, and no entry point needs to strip one
    try {
      import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
      import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
      val input = MemoryStream[String](spark)
      val scored = Pipeline.score(Pipeline.decode(input.toDF())).as[Bar]
      for ((name, query) <- Seq[(String, org.apache.spark.sql.Dataset[Bar] => org.apache.spark.sql.Dataset[_])](
          ("score", identity),
          ("indicatorCascade", Pipeline.indicatorCascade(_)),
          ("boundedBuffer", Pipeline.boundedBuffer(_)),
          ("pairsStrategy", Pipeline.pairsStrategy(_, "AAPL", "MSFT")),
          ("pairCorrStrategy", Pipeline.pairCorrStrategy(_, "AAPL", "MSFT")),
          ("ichimoku", Pipeline.ichimoku(_)))) {
        val marks = query(scored).queryExecution.analyzed.collect { case w: EventTimeWatermark => w }
        assert(marks.isEmpty, s"watermark in the plan of $name: $marks")
      }
      val casc = Pipeline.indicatorCascade(scored)
      val q = casc.writeStream.format("memory").queryName("cascNoWm")
        .outputMode("append").start()
      input.addData(rec("AAPL", "2024-01-01 10:05:00", 1.0, 2.0),
        rec("AAPL", "2024-01-01 10:06:00", 2.0, 3.0))
      q.processAllAvailable()
      // six minutes older than the newest bar, far past the reference's
      // 1 s watermark delay
      input.addData(rec("AAPL", "2024-01-01 10:00:00", 3.0, 4.0))
      q.processAllAvailable()
      // processAllAvailable returns once the engine runs no further
      // batch: two data batches end at id 1, and a no-data batch after
      // the first landing would make it 2
      val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.currentBatchId
      q.stop()
      assert(last == 1, s"two landings ran ${last + 1} micro-batches")
      val got = spark.table("cascNoWm").select("datetime").as[java.sql.Timestamp].collect().toSet
      assert(got == Set("10:00:00", "10:05:00", "10:06:00")
        .map(t => java.sql.Timestamp.valueOf(s"2024-01-01 $t")), s"cascade rows: $got")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("streaming pairs strategy equals the batch t6 algebra on the same frames") {
    try {
      // two legs whose spread mean-reverts with occasional blowouts so
      // the +/-2-sigma gate actually fires both directions
      def mkLeg(sym: String, i: Int): Bar = {
        val base = 100.0 + 10.0 * math.sin(i * 0.3)
        val close =
          if (sym == "AAPL") base + 2.0 * math.sin(i * 1.1) + (if (i % 13 == 7) 9.0 else 0.0)
          else base - 1.0 * math.cos(i * 0.7) - (if (i % 17 == 5) 8.0 else 0.0)
        bar(sym, i).copy(open = close, high = close + 1, low = close - 1, close = close)
      }
      val bars = for (sym <- Seq("AAPL", "MSFT"); i <- 0 until 60) yield mkLeg(sym, i)

      val input = MemoryStream[Bar](spark)
      val q = Pipeline.pairsStrategy(input.toDS(), "AAPL", "MSFT")
        .writeStream.format("memory").queryName("pairs")
        .outputMode("append").start()
      // waves split by TIME (each minute's BOTH legs in one wave,
      // intra-wave shuffled): spreads must enter the stage-2 buffer in
      // event-time order — a leg matched a batch late would append its
      // minute out of order, the same cross-batch-disorder exclusion as
      // the indicator cascade (stage-1 carry-over is pinned separately
      // below)
      val cut = bars.find(_.symbol == "AAPL").get.datetime.getTime + 30 * 1000
      val (w1, w2) = bars.partition(_.datetime.getTime < cut)
      def shuffle(xs: Seq[Bar]) = {
        val (a, b) = xs.zipWithIndex.partition(_._2 % 2 == 0)
        (a ++ b.reverse).map(_._1)
      }
      // stage 1's state rows (the deeper of the two state operators,
      // listed last): one per minute still waiting for its other leg
      def legRows(q: org.apache.spark.sql.streaming.StreamingQuery) =
        q.lastProgress.stateOperators.last.numRowsTotal
      input.addData(shuffle(w1): _*)
      q.processAllAvailable()
      input.addData(shuffle(w2): _*)
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.length == 2)
      // both legs of every minute arrived: stage 1 holds no state
      assert(legRows(q) == 0, s"${legRows(q)} leg rows after every minute matched")
      q.stop()

      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[String]("pair"), r.getAs[java.sql.Timestamp]("datetime"))
      def vals(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("s"), r.getAs[Long]("signal"), r.getAs[Long]("milli_z2"))
      val streamed = spark.table("pairs").collect().map(r => key(r) -> vals(r)).toMap
      val batch = Pipeline.pairZScoreBatch(bars.toDF(), "AAPL", "MSFT")
        .collect().map(r => key(r) -> vals(r)).toMap
      assert(streamed.size == 60 && batch.size == 60)
      val diffs = batch.keys.filter(k => streamed(k) != batch(k))
      assert(diffs.isEmpty,
        s"${diffs.size} rows diverge, e.g. ${diffs.headOption.map(k => (k, streamed(k), batch(k)))}")
      // the gate actually engages (exact integers, so equality above is
      // bit-level): at least one fired row and defined z2 tail
      assert(batch.values.exists(_._2 != 0L), "pairs signal never fired")
      assert(batch.values.exists(_._3 >= 0L), "z2 never defined")

      // stage-1 carry-over in isolation: one minute's legs split across
      // batches still emit exactly one spread with the right value
      val in2 = MemoryStream[Bar](spark)
      val q2 = Pipeline.pairsStrategy(in2.toDS(), "AAPL", "MSFT")
        .writeStream.format("memory").queryName("pairs_carry")
        .outputMode("append").start()
      in2.addData(mkLeg("AAPL", 0)); q2.processAllAvailable()
      assert(legRows(q2) == 1, s"${legRows(q2)} leg rows after a lone leg")
      in2.addData(mkLeg("MSFT", 0)); q2.processAllAvailable()
      assert(legRows(q2) == 0, s"${legRows(q2)} leg rows after the match")
      q2.stop()
      val carried = spark.table("pairs_carry").collect()
      assert(carried.length == 1, s"expected one matched spread, got ${carried.length}")
      val want = math.round(mkLeg("AAPL", 0).close * 100) -
        math.round(mkLeg("MSFT", 0).close * 100)
      assert(carried.head.getAs[Long]("s") == want)
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("count-min sketch is streaming-mergeable: micro-batch slot counts equal the batch grid") {
    // the property that makes x_heavy_hitters' sketch pass streaming-
    // native at 100 TB: the D x W counter grid is a plain additive
    // aggregation, so the SAME slot-count plan runs as a streaming
    // aggregation and the state after any micro-batch split equals the
    // one-shot batch grid — a sketch maintained continuously over an
    // ingest stream answers the same heavy-hitter prune
    import graft.ops.Sketch
    val input = MemoryStream[String](spark)
    val slots = input.toDF().select(col("value").as("token"))
      .select(explode(array((0 until Sketch.CmsD).map(i =>
        Sketch.cmsSlot(col("token"), i)): _*)).as("p"))
      .groupBy("p").count()
    val q = slots.writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    val batch1 = Seq("join", "hash", "join", "scan")
    val batch2 = Seq("join", "scan", "dup", "dup", "filter")
    input.addData(batch1: _*); q.processAllAvailable()
    input.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_stream").as[(Int, Long)].collect().toMap
    val grid = Sketch.cmsBuild((batch1 ++ batch2).toDF("token"), "token")
      .select("cms").as[Seq[Long]].head()
    val fromGrid = grid.zipWithIndex.collect { case (c, p) if c > 0 => p -> c }.toMap
    assert(streamed == fromGrid,
      s"streamed slots != batch grid (${streamed.size} vs ${fromGrid.size} non-zero)")
  }

  test("streaming w16 pair correlation equals the batch window algebra bit-for-bit") {
    try {
      // correlated legs with drift + independent wobble so corr20 spans
      // positive, negative, and near-zero regimes
      def mkLeg(sym: String, i: Int): Bar = {
        val base = 100.0 + 10.0 * math.sin(i * 0.25)
        val close =
          if (sym == "AAPL") base + 3.0 * math.sin(i * 0.9)
          else 120.0 - base + 2.0 * math.cos(i * 1.3)
        bar(sym, i).copy(open = close, high = close + 1, low = close - 1, close = close)
      }
      val bars = for (sym <- Seq("AAPL", "MSFT"); i <- 0 until 60) yield mkLeg(sym, i)

      val input = MemoryStream[Bar](spark)
      val q = Pipeline.pairCorrStrategy(input.toDS(), "AAPL", "MSFT")
        .writeStream.format("memory").queryName("paircorr")
        .outputMode("append").start()
      val cut = bars.find(_.symbol == "AAPL").get.datetime.getTime + 30 * 1000
      val (w1, w2) = bars.partition(_.datetime.getTime < cut)
      input.addData(w1: _*); q.processAllAvailable()
      input.addData(w2: _*); q.processAllAvailable()
      q.stop()

      def key(r: Row) =
        (r.getAs[String]("pair"), r.getAs[java.sql.Timestamp]("datetime"))
      def vals(r: Row) = (r.getAs[Long]("x"), r.getAs[Long]("y"),
        Option(r.getAs[java.lang.Double]("corr20")).map(_.doubleValue))
      val streamed = spark.table("paircorr").collect().map(r => key(r) -> vals(r)).toMap
      val batch = Pipeline.pairCorrBatch(bars.toDF(), "AAPL", "MSFT")
        .collect().map(r => key(r) -> vals(r)).toMap
      assert(streamed.size == 60 && batch.size == 60)
      val diffs = batch.keys.filter(k => streamed(k) != batch(k))
      assert(diffs.isEmpty,
        s"${diffs.size} rows diverge, e.g. ${diffs.headOption.map(k => (k, streamed(k), batch(k)))}")
      // the window actually filled and the corr actually moved
      val defined = batch.values.flatMap(_._3).toSeq
      assert(defined.nonEmpty, "corr20 never defined")
      assert(defined.exists(_ > 0.3) || defined.exists(_ < -0.3), "corr never left zero")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("streaming w17 ichimoku equals the batch cascade on every completed row") {
    try {
      def mkBar(sym: String, i: Int): Bar = {
        val c = 100.0 + 15.0 * math.sin(i * 0.11) + (if (sym == "AAPL") 0.0 else 7.0)
        bar(sym, i).copy(open = c, high = c + 1 + (i % 3), low = c - 1 - (i % 5), close = c)
      }
      // 120 bars per symbol: senkou_b first defines at bar 52+26 = 78,
      // and only the first 120-26 = 94 rows complete their lead — so the
      // COMPARED frame (completed rows) includes defined senkou_b rows
      val bars = for (sym <- Seq("AAPL", "MSFT"); i <- 0 until 120) yield mkBar(sym, i)

      val input = MemoryStream[Bar](spark)
      val q = Pipeline.ichimoku(input.toDS())
        .writeStream.format("memory").queryName("ichi_stream")
        .outputMode("append").start()
      // three waves: boundaries land inside the 52-raw window AND the
      // 26-deep pending queue, exercising cross-batch state carry
      val t0 = bars.find(_.symbol == "AAPL").get.datetime.getTime
      val w1 = bars.filter(_.datetime.getTime < t0 + 40 * 1000)
      val w2 = bars.filter(b => b.datetime.getTime >= t0 + 40 * 1000 &&
        b.datetime.getTime < t0 + 81 * 1000)
      val w3 = bars.filter(_.datetime.getTime >= t0 + 81 * 1000)
      input.addData(w1: _*); q.processAllAvailable()
      input.addData(w2: _*); q.processAllAvailable()
      input.addData(w3: _*); q.processAllAvailable()
      q.stop()

      def key(r: Row) =
        (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("datetime"))
      def d(r: Row, c: String): Option[Double] =
        Option(r.getAs[java.lang.Double](c)).map(_.doubleValue)
      val streamed = spark.table("ichi_stream").collect().map { r =>
        key(r) -> (r.getAs[Double]("close"), d(r, "tenkan"), d(r, "kijun"),
          d(r, "senkouA"), d(r, "senkouB"), d(r, "chikou"))
      }.toMap
      // a stream never ends, so rows whose lead(close, 26) is still
      // pending haven't emitted: the comparable frame is the batch rows
      // WHERE chikou IS NOT NULL (the first N-26 bars per symbol)
      val batch = Pipeline.ichimokuBatch(bars.toDF())
        .where(col("chikou").isNotNull).collect().map { r =>
        key(r) -> (r.getAs[Double]("close"), d(r, "tenkan"), d(r, "kijun"),
          d(r, "senkou_a"), d(r, "senkou_b"), d(r, "chikou"))
      }.toMap
      assert(batch.size == 2 * (120 - 26))
      assert(streamed.size == batch.size,
        s"stream emitted ${streamed.size} rows, batch has ${batch.size} completed")
      val diffs = batch.keys.filter(k => streamed(k) != batch(k))
      assert(diffs.isEmpty,
        s"${diffs.size} rows diverge, e.g. ${diffs.headOption.map(k => (k, streamed(k), batch(k)))}")
      // every column actually engaged (non-null somewhere)
      assert(batch.values.exists(_._4.isDefined), "senkou_a never defined")
      assert(batch.values.exists(_._5.isDefined), "senkou_b never defined")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("t6/w16/w17 processors fail LOUDLY on out-of-order arrival across batches") {
    // the ordering contract is guarded, not just documented: un-gated
    // late data must kill the query with a diagnosable error, never
    // splice the rolling state silently (the batch twin would diverge)
    val across = "out-of-order or duplicate arrival across micro-batches"
    val within = "within one micro-batch"
    val first = (10 until 15).map(i => bar("AAPL", i))
    // both legs of each bar, for the pairs chain; MSFT's closes differ
    // from AAPL's so the Pearson window depends on the order it fills in
    def legs(bs: Seq[Bar]) = bs.flatMap(b => Seq(b, b.copy(symbol = "MSFT", close = b.close * 7 % 11)))
    val dup = bar("AAPL", 20)
    // two bars 1 µs apart: distinct event times, which a millisecond
    // comparison would take for one
    val early = bar("AAPL", 30)
    val late = early.copy(close = 45.0, datetime = {
      val t = new java.sql.Timestamp(early.datetime.getTime); t.setNanos(1000); t })
    // (entry point, first landing, second landing, expected message, or
    // the batch twin the output of both landings must equal)
    val cases = Seq[(String, org.apache.spark.sql.Dataset[Bar] => org.apache.spark.sql.Dataset[_],
        Seq[Bar], Seq[Bar], Either[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame])](
      // a bar EARLIER than the max seen arrives in a later micro-batch
      ("ichimoku", Pipeline.ichimoku(_), first, Seq(bar("AAPL", 3)), Left(across)),
      ("pairCorrStrategy", Pipeline.pairCorrStrategy(_, "AAPL", "MSFT"),
        legs(first), legs(Seq(bar("AAPL", 3))), Left(across)),
      ("pairsStrategy", Pipeline.pairsStrategy(_, "AAPL", "MSFT"),
        legs(first), legs(Seq(bar("AAPL", 3))), Left(across)),
      // two bars with one timestamp land in the same micro-batch (the
      // pairs chains cannot land one: their leg aligner keys by the full
      // µs time, so a re-delivered minute becomes one observation)
      ("ichimoku", Pipeline.ichimoku(_), first, Seq(dup, dup), Left(within)),
      // two bars 1 µs apart land newest first: the guard passes them and
      // the full Pearson window takes them in µs order
      ("pairCorrStrategy", Pipeline.pairCorrStrategy(_, "AAPL", "MSFT"),
        legs((10 until 30).map(i => bar("AAPL", i))), legs(Seq(late, early)),
        Right(Pipeline.pairCorrBatch(_, "AAPL", "MSFT"))))
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    for (((name, query, landing1, landing2, expect), i) <- cases.zipWithIndex) {
      try {
        val input = MemoryStream[Bar](spark)
        val q = query(input.toDS()).writeStream.format("memory")
          .queryName(s"guard$i").outputMode("append").start()
        input.addData(landing1: _*)
        q.processAllAvailable()
        input.addData(landing2: _*)
        expect match {
          case Left(msg) =>
            val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
              q.processAllAvailable()
            }
            assert(causes(e).exists(_.contains(msg)),
              s"$name: expected '$msg', got: ${causes(e).mkString(" | ")}")
          case Right(twin) =>
            q.processAllAvailable()
            val got = spark.table(s"guard$i").collect().toSeq
            val times = got.map(_.getTimestamp(1))
            assert(times.takeRight(2) == Seq(early.datetime, late.datetime) && times == times.sorted,
              s"$name: rows not in µs order: $times")
            val want = twin((landing1 ++ landing2).toDF()).collect().toSeq
            assert(got.length == want.length && got.map(_.toSeq).toSet == want.map(_.toSeq).toSet,
              s"$name: stream ${got.mkString(", ")} != batch ${want.mkString(", ")}")
        }
        q.stop()
      } finally spark.streams.active.foreach(_.stop())
    }
  }

  test("state-scale rung: 10k-symbol cascade — measured throughput and state footprint (round-12 task 6)") {
    // The correctness pins above run at 2-3 symbols; the 100 TB framing
    // keys state BY SYMBOL, so this rung turns the cascade's "~104
    // doubles per key" design note into a MEASURED envelope at 10k keys
    // on the RocksDB provider: every key's state is written and re-read
    // across micro-batches, per-batch latency and the store's reported
    // footprint land in the test log, and collapse (a key exploding the
    // state, throughput falling off a cliff) fails loudly. Semantics are
    // already pinned by the 2-symbol stream≡batch cases — this asserts
    // only scale-shape facts.
    try {
      val keys = 10000
      val barsPerKey = 25 // > every bounded frame (SMA20/RSI14)
      val input = MemoryStream[Bar](spark)
      val q = Pipeline.indicatorCascade(input.toDS())
        .writeStream.format("memory").queryName("cascade10k")
        .outputMode("append").start()

      val t0 = System.nanoTime()
      // 3 micro-batches: state persists and re-loads across batches for
      // EVERY key (the expensive path), not just within one batch
      for (lo <- Seq(0, 10, 20)) {
        val hi = math.min(lo + 10, barsPerKey)
        input.addData(for {
          k <- 0 until keys; i <- lo until hi
        } yield bar(f"S$k%05d", i))
        q.processAllAvailable()
      }
      val wallSec = (System.nanoTime() - t0) / 1e9

      val out = spark.table("cascade10k")
      assert(out.count() == keys.toLong * barsPerKey)
      assert(out.select("symbol").distinct().count() == keys.toLong)

      // progress metrics: rows/s and the state store's own numbers
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      val totalRows = progs.map(_.numInputRows).sum
      val st = progs.last.stateOperators.head
      val custom = st.customMetrics
      val sstBytes = Option(custom.get("rocksdbSstFileSize"))
        .map(_.longValue).getOrElse(-1L)
      // memoryUsedBytes is the provider's standard footprint report
      // (RocksDB reports its in-memory usage there)
      val memBytes = st.memoryUsedBytes
      info(f"10k-key cascade: ${totalRows} rows in $wallSec%.1f s = " +
        f"${totalRows / wallSec}%.0f rows/s; state rows=${st.numRowsTotal} " +
        f"sst=${sstBytes} B mem=${memBytes} B " +
        f"(~${(sstBytes.max(0L) + memBytes.max(0L)) / keys} B/key reported)")
      q.stop()

      // scale-shape floors/ceilings, set far from the measured values so
      // only a collapse trips them: single-box local[4] must stream
      // >= 2k rows/s (measured ~20-60k), and the per-key footprint must
      // stay bounded (<= 64 KB/key across sst+mem vs the ~1 KB design
      // state — RocksDB block/index overhead included)
      assert(totalRows == keys.toLong * barsPerKey)
      assert(totalRows / wallSec >= 2000,
        f"throughput collapsed: ${totalRows / wallSec}%.0f rows/s")
      if (sstBytes >= 0 && memBytes >= 0)
        assert((sstBytes + memBytes) / keys <= 64 * 1024,
          s"state footprint exploded: ${(sstBytes + memBytes) / keys} B/key")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
  }

  test("restore rung: 10k-key checkpoint → restart → resume; post-restore ≡ batch (round-13 task 6)") {
    // The throughput rung above measures a single query's life; a real
    // deployment's risk is the RESTART — 10k keys of RocksDB state must
    // reload from the checkpoint (changelog checkpointing on, the
    // production configuration) and the resumed stream must emit
    // EXACTLY what an uninterrupted batch computation over the full
    // history emits. Bars 20-24 only emit correctly if every key's
    // EMA/SMA/RSI accumulator state survived the restart bit-for-bit,
    // so the equality check IS the restore-correctness proof; the
    // restore wall time and per-batch latency land in the test log.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restore_ckpt").toString
    try {
      val keys = 10000
      val input = MemoryStream[Bar](spark)
      // foreachBatch, not the memory sink: only fault-tolerant sinks may
      // recover from a checkpoint (the memory sink refuses at analysis)
      def start(buf: mutable.ArrayBuffer[org.apache.spark.sql.Row]) =
        Pipeline.indicatorCascade(input.toDS())
          .writeStream
          .foreachBatch { (ds: org.apache.spark.sql.Dataset[Pipeline.CascRow], _: Long) =>
            val rows = ds.toDF().collect()
            buf.synchronized { buf ++= rows }; ()
          }
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
      def wave(lo: Int, hi: Int) =
        for { k <- 0 until keys; i <- lo until hi } yield bar(f"S$k%05d", i)

      // life 1: 20 bars/key over two micro-batches, then STOP — the
      // checkpoint now holds 10k keys of committed cascade state
      val buf1 = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val q1 = start(buf1)
      for (lo <- Seq(0, 10)) {
        input.addData(wave(lo, lo + 10): _*)
        q1.processAllAvailable()
      }
      q1.stop()

      // life 2: a NEW query on the SAME checkpoint; wall time covers
      // state reload + the first post-restore batch
      input.addData(wave(20, 25): _*)
      val buf2 = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val t0 = System.nanoTime()
      val q2 = start(buf2)
      q2.processAllAvailable()
      val restoreSec = (System.nanoTime() - t0) / 1e9
      val prog = q2.recentProgress.filter(_.numInputRows > 0)
      val batchMs = prog.map(_.durationMs.get("triggerExecution").longValue)
      val rows2 = prog.map(_.numInputRows).sum
      info(f"restore+first-batch at $keys keys: $restoreSec%.1f s for $rows2 rows " +
        f"(${rows2 / restoreSec}%.0f rows/s; per-batch latency ${batchMs.mkString(",")} ms)")
      q2.stop()

      // post-restore emissions (bars 20-24, 50k rows) ≡ the batch twin
      // over the FULL 25-bar history — provable only if the restored
      // state equals the pre-restart state for every key
      val cut = bar("S00000", 20).datetime
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("datetime"))
      def vals(r: org.apache.spark.sql.Row) = (
        r.getAs[Double]("close"), r.getAs[Double]("ema5"), r.getAs[Double]("ema15"),
        Option(r.getAs[Any]("sma")).map(_.asInstanceOf[Double]),
        Option(r.getAs[Any]("rsi")).map(_.asInstanceOf[Double]),
        r.getAs[Double]("macd"), r.getAs[Double]("macd_signal"))
      val streamed = buf2.synchronized { buf2.toArray }
        .map(r => key(r) -> vals(r)).toMap
      assert(streamed.size == keys * 5, s"post-restore rows: ${streamed.size}")
      val batch = Pipeline.indicatorCascadeBatch(
          (for { k <- 0 until keys; i <- 0 until 25 } yield bar(f"S$k%05d", i))
            .toDF().select($"symbol", $"datetime", $"high", $"low", $"close", $"volume"))
        .where(col("datetime") >= lit(cut))
        .collect().map(r => key(r) -> vals(r)).toMap
      val diffs = batch.keys.filter(k => streamed(k) != batch(k))
      assert(diffs.isEmpty,
        s"${diffs.size} post-restore rows diverge from batch, e.g. " +
          s"${diffs.headOption.map(k => (k, streamed(k), batch(k)))}")
      // collapse floor only (measured ~10-40k rows/s on local[4])
      assert(rows2 / restoreSec >= 1000,
        f"restore throughput collapsed: ${rows2 / restoreSec}%.0f rows/s")
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("steady-state rung: 10k keys x 50 micro-batches on RocksDB — p50/p99 batch latency (round-13 task 8)") {
    // The throughput rung measures 3 fat batches; the restore rung
    // measures one restart. A deployment's steady state is NEITHER: it
    // is a long sequence of SMALL batches, where regressions show up as
    // per-batch latency creep (changelog growth, compaction stalls,
    // state-load thrash) that a 3-batch total hides. This rung drives
    // the full cascade at 10k keys for 50 one-bar-per-key micro-batches
    // on RocksDB with changelog checkpointing (the production config)
    // and reports p50/p99 of triggerExecution — a NUMBER future rounds
    // regress against instead of an anecdote. Floors are collapse-only:
    // semantics are pinned by the stream≡batch cases above.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    try {
      val keys = 10000
      val batches = 50
      val input = MemoryStream[Bar](spark)
      val q = Pipeline.indicatorCascade(input.toDS())
        .writeStream.format("memory").queryName("steady10k")
        .outputMode("append").start()
      val batchMs = mutable.ArrayBuffer.empty[Long]
      for (i <- 0 until batches) {
        input.addData((0 until keys).map(k => bar(f"S$k%05d", i)))
        val t0 = System.nanoTime()
        q.processAllAvailable()
        batchMs += (System.nanoTime() - t0) / 1000000
      }
      val out = spark.table("steady10k")
      assert(out.count() == keys.toLong * batches)
      q.stop()

      // wall-clock per processed batch (covers trigger + commit, the
      // number a consumer of the stream actually waits), plus the
      // engine's own triggerExecution for cross-checking in the log
      val sorted = batchMs.sorted
      def pct(p: Double) = sorted(math.min(sorted.length - 1,
        (p * sorted.length).toInt))
      val trig = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").longValue).sorted
      def tpct(p: Double) = if (trig.isEmpty) -1L
        else trig(math.min(trig.length - 1, (p * trig.length).toInt))
      info(f"steady state $keys keys x $batches batches: wall p50=${pct(0.5)} ms " +
        f"p99=${pct(0.99)} ms max=${sorted.last} ms; " +
        f"triggerExecution p50=${tpct(0.5)} ms p99=${tpct(0.99)} ms " +
        f"(total ${batchMs.sum / 1000.0}%.1f s for ${keys * batches} rows)")

      // collapse-only floors, far above the measured envelope: a p99
      // blowup (compaction stall, state reload per batch) or a ramp
      // (late batches much slower than early) trips them; normal noise
      // on a shared box does not
      assert(pct(0.5) <= 10000, s"steady-state p50 collapsed: ${pct(0.5)} ms")
      assert(pct(0.99) <= 30000, s"steady-state p99 collapsed: ${pct(0.99)} ms")
      // tail-shape guard (round-15 task 5, attributed from per-trigger
      // phases and RocksDB flush/SST metrics, which the traced stream run
      // `tsbench/run.py --workload stream --trace 1` reports): the
      // measured p99/p50 = 7.7× tail is ENTIRELY batch 0 — RocksDB
      // instance creation + the first memtable flush
      // (5.9 s vs 0.7 s steady; gc ≤ 0.1 s, compaction 0 in all 50
      // batches). Past batch 0 the only recurring bump is the
      // every-~10th-batch memtable flush + snapshot checkpoint
      // (changelog cadence, +0.3–0.9 s on a 0.7 s batch). So excluding
      // warmup, the tail must stay within a small multiple of the
      // median: a genuine compaction stall or state-reload-per-batch
      // regression lands 10×+ and trips this.
      val postWarm = batchMs.drop(1).sorted
      def ppct(p: Double) = postWarm(math.min(postWarm.length - 1,
        (p * postWarm.length).toInt))
      assert(ppct(0.99) <= math.max(ppct(0.5) * 6, 2000L),
        s"post-warmup tail regressed: p50=${ppct(0.5)} ms p99=${ppct(0.99)} ms " +
          s"(batch 0 = ${batchMs.head} ms is excluded warmup; see the traced tsbench stream run)")
      val early = batchMs.slice(5, 15).sorted.apply(5)
      val late = batchMs.takeRight(10).sorted.apply(5)
      assert(late <= math.max(early, 200L) * 10,
        s"per-batch latency ramps: early median ${early} ms, late median ${late} ms " +
          s"(all: ${batchMs.mkString(",")})")
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }
}
