package tsbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.streaming.Pipeline

/** The open-loop streaming workload: wire-JSON bars land in a file-source
  * directory (the stand-in for the reference's Kafka topic) and one query
  * decodes, scores, runs the per-symbol indicator cascade on RocksDB and
  * upserts into [[Store]] (the stand-in for Postgres).
  *
  * Phase 1 drains backlogs of a fixed size, each landed at once, with a
  * fixed `maxFilesPerTrigger`, so every run sees the same micro-batches.
  * Phase 2 lands one small file at a time and times each bar from its
  * landing to when the store shows it.
  *
  * Every landing waits for an idle query. A data batch moves the
  * watermark, and the query then runs a no-data batch about as long as
  * the data batch; a file landed during it queues behind it, and its
  * latency would depend on where in that batch it fell. */
object Stream {
  val Symbols = 2000
  val FilesPerTrigger = 2
  /** Warm-up: chunks of files, each file one minute for every symbol. */
  val WarmupChunks = 2
  val WarmupChunkFiles = 4
  /** Phase 1: backlogs of one such file each, drained one at a time. */
  val DrainChunks = 8
  /** Phase 2 lands files of this many bars, one at a time, for the run's
    * seconds. The median latency is set by the number of files, so files
    * are many and small. */
  val PacedBars = 125
  /** Phase 2 lands at least this many files, so its p99 latency has ten
    * samples beyond it. */
  val MinPacedFiles = 8
  /** Warm-up ends with this many phase-2 files: the first small batch
    * after large ones is slow. */
  val WarmupSmallFiles = 2
  /** The query is idle once no batch has finished for this long and no
    * trigger is running. Longer than the gap between a batch's end and
    * the start of the batch that follows it. */
  val QuietMs = 100L
  /** Upper bound on waiting for bars to show up before counting them missing. */
  val VisibleTimeoutMs = 60000L

  type Key = (String, Long)

  /** Keyed last-write-wins store. A key written twice is a duplicate. */
  final class Store(tracer: () => Option[Tracer]) {
    val rows = new ConcurrentHashMap[Key, Row]()
    val visibleAt = new ConcurrentHashMap[Key, java.lang.Long]()
    @volatile var schema: StructType = _
    @volatile var dups = 0L
    /** Time spent writing into the store, per micro-batch. */
    val upsertMs = mutable.ArrayBuffer.empty[Double]

    def key(r: Row): Key =
      (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("datetime").getTime / 1000)

    /** Runs the micro-batch (the collect executes it) and upserts its rows. */
    def upsert(batch: DataFrame, id: Long): Unit = {
      val rs = batch.collect()
      val t0 = System.nanoTime()
      if (schema == null) schema = batch.schema
      rs.foreach(r => if (rows.put(key(r), r) != null) dups += 1)
      val now = System.nanoTime()
      rs.foreach(r => visibleAt.putIfAbsent(key(r), now))
      synchronized { upsertMs += (now - t0) / 1e6; notifyAll() }
      tracer().foreach(_.record("sink.upsert", t0, now))
    }

    /** Waits until `n` distinct keys are visible; false on timeout. */
    def awaitCount(n: Long, timeoutMs: Long): Boolean = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (visibleAt.size < n && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      visibleAt.size >= n
    }
  }

  /** Per-bar latency from its landing to its visibility. Bars never
    * visible are missing, not late: they get no latency. */
  def latencies(landed: Seq[(Key, Long)], visibleAt: Key => Option[Long]): (Seq[Double], Int) = {
    val seen = landed.flatMap { case (k, l) => visibleAt(k).map(v => (v - l) / 1e6) }
    (seen, landed.size - seen.size)
  }

  /** Waits until `q` is idle (see [[QuietMs]]); false on timeout. */
  def awaitIdle(q: StreamingQuery): Boolean = {
    val deadline = System.nanoTime() + VisibleTimeoutMs * 1000000
    var last = q.lastProgress
    var since = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val p = q.lastProgress
      if (p ne last) { last = p; since = System.nanoTime() }
      else if (System.nanoTime() - since >= QuietMs * 1000000 && !q.status.isTriggerActive) return true
      Thread.sleep(2)
    }
    false
  }

  def run(spark: SparkSession, a: Args, rec: Record, tracer: Option[Tracer], cpu: CpuCounter): Unit = {
    val base = new File(a.work, "stream")
    val src = new File(base, "src"); src.mkdirs()
    val staging = new File(base, "staging"); staging.mkdirs()
    spark.conf.set("spark.sql.streaming.checkpointLocation", new File(base, "ckpt").getAbsolutePath)
    @volatile var traceOn = false
    val store = new Store(() => if (traceOn) tracer else None)

    var minute = 0
    var staged = 0
    val allKeys = mutable.ArrayBuffer.empty[Key]
    /** Writes `files` files into a fresh staging directory, each one the
      * next minute's bar for every symbol in `symbols`; returns the
      * directory, its keys and the count of keys staged so far. */
    def stage(files: Int, symbols: Seq[Int]): (File, Seq[Key], Long) = {
      val dir = new File(staging, f"c$staged%05d"); staged += 1; dir.mkdirs()
      val keys = (0 until files).flatMap { _ =>
        val m = minute; minute += 1
        Files.write(new File(dir, f"m$m%06d.json").toPath,
          symbols.map(k => Gen.wireBar(a.seed, k, m)).mkString("", "\n", "\n").getBytes(UTF_8))
        symbols.map(k => (Gen.symbol(k), Gen.minuteEpochSec(m)))
      }
      allKeys ++= keys
      (dir, keys, allKeys.size.toLong)
    }
    def land(dir: File): Long = {
      Files.move(dir.toPath, new File(src, dir.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      System.nanoTime()
    }
    val everySymbol = 0 until Symbols

    val raw = spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger.toLong)
      .text(src.getAbsolutePath + "/*")
    import spark.implicits._
    val scored = Pipeline.score(Pipeline.decode(raw)).as[Pipeline.Bar]

    // warm-up: a fixed number of chunks through the measured query
    val warm = (1 to WarmupChunks).map(_ => stage(WarmupChunkFiles, everySymbol))
    // staged in landing order: a bar older than the watermark is dropped
    val warmSmall = (0 until WarmupSmallFiles).map(j => stage(1, (j * PacedBars until (j + 1) * PacedBars)))
    val chunks = (1 to DrainChunks).map(_ => stage(1, everySymbol))
    // the query runs in a clone of the session, which copies the
    // query-execution listeners present when it starts
    tracer.foreach(_.install())
    val q = Pipeline.upsertQuery(Pipeline.indicatorCascade(scored).toDF(), store.upsert,
      Trigger.ProcessingTime(0L))
    tracer.foreach(_.uninstall())
    val phases = mutable.LinkedHashMap.empty[String, Double]
    rec("phases") = phases
    def mark(name: String): Unit = phases(name) = Main.sinceJvmStart()
    val failures = mutable.ArrayBuffer.empty[String]
    try {
      warm.foreach { case (dir, _, upto) =>
        land(dir)
        if (!store.awaitCount(upto, VisibleTimeoutMs)) failures += "warm-up timed out"
      }
      warmSmall.foreach { case (dir, _, upto) =>
        if (!awaitIdle(q)) failures += "query not idle in warm-up"
        land(dir)
        if (!store.awaitCount(upto, VisibleTimeoutMs)) failures += "warm-up timed out"
      }
      if (!awaitIdle(q)) failures += "query not idle after warm-up"
      rec("setup_s") = Main.sinceJvmStart()
      mark("setup")

      // phase 1: drain fixed backlogs; a traced run alternates traced and
      // untraced chunks to measure its own overhead
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val cpu0 = cpu.cpuNs.get
      val drains = chunks.zipWithIndex.map { case ((dir, keys, upto), i) =>
        val traced = tracer.isDefined && i % 2 == 0
        tracer.foreach(t => if (traced) t.install() else t.uninstall())
        traceOn = traced
        val landed = land(dir)
        val ok = store.awaitCount(upto, VisibleTimeoutMs)
        if (!ok) failures += s"drain chunk $i timed out"
        val done = keys.flatMap(k => Option(store.visibleAt.get(k))).map(_.longValue).maxOption.getOrElse(landed)
        if (!awaitIdle(q)) failures += s"query not idle after drain chunk $i"
        if (traced) tracer.foreach(_.record("stream.drain", landed, done))
        Map("wall_s" -> (done - landed) / 1e9, "rows" -> keys.size, "traced" -> traced, "ok" -> ok)
      }
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      rec("cpu_s") = (cpu.cpuNs.get - cpu0) / 1e9
      rec("passes") = drains
      rec("phase1_rows") = drains.map(_("rows").asInstanceOf[Int]).sum
      rec("phase1_wall_s") = drains.map(_("wall_s").asInstanceOf[Double]).sum
      mark("phase1")

      // phase 2: small files, each landed on an idle query, for the
      // run's seconds and at least MinPacedFiles files
      tracer.foreach(_.install())
      traceOn = tracer.isDefined
      val paced = mutable.ArrayBuffer.empty[(Seq[Key], Long)]
      val settle = mutable.ArrayBuffer.empty[Double]
      val end = System.nanoTime() + (a.seconds * 1e9).toLong
      var timedOut = false
      while (!timedOut && (System.nanoTime() < end || paced.size < MinPacedFiles)) {
        val first = (paced.size * PacedBars) % Symbols
        val (dir, keys, upto) = stage(1, (first until first + PacedBars).map(_ % Symbols))
        val t0 = System.nanoTime()
        val landed = land(dir)
        tracer.foreach(_.record("gen.land", t0, landed))
        paced += ((keys, landed))
        if (!store.awaitCount(upto, VisibleTimeoutMs)) { failures += "phase 2 timed out"; timedOut = true }
        else {
          val visible = System.nanoTime()
          if (!awaitIdle(q)) { failures += "query not idle in phase 2"; timedOut = true }
          settle += (System.nanoTime() - visible) / 1e6
        }
      }
      mark("phase2")
      traceOn = false
      tracer.foreach(_.uninstall())
      val (lat, _) = latencies(
        paced.toSeq.flatMap { case (keys, landed) => keys.map(_ -> landed) },
        k => Option(store.visibleAt.get(k)).map(_.longValue))
      rec("latency_ms") = lat
      rec("paced_files") = paced.size
      rec("gen_rows") = paced.map(_._1.size).sum
      rec("settle_ms") = settle.toSeq
    } finally q.stop()

    // verification: the store must equal the batch cascade over every
    // landed bar, each bar exactly once
    val ref = Pipeline.indicatorCascadeBatch(Pipeline.score(Pipeline.decode(
      spark.read.text(src.getAbsolutePath + "/*"))))
    val failed = verify(spark, store, ref, allKeys.toSeq, failures)
    mark("verify")
    rec("attempted") = allKeys.size.toLong
    rec("failed") = failed
    rec("failures") = failures.take(20)
    rec("sink_rows") = store.rows.size.toLong
    rec("sink_dups") = store.dups
    rec("sink_upsert_ms") = store.upsertMs.toSeq
    tracer.foreach(t => rec("layers") = Layers.stream(t, rec))
  }

  /** Counts bars that are missing, duplicated or differ from `ref`. */
  def verify(spark: SparkSession, store: Store, ref: DataFrame, keys: Seq[Key],
      failures: mutable.ArrayBuffer[String]): Long = {
    if (store.schema == null) { failures += "store is empty"; return keys.size.toLong }
    val schema = store.schema
    def hashes(df: DataFrame): Map[Key, Long] = {
      val typed = df.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      typed.select(col("symbol"), col("datetime"), Checks.rowHash(typed)).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000) -> r.getLong(2)).toMap
    }
    val want = hashes(ref)
    val got = hashes(spark.createDataFrame(store.rows.values.asScala.toSeq.asJava, schema))
    var failed = store.dups
    if (store.dups > 0) failures += s"${store.dups} bars upserted more than once"
    keys.foreach { k =>
      (got.get(k), want.get(k)) match {
        case (None, _) => failed += 1; if (failures.size < 20) failures += s"bar $k missing from the store"
        case (Some(_), None) => failed += 1; if (failures.size < 20) failures += s"bar $k missing from the batch reference"
        case (Some(g), Some(w)) if g != w => failed += 1; if (failures.size < 20) failures += s"bar $k differs from the batch cascade"
        case _ =>
      }
    }
    failed
  }
}
