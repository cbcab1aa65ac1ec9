package tsbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.ops.Dashboard

/** The two closed-loop workloads: one client runs a fixed list of ops
  * through the public query registry, back to back, for the run's
  * seconds. Each op is materialised through the `noop` sink, exactly as
  * `graft.Bench` does, with cached data dropped and a GC run before it
  * outside the timed window. */
object Batch {
  val DashboardOps = Seq("bars_rebar", "a3_latest_snapshot", "s11_top100", "w1_ema",
    "w3_rsi14", "w5_macd", "w6_adx", "t4_breakout", "g1_ascending_triangle", "c2_renko",
    "dashboard_cascade")
  val SurfaceOps = Seq("f1_fundamentals_flat", "f2_fundamentals_long", "x_profile",
    "a5_rollup", "a13_grouping_sets", "x_pagerank3", "e12_kmeans_full", "d8_dedup_keep",
    "dashboard_cascade")

  /** Events in the dashboard input: 2.3x the sf0.1 test data's
    * per-key history, which puts every seed's input more than 2x above
    * the scan-arm threshold (the margin is asserted each run). */
  val DeepEvents = 230000L
  /** Stamp written next to surface's prepared input. */
  val StampName = "stamp.txt"

  final case class Op(name: String, dir: String)

  /** Events bytes per key over the scan-arm threshold. */
  def armMargin(dir: String): Double = {
    val bytes = new File(dir, "events.parquet").length.toDouble
    bytes / graft.sources.Bars.symbols.size / Dashboard.DeepHistoryMinBytesPerKey
  }

  def arm(spark: SparkSession, dir: String): String =
    if (Dashboard.deepHistory(spark, dir)) "scan" else "window"

  /** Prepares the dashboard input for `seed` under `work`. */
  def dashboardInput(spark: SparkSession, seed: Long, work: File): String = {
    val dir = new File(work, s"input-$seed"); dir.mkdirs()
    Gen.writeTable(Gen.events(spark, seed, DeepEvents), dir, "events")
    dir.getAbsolutePath
  }

  /** Checksum of one op's output, and of its independent reference where
    * the benchmark has one: the scan-arm cascade must equal the window
    * cascade on the same input. */
  def verify(spark: SparkSession, op: Op, wantArm: String): (String, Option[String]) = {
    val out = SparkEntry.queries(op.name)(spark, op.dir)
    val sum = Checks.checksum(out)
    val ref =
      if (op.name == "dashboard_cascade" && wantArm == "scan")
        Some(Checks.checksum(Dashboard.cascadeWindows(spark, op.dir)
          .select(out.columns.toSeq.map(org.apache.spark.sql.functions.col): _*)))
      else None
    (sum, ref)
  }

  def run(spark: SparkSession, a: Args, rec: Record, tracer: Option[Tracer],
      cpu: CpuCounter, expect: Map[String, String]): Unit = {
    graft.Q.determinismSort = false
    val phases = mutable.LinkedHashMap.empty[String, Double]
    rec("setup_phases") = phases
    phases("session") = Main.sinceJvmStart()
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    // each workload reads one input directory, whose arm it fixes
    val (dir, wantArm, inputRows) = a.workload match {
      case "dashboard" =>
        val dir = phase("generate")(dashboardInput(spark, a.seed, a.work))
        phase("pretouch")(Session.preTouch(new File(dir)))
        val fp = phase("fingerprint")(Checks.fingerprint(spark, new File(dir)))
        rec("fingerprint") = fp
        expect.get("fingerprint").foreach(e => require(e == fp,
          s"input fingerprint $fp for seed ${a.seed} differs from the pinned $e: the input generator changed"))
        (dir, "scan", DeepEvents)
      case "surface" =>
        // the content fingerprint was taken when the input was prepared;
        // the byte digest (which also pre-touches it) shows it is unchanged
        val dir = a.data.getAbsolutePath
        val Array(fp, bytes) = new String(java.nio.file.Files.readAllBytes(
          new File(a.data, StampName).toPath), "UTF-8").trim.split(" ")
        require(phase("fingerprint")(Checks.byteDigest(a.data)) == bytes,
          s"surface input under $dir changed after it was prepared")
        rec("fingerprint") = fp
        expect.get("fingerprint").foreach(e => require(e == fp,
          s"surface input fingerprint $fp differs from the pinned $e: the input generator changed"))
        val rows = a.data.listFiles.filter(_.getName.endsWith(".parquet"))
          .map(f => graft.sources.Layout.rowCount(spark, f.getAbsolutePath)).sum
        (dir, "window", rows)
    }
    val ops = (if (a.workload == "dashboard") DashboardOps else SurfaceOps).map(Op(_, dir))
    rec("input_rows") = inputRows

    val failures = mutable.ArrayBuffer.empty[String]
    val failedOps = mutable.Set.empty[String]
    var attempted = 0L
    var failed = 0L
    def fail(op: String, why: String): Unit = {
      failures += s"$op: $why"; failedOps += op; failed += 1
    }

    // dispatch arm: the input must sit at least 2x from the threshold, and
    // every op must see the arm the workload fixes
    val margin = armMargin(dir)
    require(if (wantArm == "scan") margin >= 2 else margin <= 0.5,
      f"input $dir is ${margin}%.2fx the scan-arm threshold per key, too close for the $wantArm arm")
    val got = arm(spark, dir)
    if (got != wantArm) ops.foreach(op => fail(op.name, s"took the $got arm, expected $wantArm"))
    rec("arms") = ops.map(_.name -> got).toMap

    // untimed verification pass; it is also the warm-up: a fixed amount of
    // work that runs every op once and builds Layout's artifacts
    val sums = mutable.LinkedHashMap.empty[String, String]
    val verifyMs = mutable.LinkedHashMap.empty[String, Double]
    rec("verify_ms") = verifyMs
    ops.foreach { op =>
      val t0 = System.nanoTime()
      spark.catalog.clearCache()
      attempted += 1
      try {
        val (sum, ref) = tracer.fold(verify(spark, op, wantArm))(_.span("op.verify")(verify(spark, op, wantArm)))
        sums(op.name) = sum
        ref.foreach(r => if (r != sum) fail(op.name, s"checksum $sum differs from the window-arm reference $r"))
        expect.get(op.name).foreach(e => if (e != sum) fail(op.name, s"checksum $sum differs from the pinned $e"))
      } catch { case e: Exception => fail(op.name, s"verify threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      verifyMs(op.name) = (System.nanoTime() - t0) / 1e6
    }
    rec("checksums") = sums
    rec("pinned") = ops.forall(op => expect.contains(op.name))

    def once(op: Op, tr: Option[Tracer]): Double = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      def build(): DataFrame = SparkEntry.queries(op.name)(spark, op.dir)
      def exec(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      tr match {
        case None => exec(build())
        case Some(t) => t.span(s"op.${op.name}") {
          val df = t.span("op.build")(build())
          t.noteAnalysis(df)
          t.span("op.execute")(exec(df))
        }
      }
      (System.nanoTime() - t0) / 1e6
    }

    rec("setup_s") = Main.sinceJvmStart()

    // timed passes; in a traced run every other pass runs untraced so the
    // run measures its own tracing overhead
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val minPasses = if (tracer.isDefined) 2 else 1
    while (passes.size < minPasses || System.nanoTime() < deadline) {
      val traced = tracer.isDefined && passes.size % 2 == 0
      val tr = if (traced) tracer else None
      tracer.foreach(t => if (traced) t.install() else t.uninstall())
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val cpu0 = cpu.cpuNs.get
      val start = System.nanoTime()
      var ok = true
      def all(): Seq[(String, Double)] = ops.map { op =>
        attempted += 1
        val ms = try once(op, tr) catch { case e: Exception =>
          fail(op.name, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"); ok = false; Double.NaN
        }
        op.name -> ms
      }
      val opMs = tr.fold(all())(_.span("pass")(all()))
      val end = System.nanoTime()
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val opSum = opMs.map(_._2).sum
      passes += Map("wall_s" -> opSum / 1000, "cpu_s" -> (cpu.cpuNs.get - cpu0) / 1e9,
        "ok" -> (ok && !ops.exists(o => failedOps(o.name))), "traced" -> traced,
        "start" -> start, "end" -> end, "op_ms" -> opMs.toMap)
    }
    tracer.foreach(_.uninstall())
    rec("passes") = passes.map(_ - "start" - "end")
    rec("attempted") = attempted
    rec("failed") = failed
    rec("failures") = failures
    tracer.foreach(t => rec("layers") = Layers.batch(t, passes.toSeq, ops.map(_.name)))
  }
}
