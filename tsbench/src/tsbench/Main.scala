package tsbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable

final case class Args(mode: String, workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: File, data: File, expect: Option[File], out: File, spans: Option[File], seeds: Seq[Long])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.toSeq.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(kv.getOrElse("mode", "run"), kv.getOrElse("workload", ""), kv.get("seed").map(_.toLong).getOrElse(0L),
      kv.get("seconds").map(_.toDouble).getOrElse(10.0), kv.get("trace").contains("1"),
      new File(get("work")), new File(kv.getOrElse("data", get("work"))), kv.get("expect").map(new File(_)),
      new File(get("out")), kv.get("spans").map(new File(_)),
      kv.get("seeds").map { r => val Array(lo, hi) = r.split("-"); lo.toLong to hi.toLong }.getOrElse(Nil))
  }
}

/** Entry point. Modes:
  *  - `run`: one run of a workload, writing its raw record as JSON;
  *  - `prepare`: writes surface's fixed input under `--data`;
  *  - `pin`: prints the verification checksums of a workload's ops;
  *  - `selftest`: the benchmark's own checks. */
object Main {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Seed of surface's fixed input; the run's seed does not apply to it. */
  val SurfaceSeed = 42L

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    a.work.mkdirs()
    val rec: Record = mutable.LinkedHashMap("workload" -> a.workload, "seed" -> a.seed)
    val slots = if (a.workload == "stream") Session.StreamSlots else Session.BatchSlots
    val spark = Session.create(a.work, slots, slots)
    try a.mode match {
      case "run" =>
        val cpu = new CpuCounter
        spark.sparkContext.addSparkListener(cpu)
        val tracer = if (a.trace) Some(new Tracer(spark)) else None
        val expect = a.expect.map(readExpect).getOrElse(Map.empty)
        a.workload match {
          case "dashboard" | "surface" =>
            rec("seed_applies") = a.workload == "dashboard"
            Batch.run(spark, a, rec, tracer, cpu, expect)
          case "stream" =>
            rec("seed_applies") = true
            Stream.run(spark, a, rec, tracer, cpu)
          case w => sys.error(s"unknown workload $w")
        }
        tracer.foreach(t => a.spans.foreach(f => write(f, Json(t.allSpans().map(s =>
          Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))))))
        write(a.out, Json(rec))
      case "prepare" => prepare(spark, a.data)
      case "pin" => write(a.out, Json(Pin.run(spark, a)))
      case "selftest" => SelfTest.run(spark, a)
      case m => sys.error(s"unknown mode $m")
    } finally spark.stop()
  }

  /** Surface's fixed input: the sf0.01-shaped star schema, whose events
    * are shallow enough for the window-arm cascade. A stamp records the
    * content fingerprint and the bytes it was taken from. */
  def prepare(spark: org.apache.spark.sql.SparkSession, data: File): Unit = {
    data.mkdirs()
    Gen.starSchema(spark, SurfaceSeed).foreach { case (name, df) => Gen.writeTable(df, data, name) }
    write(new File(data, Batch.StampName),
      s"${Checks.fingerprint(spark, data)} ${Checks.byteDigest(data)}\n")
  }

  /** `name value` lines: pinned checksums and the input fingerprint. */
  def readExpect(f: File): Map[String, String] =
    new String(Files.readAllBytes(f.toPath), UTF_8).linesIterator.map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap

  def write(f: File, s: String): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, s.getBytes(UTF_8))
  }
}

/** Checksums to pin: per seed for the dashboard input, once for surface's
  * fixed input. */
object Pin {
  def run(spark: org.apache.spark.sql.SparkSession, a: Args): Map[String, Any] = {
    graft.Q.determinismSort = false
    def sums(ops: Seq[Batch.Op]): Map[String, String] =
      ops.map(op => op.name -> Checks.checksum(graft.SparkEntry.queries(op.name)(spark, op.dir))).toMap
    a.workload match {
      case "dashboard" => a.seeds.map { s =>
        val dir = Batch.dashboardInput(spark, s, a.work)
        val out = sums(Batch.DashboardOps.map(Batch.Op(_, dir))) +
          ("fingerprint" -> Checks.fingerprint(spark, new File(dir)))
        Session.deleteRec(new File(dir))
        System.err.println(s"[pin] seed $s done")
        s.toString -> out
      }.toMap
      case "surface" =>
        sums(Batch.SurfaceOps.map(Batch.Op(_, a.data.getAbsolutePath))) +
          ("fingerprint" -> Checks.fingerprint(spark, a.data))
      case w => sys.error(s"nothing to pin for $w")
    }
  }
}
