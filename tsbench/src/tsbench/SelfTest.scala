package tsbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Pipeline

/** The benchmark's own checks: input determinism and arms, checksum order
  * independence, due-time accounting and failure counting. Throws on the
  * first failed check. */
object SelfTest {
  private def check(what: String)(ok: Boolean): Unit = {
    if (!ok) throw new AssertionError(s"selftest failed: $what")
    println(s"ok - $what")
  }

  def run(spark: SparkSession, a: Args): Unit = {
    inputs(spark, a.work)
    checksums(spark)
    dueTime()
    failures(spark)
  }

  /** Same seed, same fingerprint; another seed, other data on the same arm. */
  def inputs(spark: SparkSession, work: File): Unit = {
    def gen(seed: Long, tag: String): (String, String) = {
      val dir = Batch.dashboardInput(spark, seed, new File(work, tag))
      (Checks.fingerprint(spark, new File(dir)), Batch.arm(spark, dir))
    }
    val (a1, arm1) = gen(1, "a")
    val (b1, _) = gen(1, "b")
    val (c2, arm2) = gen(2, "c")
    check("the same seed gives the same input fingerprint")(a1 == b1)
    check("another seed gives different data")(a1 != c2)
    check("both seeds take the scan arm")(arm1 == "scan" && arm2 == "scan")
  }

  def checksums(spark: SparkSession): Unit = {
    val df = spark.range(1000).select(col("id"), (col("id") / 7.0).as("x"),
      when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("s"), col("id").cast("string"))).as("s"))
    val base = Checks.checksum(df)
    check("the checksum does not depend on row order or partitioning")(
      base == Checks.checksum(df.orderBy(col("id").desc)) && base == Checks.checksum(df.repartition(7)))
    check("the checksum sees a changed value")(
      base != Checks.checksum(df.withColumn("x", when(col("id") === 500, lit(0.5)).otherwise(col("x")))))
    check("the checksum sees a duplicated row")(base != Checks.checksum(df.union(df.limit(1))))
  }

  /** A sink that stalls once: bars due after the stall are late, none missing. */
  def dueTime(): Unit = {
    val ms = 1000000L
    val due = (0 until 20).map(j => ((s"S$j", j.toLong), j * 100 * ms))
    var free = 0L
    val visible = due.map { case (k, d) =>
      val stall = if (k._2 == 5) 2000 * ms else 0L
      free = math.max(free, d) + 20 * ms + stall
      k -> free
    }.toMap
    val (lat, missing) = Stream.latencies(due, k => visible.get(k))
    check("a stalling sink leaves no bar missing")(missing == 0 && lat.size == due.size)
    check("bars due during the stall are late by it")(lat.drop(6).take(5).forall(_ > 1000) && lat.take(5).forall(_ < 100))
    val (_, gone) = Stream.latencies(due, k => if (k._2 == 19) None else visible.get(k))
    check("a bar never shown is missing, not late")(gone == 1)
  }

  /** Store contents that differ from the batch reference count as failures. */
  def failures(spark: SparkSession): Unit = {
    import spark.implicits._
    val wire = for (m <- 0 until 40; k <- 0 until 3) yield Gen.wireBar(7, k, m)
    val ref = Pipeline.indicatorCascadeBatch(Pipeline.score(Pipeline.decode(wire.toDF("value"))))
    val rows = ref.collect()
    def storeOf(rs: Seq[Row], dups: Long = 0): Stream.Store = {
      val st = new Stream.Store(() => None)
      st.schema = ref.schema
      rs.foreach(r => st.rows.put(st.key(r), r))
      st.dups = dups
      st
    }
    val keys = rows.toSeq.map(r => storeOf(Nil).key(r))
    def failed(st: Stream.Store) = Stream.verify(spark, st, ref, keys, mutable.ArrayBuffer.empty)
    check("a store equal to the reference has no failures")(failed(storeOf(rows.toSeq)) == 0)
    val i = ref.schema.fieldIndex("close")
    val changed = rows(10).toSeq.updated(i, rows(10).getDouble(i) + 1)
    val corrupt = rows.toSeq.updated(10,
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(changed.toArray, ref.schema))
    check("a corrupted bar counts as a failure")(failed(storeOf(corrupt)) == 1)
    check("a missing bar counts as a failure")(failed(storeOf(rows.toSeq.drop(1))) == 1)
    check("a duplicated bar counts as a failure")(failed(storeOf(rows.toSeq, dups = 1)) == 1)
  }
}
