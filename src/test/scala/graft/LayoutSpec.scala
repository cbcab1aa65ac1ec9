package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.sources.{Bars, Layout}
import org.apache.spark.sql.functions._

/** Write-side layout specs: what the writer organizes, the scanner must
  * actually skip. Assertions are on the PHYSICAL PLAN TEXT (partition
  * filters / pushed filters / absence of Exchange), not just on result
  * values — layout is a plan property.
  */
class LayoutSpec extends SparkTestBase {

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))

  test("writeClustered: partition dirs pruned, sorted column pushed down") {
    val out = Files.createTempDirectory("graft-layout").resolve("bars").toString
    try {
      val bars = Bars(spark, sf)
      Layout.writeClustered(bars, out, Seq("symbol"), "datetime")

      val dirs = Files.list(Paths.get(out)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("symbol=")).toSeq
      assert(dirs.size == 3, s"expected 3 symbol partitions, got $dirs")
      // filesPerPartition=1 => exactly one parquet file per partition dir
      dirs.foreach { d =>
        val files = Files.list(Paths.get(out, d)).iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
        assert(files.size == 1, s"$d: expected 1 file, got ${files.size}")
      }

      val sym = bars.select("symbol").as[String](org.apache.spark.sql.Encoders.STRING)
        .head()
      val q = Layout.readClustered(spark, out)
        .where(col("symbol") === sym && col("close") > 0)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.replaceAll("\\s", "").contains(s"symbol#"),
        s"no partition filter in plan:\n$plan")
      assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(close"),
        s"close predicate not pushed:\n$plan")
      // pruning must not change results
      assert(q.count() == bars.where(col("symbol") === sym && col("close") > 0).count())
    } finally deleteRec(Paths.get(out).getParent)
  }

  test("writeClustered filesPerPartition>1: bounded file count, same rows, pruning intact") {
    val out = Files.createTempDirectory("graft-layout-fpp").resolve("bars").toString
    try {
      val bars = Bars(spark, sf)
      val fpp = 4
      Layout.writeClustered(bars, out, Seq("symbol"), "datetime", filesPerPartition = fpp)

      val dirs = Files.list(Paths.get(out)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("symbol=")).toSeq
      assert(dirs.size == 3, s"expected 3 symbol partitions, got $dirs")
      // the contract is AT MOST fpp files per partition value (hash
      // collisions across (partition, bucket) pairs can merge tasks),
      // and more than one (the split actually happened at this scale)
      dirs.foreach { d =>
        val files = Files.list(Paths.get(out, d)).iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
        assert(files.size <= fpp && files.nonEmpty,
          s"$d: expected 1..$fpp files, got ${files.size}")
      }
      // partition pruning and row fidelity are unchanged by the file split
      val sym = bars.select("symbol").as[String](org.apache.spark.sql.Encoders.STRING).head()
      val q = Layout.readClustered(spark, out).where(col("symbol") === sym)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
      assert(q.count() == bars.where(col("symbol") === sym).count())
      assert(Layout.readClustered(spark, out).count() == bars.count())
    } finally deleteRec(Paths.get(out).getParent)
  }

  test("readEvolved: batches with added columns merge; old rows read NULL") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-evolve").resolve("t").toString
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .write.mode("append").parquet(out)
      Seq((3L, "c", 9.5)).toDF("id", "v", "score") // column added later
        .write.mode("append").parquet(out)
      val df = Layout.readEvolved(spark, out)
      assert(df.columns.sorted.toSeq == Seq("id", "score", "v"))
      val rows = df.select("id", "v", "score").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(9.5))))
    } finally deleteRec(Paths.get(out).getParent)
  }

  test("metadata caches follow a rewritten path: row count and schema are read again") {
    // Layout.rowCount and the Tables schema cache serve size-dispatch and
    // read decisions; a path overwritten in the same JVM must not answer
    // with its old footer count or its old schema
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-recache")
    val path = dir.resolve("t.parquet").toString
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(path)
      assert(Layout.rowCount(spark, path) == 2L)
      assert(graft.sources.Tables(spark, dir.toString, "t").columns.toSeq == Seq("id", "v"))

      Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5)).toDF("id", "v", "score")
        .write.mode("overwrite").parquet(path)
      assert(Layout.rowCount(spark, path) == 3L, "row count served from the old file")
      val t = graft.sources.Tables(spark, dir.toString, "t")
      assert(t.columns.toSeq == Seq("id", "v", "score"), "schema served from the old file")
      assert(t.agg(sum("score")).head().getDouble(0) == 4.5)
    } finally deleteRec(dir)
  }

  test("writeBucketed: co-bucketed join plans with zero shuffle") {
    val a = "graft_bucket_a"; val b = "graft_bucket_b"
    // broadcast would win at spec scale and hide the layout; the claim
    // under test is the big-big case where broadcast is impossible
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bars = Bars(spark, sf)
      Layout.writeBucketed(bars.select(col("symbol"), col("datetime"), col("close")),
        a, "symbol", 4)
      Layout.writeBucketed(
        bars.groupBy("symbol").agg(avg("close").as("mean_close")), b, "symbol", 4)

      val j = spark.table(a).join(spark.table(b), "symbol")
        .where(col("close") > col("mean_close"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join still shuffles:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.sql(s"DROP TABLE IF EXISTS $a")
      spark.sql(s"DROP TABLE IF EXISTS $b")
    }
  }
}
