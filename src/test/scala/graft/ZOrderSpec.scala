package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.sources.Layout
import org.apache.spark.sql.functions._

/** Z-order layout: multi-dimensional skippability is a property of the
  * FILES the writer produced, so the assertions read each file's min/max
  * envelope per dimension and count how many files an axis-aligned box
  * query would have to touch — exactly the decision a parquet reader
  * makes from footer stats.
  */
class ZOrderSpec extends SparkTestBase {

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))

  // 64x64 uniform key space derived from events
  private def keyed = graft.sources.Tables.events(spark, sf)
    .select(pmod(col("user_id"), lit(64)).cast("long").as("x"),
      pmod(col("event_id"), lit(64)).cast("long").as("y"),
      col("value"))

  private def filesTouching(path: String, lo: Long, hi: Long): (Int, Int) = {
    val files = Files.list(Paths.get(path)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    val touching = files.count { f =>
      val r = spark.read.parquet(f)
        .agg(min("x"), max("x"), min("y"), max("y")).head()
      val (xlo, xhi, ylo, yhi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      xhi >= lo && xlo <= hi && yhi >= lo && ylo <= hi
    }
    (touching, files.size)
  }

  test("zvalue: bit interleave round-trips and orders quadrants") {
    val z = keyed.select(col("x"), col("y"),
      Layout.zvalue(Seq(col("x"), col("y")), bits = 6).as("z"))
    // spot-check the interleave arithmetic against a scala reference
    val rows = z.limit(200).collect()
    rows.foreach { r =>
      val (x, y, got) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val want = (0 until 6).map(b =>
        (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))).sum
      assert(got == want, s"zvalue($x,$y)=$got, want $want")
    }
    // same-quadrant keys are z-contiguous: quadrant id = top bit pair
    val q = z.select((col("z") / lit(1L << 10)).cast("long").as("quad"),
      (col("x") / 32).cast("long") + (col("y") / 32).cast("long") * 2)
      .collect()
    q.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("writeZOrdered: a box query touches few files; x-sort layout cannot skip on y") {
    val base = Files.createTempDirectory("graft-zorder")
    val zPath = base.resolve("z").toString
    val xPath = base.resolve("xsort").toString
    try {
      Layout.writeZOrdered(keyed, zPath, Seq("x", "y"), files = 16, bits = 6)
      // the lexicographic strawman: range-sorted by x only
      keyed.repartitionByRange(16, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(xPath)

      // 8x8 box = 1/64 of the key space
      val (zTouch, zTotal) = filesTouching(zPath, 0L, 7L)
      val (xTouch, xTotal) = filesTouching(xPath, 0L, 7L)
      assert(zTotal == 16, s"expected 16 z-ordered files, got $zTotal")
      // range-repartition boundary sampling may leave a couple of empty
      // partitions on the strawman; the claim needs only 'many files'
      assert(xTotal >= 8, s"x-sorted strawman produced too few files: $xTotal")
      // z-layout: the box lives in one 16x16 tile => 1-2 files (allow 4
      // for range-boundary wobble). x-layout: x in [0,7] spans ~2 files
      // of the x range, but EVERY file contains all y values — the y
      // half of the predicate prunes nothing there, and a y-only query
      // would touch all 16.
      assert(zTouch <= 4, s"z-order box touched $zTouch of $zTotal files")
      val yOnlyX = {
        val files = Files.list(Paths.get(xPath)).iterator().asScala
          .map(_.toString).filter(_.endsWith(".parquet")).toSeq
        files.count { f =>
          val r = spark.read.parquet(f).agg(min("y"), max("y")).head()
          r.getLong(1) >= 0L && r.getLong(0) <= 7L
        }
      }
      // y is uniform per x: every x-sorted file spans the full y range,
      // so a y predicate prunes NOTHING there
      assert(yOnlyX == xTotal, s"x-sorted layout unexpectedly skippable on y ($yOnlyX/$xTotal)")
      assert(zTouch < yOnlyX)

      // layout changes nothing about the data
      val want = keyed.where(col("x") <= 7 && col("y") <= 7).count()
      val got = spark.read.parquet(zPath).where(col("x") <= 7 && col("y") <= 7).count()
      assert(got == want && want > 0)
    } finally deleteRec(base)
  }
}
