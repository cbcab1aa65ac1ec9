package tsbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output and input identities the benchmark compares against. */
object Checks {
  /** Order-independent checksum "rows:Σhash" over the rows of `df`, with
    * every double rounded the way `graft.Q.norm` rounds it. The hash sum is
    * exact (decimal), so equal multisets of rows give equal checksums
    * whatever the row order or partitioning. */
  def checksum(df: DataFrame): String = {
    val r = df.select(rowHash(df).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def rowHash(df: DataFrame): Column = xxhash64(df.schema.fields.toSeq.map(normed): _*)

  private def normed(f: StructField): Column = f.dataType match {
    case DoubleType => graft.Q.r6(col(f.name))
    case _: MapType => to_json(col(f.name))
    case _ => col(f.name)
  }

  /** Content identity of a generated input: the checksum of every
    * parquet table under `dir`, in name order. (Parquet footers are not
    * byte-stable across JVMs, so bytes are not compared.) */
  def fingerprint(spark: SparkSession, dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).sortBy(_.getName).foreach(walk)
      else if (f.getName.endsWith(".parquet")) {
        md.update(f.getName.getBytes("UTF-8"))
        md.update(checksum(spark.read.parquet(f.getAbsolutePath)).getBytes("UTF-8"))
      }
    walk(dir)
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** SHA-256 over the names and bytes of the parquet files under `dir`:
    * detects any change to files written earlier in the same checkout. */
  def byteDigest(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    Option(dir.listFiles).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).foreach { f =>
        md.update(f.getName.getBytes("UTF-8"))
        val in = new java.io.FileInputStream(f)
        try { var r = in.read(buf); while (r >= 0) { md.update(buf, 0, r); r = in.read(buf) } }
        finally in.close()
      }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}
