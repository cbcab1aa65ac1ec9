package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: run only these queries (local iteration speed);
    // the driver always calls with exactly (sfDir, outDir) -> full dump
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.local(cpus, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try egress(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries are independent; drop any cache a query built (d2/e3)
      spark.catalog.clearCache()
    }
    graft.tools.OracleDump.write(s"$outDir/oracle_sql.json")
    spark.stop()
  }

  /** Egress canonicalization for the cross-engine hash: TIMESTAMP (UTC
    * instant) → TIMESTAMP_NTZ. With MICROS physical (see [[Session]])
    * an instant column carries isAdjustedToUTC=true, which pyarrow and
    * DuckDB surface as tz-aware — formatting with a "+00:00" suffix the
    * naive DuckDB oracle timestamps lack. Session tz is UTC, so the cast
    * preserves the wall clock exactly; the file then reads back as naive
    * timestamp[us] on every reader, year 9999 included.
    */
  private[graft] def egress(df: DataFrame): DataFrame = {
    val hasTs = df.schema.fields.exists(_.dataType == TimestampType)
    if (!hasTs) df
    else df.select(df.schema.fields.map { f =>
      if (f.dataType == TimestampType)
        col(f.name).cast(TimestampNTZType).as(f.name)
      else col(f.name)
    }.toSeq: _*)
  }
}
