package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table readers over the driver-generated star schema
  * (TESTDATA.md). All engine queries read through here so the scan
  * options stay in one place.
  *
  * Scale note: `spark.read.parquet` gives splittable columnar scans with
  * predicate pushdown + column pruning; at 100 TB the same call reads a
  * partitioned directory tree and Catalyst prunes partitions — nothing
  * here needs to change.
  */
object Tables {
  /** Ingress normalization: the driver testdata stores timestamps as
    * NAIVE parquet int64 µs (isAdjustedToUTC=false), which Spark 4 reads
    * as TIMESTAMP_NTZ. The whole operator surface (unix_micros, bigint
    * casts, instant arithmetic, the 9999-12-31 SCD2 sentinel) is written
    * against the instant type, so every scan casts NTZ → TIMESTAMP here.
    * Session tz is pinned UTC, making the cast wall-clock-exact — the
    * same convention DuckDB applies reading the identical file, so the
    * oracle stays aligned. (Egress mirrors this: Verify.egress casts
    * back to NTZ so the dumped files are naive µs on every reader.)
    */
  /** Inferred schemas, one per version of a path. A bare
    * `spark.read.parquet(path)` runs a schema-inference job (footer read)
    * before the query's own jobs — ~50-80 ms per call here, a distributed
    * footer-sampling job on a real multi-file table — so it runs once per
    * [[Layout.sourceFingerprint]] (path, leaf names, lengths and mtimes:
    * metadata calls, no job), and a path rewritten in this JVM is read
    * again. StructType metadata only, never data or results.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(Layout.sourceFingerprint(spark, path),
      _ => spark.read.parquet(path).schema)
    val raw = spark.read.schema(schema).parquet(path)
    if (!raw.schema.fields.exists(_.dataType == TimestampNTZType)) raw
    else raw.select(raw.schema.fields.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast(TimestampType).as(f.name)
      else col(f.name)
    }.toSeq: _*)
  }

  def events(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "events")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
