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
  /** Round-16 (guide §6, driver-side planning cost): every bare
    * `spark.read.parquet(path)` runs a schema-inference job (footer
    * read) BEFORE the query's own jobs — ~50-80 ms per call here, and a
    * distributed footer-sampling job on a real multi-file table. The
    * schema of a given parquet path is immutable for the life of this
    * JVM (testdata and artifacts are write-once), so infer it once and
    * pass it explicitly on every later read. Keyed per path; holds
    * StructType metadata only (never data, never results — bench/oracle
    * runs still compute everything from the files).
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
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
