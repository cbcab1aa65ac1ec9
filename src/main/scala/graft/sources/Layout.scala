package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, shiftright}

/** Write-side data layout — the half of a 100 TB engine that decides how
  * the NEXT ten thousand queries run. A scan can only skip what the
  * writer organized to be skippable:
  *
  *   - `writeClustered`: hive-style partition directories on the
  *     low-cardinality predicate columns (partition pruning eliminates
  *     whole directories before any IO), plus an in-file sort on the
  *     range-predicate column so parquet row-group min/max statistics
  *     prune within files. `filesPerPartition` controls the
  *     file-explosion tradeoff: one repartition by (partition cols,
  *     deterministic hash bucket) gives AT MOST that many files per
  *     partition value (hash-repartition may collide several
  *     (partition, bucket) combos into one task, yielding fewer)
  *     instead of one-file-per-task (tiny files) or one-giant-file
  *     (no read parallelism). Note the tradeoff at
  *     `filesPerPartition > 1`: bucketing by `hash(sortCol)` spreads
  *     the sort range across all files of a partition, so file-level
  *     min/max skipping on `sortCol` weakens (row-group-level stats
  *     inside each sorted file still prune); use 1 file per partition
  *     when range pruning on `sortCol` is the dominant read pattern.
  *
  *   - `writeBucketed`: Spark bucketing on a join/agg key. Two tables
  *     bucketed the same way join with ZERO exchange on either side —
  *     at 100 TB the repeated fact⋈fact shuffle is the single biggest
  *     recurring cost a layout decision can delete. Bucket files also
  *     pre-sort by the key, so the join is a zip-merge of sorted runs.
  *
  * The reference keeps its output in Postgres tables (reference
  * postgres/init.sql:1-13); partition/bucket layout is the Spark-native
  * replacement for those btree indexes at warehouse scale.
  */
object Layout {

  /** Partitioned, range-sorted parquet write.
    *
    * @param partitionCols hive partition columns (low cardinality:
    *                      dates, symbols, languages)
    * @param sortCol       range-predicate column; sorted within each
    *                      file => row-group min/max stats become
    *                      selective
    * @param filesPerPartition upper bound on parquet files per partition
    *                          value (see class doc for the >1 tradeoff)
    */
  def writeClustered(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCol: String,
      filesPerPartition: Int = 1): Unit = {
    val bucket = org.apache.spark.sql.functions
      .pmod(org.apache.spark.sql.functions.hash(col(sortCol)),
        org.apache.spark.sql.functions.lit(filesPerPartition))
    df.withColumn("__file_bucket", bucket)
      .repartition((partitionCols :+ "__file_bucket").map(col): _*)
      .sortWithinPartitions((partitionCols :+ sortCol).map(col): _*)
      .drop("__file_bucket")
      .write
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)
  }

  /** Bucketed + sorted managed table (requires a session catalog; the
    * bucket spec lives in table metadata, which is why this writes a
    * TABLE, not a path).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      buckets: Int): Unit =
    df.write
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Append a batch to an existing bucketed table (same bucket spec).
    * Each append adds one sorted file per non-empty bucket; readers
    * still see a valid bucketed layout (bucket pruning + exchange-free
    * joins hold), and a periodic compaction — re-running
    * [[writeBucketed]] over the accumulated table — bounds files per
    * bucket. This is the mutable-side-index pattern: the stored side of
    * a probe join grows by partition adds, never by rewriting.
    */
  def appendBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      buckets: Int): Unit =
    df.write
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .mode("append")
      .format("parquet")
      .saveAsTable(table)

  /** Content fingerprint of source paths (FNV-1a over qualified path +
    * per-file length + mtime; one directory level deep). Artifact tables
    * embed this in their NAME, so a regenerated source yields a new
    * table and stale artifacts can never answer for new data — the same
    * invalidation-by-identity trick content-addressed caches use.
    */
  def sourceFingerprint(spark: SparkSession, paths: String*): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    var h = 0xcbf29ce484222325L
    def mix(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    def mixStr(s: String): Unit = { s.foreach(c => mix(c.toLong)); mix(-1L) }
    paths.foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      mixStr(fs.makeQualified(path).toString)
      val st = fs.getFileStatus(path)
      val leaves =
        if (st.isDirectory) fs.listStatus(path).sortBy(_.getPath.getName)
        else Array(st)
      leaves.foreach { l =>
        mixStr(l.getPath.getName); mix(l.getLen); mix(l.getModificationTime)
      }
    }
    java.lang.Long.toHexString(h)
  }

  /** Total bytes under a source path (file or directory) — the
    * size-dispatch input for scale-conditional behavior (round 16:
    * per-round GC gating in the iterative solvers). Metadata-only. */
  def sourceBytes(spark: SparkSession, p: String): Long = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(path).getLength
  }

  /** Exact row count of a parquet path from FILE METADATA — the
    * "catalog table statistics" lookup for a catalog-less layout. Every
    * parquet footer records its row count exactly, so this equals
    * `spark.read.parquet(p).count()` bit-for-bit while running ZERO
    * Spark jobs: size-dispatch decisions (pair-tier, codebook arm,
    * SRP geometry) used to spend a sequential count job per query build
    * (~0.1–0.3 s each at sf0.1; the ivfAdc one even paid its upstream
    * repartition). Memoized per [[sourceFingerprint]] like the Tables
    * schema cache, so a path rewritten in this JVM is counted again; it
    * holds one long of METADATA — never data, never results.
    * Falls back to a real count if a footer is unreadable. */
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def rowCount(spark: SparkSession, p: String): Long =
    rowCountCache.computeIfAbsent(sourceFingerprint(spark, p), { _ =>
      val conf = spark.sparkContext.hadoopConfiguration
      val path = new org.apache.hadoop.fs.Path(p)
      try {
        val fs = path.getFileSystem(conf)
        val st = fs.getFileStatus(path)
        val files =
          if (st.isDirectory)
            fs.listStatus(path).filter(f => f.isFile &&
              f.getPath.getName.endsWith(".parquet"))
          else Array(st)
        java.lang.Long.valueOf(files.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(f, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[layout] rowCount($p) footer read failed, " +
            s"falling back to a count job: $e")
          java.lang.Long.valueOf(spark.read.parquet(p).count())
      }
    }): Long

  /** THE small-source tier line (round-16 advice: this 512 MB constant
    * was duplicated in four places — Bench, Boilerplate, Basket, Lm —
    * with drift risk; every size dispatch now reads this one value).
    * Below it a source is "test-scale": single-file scans get an
    * explicit spread, shared frames cache, per-round GC is pure pause
    * tax. At or above it the scale-safe shapes run (natural split
    * parallelism, recompute instead of corpus-sized caches, GC on). */
  val SmallSourceTierBytes: Long = 512L << 20

  /** Size-tier probe that FAILS CLOSED to the large-scale-safe branch
    * (round-16 advice: the old per-module probes swallowed Throwable in
    * opposite directions — one cached a corpus-sized frame on a
    * transient metadata error, another skipped the GC that kept sf100
    * alive). A metadata failure now always lands on the big-corpus arm:
    * recompute shapes, no test-scale caches, GC nudges on. */
  def smallSource(spark: SparkSession, p: String): Boolean =
    try sourceBytes(spark, p) <= SmallSourceTierBytes
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[layout] smallSource($p) probe failed, " +
          s"failing closed to the large arm: $e")
        false
    }

  /** Build-once persisted bucketed artifact — the shared-graph pattern:
    * an expensive derived frame (an edge list, a dedup pair graph, an
    * ANN index) is built by the FIRST query that needs it, written as a
    * bucketed external table under the warehouse dir, and every later
    * query — in this session or a new JVM over the same (fingerprinted,
    * see [[sourceFingerprint]]) sources — reads the bucketed files
    * instead of re-deriving it. Registration order:
    *
    *   1. catalog hit → `spark.table` (zero IO);
    *   2. files on disk from a prior JVM (`_SUCCESS` present) →
    *      re-register metadata-only via CREATE TABLE ... CLUSTERED BY
    *      over the existing LOCATION (bucket ids live in the file
    *      names, so the layout survives the catalog);
    *   3. otherwise run `build` and write bucketed+sorted.
    *
    * Joins and aggregations on `bucketCol` over the returned frame are
    * exchange-free (LayoutSpec pins this for [[writeBucketed]]; the
    * DDL re-register path is pinned by ArtifactSpec).
    */
  /** The table name an artifact spec resolves to. Identity = base name
    * (which carries the source fingerprint and any build-logic constants)
    * + bucket spec + sort spec; the column COUNT disambiguates the sort
    * tag because "_" may appear inside column names — a joined spelling
    * alone could collide (("symbol","ts") vs ("symbol_ts")) onto one
    * table identity (round-15 advice). */
  def artifactTableName(baseName: String, bucketCol: String, buckets: Int,
      sortCols: Seq[String] = Nil): String = {
    val sortSpec = if (sortCols.isEmpty) Seq(bucketCol) else sortCols
    val sortTag =
      if (sortSpec == Seq(bucketCol)) ""
      else s"_s${sortSpec.length}_${sortSpec.mkString("_")}"
    s"${baseName}_${bucketCol}_b$buckets$sortTag"
  }

  /** Metadata-only re-register of a prior JVM's bucketed files (bucket
    * ids live in the file names, so the layout survives the catalog).
    * False when there are no committed files or no footers to infer
    * from. */
  private def registerPrior(spark: SparkSession, table: String,
      bucketCol: String, buckets: Int, sortSpec: Seq[String]): Boolean = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(warehouse, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS")) && (try {
      val schema = spark.read.parquet(loc.toString).schema
      spark.sql(
        s"""CREATE TABLE $table (${schema.toDDL})
           |USING parquet
           |CLUSTERED BY ($bucketCol) SORTED BY (${sortSpec.mkString(", ")}) INTO $buckets BUCKETS
           |LOCATION '${loc.toString}'""".stripMargin)
      true
    } catch { case _: Exception => false })
  }

  /** The persisted artifact IF it already exists (catalog hit, or a prior
    * JVM's committed files re-registered) — NEVER builds. The
    * serve-when-available dispatch arm: raw-derivation queries (a8/a20b)
    * check this and serve from the bucketed layout when some earlier
    * build paid for it, falling back to their raw plan otherwise. */
  def bucketedArtifactIfPresent(
      spark: SparkSession,
      baseName: String,
      bucketCol: String,
      buckets: Int,
      sortCols: Seq[String] = Nil): Option[DataFrame] = Layout.synchronized {
    val sortSpec = if (sortCols.isEmpty) Seq(bucketCol) else sortCols
    val table = artifactTableName(baseName, bucketCol, buckets, sortCols)
    if (spark.catalog.tableExists(table) ||
        registerPrior(spark, table, bucketCol, buckets, sortSpec))
      Some(spark.table(table))
    else None
  }

  def ensureBucketedArtifact(
      spark: SparkSession,
      baseName: String,
      bucketCol: String,
      buckets: Int,
      sortCols: Seq[String] = Nil)(build: => DataFrame): DataFrame = Layout.synchronized {
    // the bucket SPEC is part of the artifact's identity, same as the
    // source fingerprint the caller embeds in baseName: registerPrior
    // re-registers bare files with the CURRENT (bucketCol, buckets) DDL,
    // so files written under a different spec must never answer for it —
    // a 32-bucket layout re-declared as 64 buckets would silently pair
    // wrong buckets in joins. (Build-LOGIC constants that change the
    // frame's content — thresholds, caps — belong in baseName too, the
    // caller's side of the same contract.)
    //
    // `sortCols` extends the in-bucket sort beyond the key (e.g.
    // (symbol, ts) for an as-of side): with one file per bucket — which
    // the pre-write repartition guarantees — FileSourceScanExec reports
    // the sort as its outputOrdering, so an operator requiring
    // (key, ts) order (AsOfJoinExec) plans with ZERO exchange AND zero
    // sort over the scan. The sort spec is part of the identity too:
    // differently-sorted layouts must never answer for each other.
    val sortSpec = if (sortCols.isEmpty) Seq(bucketCol) else sortCols
    val table = artifactTableName(baseName, bucketCol, buckets, sortCols)
    if (!spark.catalog.tableExists(table)) {
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(warehouse, table)
      val registered = registerPrior(spark, table, bucketCol, buckets, sortSpec)
      if (!registered) {
        // one repartition on the bucket key before the write: bucketBy
        // alone writes one file per (input task x non-empty bucket) —
        // measured 321 files for a 32-bucket artifact — while
        // repartition(buckets, key) uses the SAME Murmr3 hash as the
        // bucket spec, so each task owns exactly one bucket and the
        // layout lands as one sorted file per bucket (the shape a 100 TB
        // reader wants: no small-files tax, maximal run-length merges)
        build.repartition(buckets, col(bucketCol)).write
          .bucketBy(buckets, bucketCol)
          .sortBy(sortSpec.head, sortSpec.tail: _*)
          .option("path", loc.toString)
          .mode("overwrite")
          .format("parquet")
          .saveAsTable(table)
      }
    }
    spark.table(table)
  }

  /** Row count of a persisted artifact table via [[rowCount]] footer
    * metadata — zero jobs. The artifact must already exist (call
    * [[ensureBucketedArtifact]] first). */
  def artifactRowCount(spark: SparkSession, baseName: String,
      bucketCol: String, buckets: Int): Long = {
    val table = artifactTableName(baseName, bucketCol, buckets)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    rowCount(spark,
      new org.apache.hadoop.fs.Path(warehouse, table).toString)
  }

  /** Morton (Z-curve) interleave of up to 3 non-negative integer
    * columns, `bits` low bits each: bit `b` of column `i` lands at
    * output bit `b * k + i`. Sorting by this single value gives
    * MULTI-dimensional locality: any axis-aligned box in the key space
    * maps to O(few) contiguous z-ranges, so range-partitioning and
    * sorting files by z makes file/row-group min-max stats selective on
    * EVERY interleaved column at once — where a lexicographic sort is
    * selective only on its leading column. This is the layout trick
    * behind Delta/Iceberg OPTIMIZE ZORDER, built here from plain column
    * algebra (`k * bits` shift-mask-or terms, all codegen'd).
    *
    * Callers quantize first: z-order columns must already be small
    * non-negative ints (bucket ids, day numbers, `pmod(hash(x), 2^bits)`
    * — rank-based quantization keeps skew from collapsing the curve).
    */
  def zvalue(cols: Seq[Column], bits: Int = 21): Column = {
    val k = cols.size
    require(k >= 1 && k <= 3, "zvalue interleaves 1-3 columns")
    require(bits * k <= 63, s"$k x $bits bits overflows a signed long")
    val terms = for {
      b <- 0 until bits
      (c, i) <- cols.zipWithIndex
    } yield (shiftright(c.cast("long"), b).bitwiseAND(lit(1L))
      * lit(1L << (b * k + i)))
    terms.reduce(_ + _)
  }

  /** Z-ordered parquet write: range-partition on the z-value (each file
    * owns one contiguous z-interval ≈ one tile of the key space), then
    * sort within files so row groups tile too. `files` sizes the layout:
    * at 100 TB pick `files` so each is 0.5-1 GB; the write costs one
    * range-exchange + sort, amortized over every subsequent
    * multi-column-selective scan.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      files: Int,
      bits: Int = 21): Unit = {
    val z = zvalue(zCols.map(col), bits)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write
      .mode("overwrite")
      .parquet(path)
  }

  /** Read back a clustered path. Plain `spark.read.parquet` — partition
    * discovery and pruning are automatic; this exists so library users
    * find the read path next to the write path.
    */
  def readClustered(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Read a path whose batches were written under EVOLVING schemas
    * (columns added over time — the normal state of a year-old 100 TB
    * dataset). `mergeSchema` unions the per-file footers: rows from
    * batches that predate a column read NULL for it. Kept as an explicit
    * entry point because merging costs a footer read per file and is OFF
    * by default — callers should opt in knowingly, and pin `schema(...)`
    * instead once the layout stabilizes.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
