package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory: every entry point and the test base
  * build their session here, so no tool can plan or write differently
  * from Bench and Verify because it forgot a setting.
  *
  * Deliberately NOT set here:
  *   - the warehouse / local directories: Layout's persisted artifacts
  *     and `tools.WarehouseGc` both use the default `spark-warehouse/`;
  *   - `spark.sql.extensions`: `ops/AsOf` installs its planner strategy
  *     on the live session (`Interop.ensureStrategy`), which also covers
  *     sessions this factory did not build.
  */
object Session {
  def local(cpus: Int, sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        scaledShufflePartitions(sfDir, cpus).toString)
      // NOTE: pairing the scaled width with a smaller AQE advisory size
      // (16 MB) was tried here and REGRESSED: the extra in-flight spill
      // and read-ahead buffers of the finer tasking hard-OOM'd the heap
      // on x_pagerank3 at sf10 (run 2 of the r10 measurement), where the
      // default 64 MB advisory ran green. The defaults stay; the real
      // sf10 memory lever was taking the loop-invariant |E| artifact out
      // of the unified region (DISK_ONLY in pagerankConverged).
      // NOTE on scan splits: a split-count floor
      // (spark.sql.files.minPartitionNum = cpus) was tried here for the
      // single-file testdata and measurably REGRESSED shuffle-heavy
      // queries 3-5x at sf1 (a13 0.7->3.6s, x_tokens 0.5->2.9s, paired
      // median-of-3 noop timings) while the real fix for the sf1 scan
      // pathology was row-group-sized writes in tools/ScaleUp (one giant
      // row group made single-split events scans 27s; 1 MB row groups
      // restore 1.4s on the SAME single split). Defaults are kept.
      .config("spark.sql.session.timeZone", "UTC")
      // bucketed-scan ordering is a SESSION-CONSTRUCTION setting (round-15
      // advice): a20c's exchange-free as-of plan needs it, and setting it
      // inside one query builder made every LATER bucketed query's plan
      // depend on whether a20c ran first. One file per bucket is still
      // required for Spark to claim the order, so it can never assert an
      // ordering the files don't have.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // Egress as int64 µs, NOT the INT96/ns default: tools/check.py reads
      // Verify's files with pyarrow, and int64 NANOS overflows at
      // 2262-04-11 — a 9999-12-31 SCD2 sentinel wraps to 2001-07-31
      // under a ns reader while DuckDB sees 9999-12-31 (round-5 x_scd2
      // red row). µs represents year 9999 exactly on every reader.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // transformWithState (every `streaming/Pipeline` processor) needs RocksDB
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** SF-scaled shuffle width (round-10 task: replace the sf10
    * SPARK_DRIVER_MEM=96g crutch with the real lever). The 119.6M-edge
    * sf10 graph OOM'd a 16 GB heap at 32 shuffle partitions because 32
    * concurrent reduce tasks each sorted |E|/32 rows; more, smaller
    * reduce tasks shrink the per-task working set while AQE coalesces
    * whatever comes out undersized (shuffle.partitions is only the
    * INITIAL width — AQE cannot split beyond it, so sizing it UP with
    * the data is free, sizing it down is not). Heuristic: one initial
    * partition per 8 MB of source parquet, floored at the core count,
    * capped at 1024. Every testdata SF (sf0.1 is 17.5 MB) stays at the
    * core count, and so does sf1 at 32 cores; sf10 lands ~170.
    */
  def scaledShufflePartitions(sfDir: String, cpus: Int): Int = {
    val dirBytes = sizeOf(new java.io.File(sfDir))
    math.max(cpus.toLong, math.min(1024L, dirBytes / (8L << 20) + 1)).toInt
  }

  /** Bytes under `f` (a file, or a directory walked recursively); 0 for
    * a path that does not exist. */
  def sizeOf(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)
}
