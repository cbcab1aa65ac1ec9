package tsbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** One isolated local session per run: its own warehouse, local and
  * checkpoint directories under the run's work directory, so artifacts
  * that Layout builds once and then serves from the warehouse can never
  * leak between runs or commits. */
object Session {
  /** Task slots for the batch workloads; the stream workload runs one
    * fewer and gives that core to its query's trigger thread. Together
    * with the driver this keeps the benchmark inside four cores. */
  val BatchSlots = 3
  val StreamSlots = 2

  def create(work: File, slots: Int, shufflePartitions: Int): SparkSession = {
    val warehouse = new File(work, "warehouse")
    warehouse.mkdirs()
    require(Option(warehouse.list()).exists(_.isEmpty),
      s"warehouse $warehouse is not empty at session start")
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("tsbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete()
  }

  /** Reads every byte under `f` once, so the first timed pass does not
    * pay for a cold page cache. */
  def preTouch(f: File): Long = {
    val buf = new Array[Byte](1 << 20)
    if (f.isFile) {
      val in = new java.io.FileInputStream(f)
      var n = 0L
      try { var r = in.read(buf); while (r >= 0) { n += r; r = in.read(buf) } }
      finally in.close()
      n
    } else Option(f.listFiles).map(_.map(preTouch).sum).getOrElse(0L)
  }
}
