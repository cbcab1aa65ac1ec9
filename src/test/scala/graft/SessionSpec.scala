package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import org.apache.spark.sql.types.TimestampType

/** Guards for the one session factory: every owned setting is on the
  * session it builds, the shuffle width follows its size formula, no
  * other source file builds a session of its own, and reading a source
  * table never writes to the session conf. */
class SessionSpec extends SparkTestBase {

  test("factory session carries every owned setting") {
    val c = spark.conf
    assert(spark.sparkContext.master === "local[4]")
    // the test base sizes no directory: the width is the core count
    assert(c.get("spark.sql.shuffle.partitions") === "4")
    assert(c.get("spark.sql.session.timeZone") === "UTC")
    assert(c.get("spark.sql.legacy.bucketedTableScan.outputOrdering") === "true")
    assert(c.get("spark.sql.parquet.outputTimestampType") === "TIMESTAMP_MICROS")
    assert(c.get("spark.ui.enabled") === "false")
    assert(c.get("spark.sql.streaming.stateStore.providerClass") ===
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ===
      org.apache.logging.log4j.Level.WARN)
  }

  test("shuffle width is max(cpus, bytes / 8 MB + 1), capped at 1024") {
    val dir = Files.createTempDirectory("graft-session-spec").toFile
    // sparse files: their length counts, no disk is written
    def sized(f: File, bytes: Long): Unit = {
      f.getParentFile.mkdirs()
      val raf = new RandomAccessFile(f, "rw")
      try raf.setLength(bytes) finally raf.close()
    }
    try {
      val p = dir.getPath
      assert(Session.scaledShufflePartitions(p + "/missing", 4) === 4)
      sized(new File(dir, "a.parquet"), 100L << 20)
      assert(Session.sizeOf(dir) === (100L << 20))
      assert(Session.scaledShufflePartitions(p, 4) === 13)   // 100 MB / 8 MB + 1
      assert(Session.scaledShufflePartitions(p, 32) === 32)  // floored at cpus
      sized(new File(dir, "sub/b.parquet"), 9L << 30)        // nested dirs count
      assert(Session.scaledShufflePartitions(p, 4) === 1024) // 1165 capped
    } finally {
      Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }

  test("no source file outside the factory builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val factory = new File("src/main/scala/graft/Session.scala")
    assert(factory.isFile, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    def scala(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(scala)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = scala(new File("src"))
      .filter(f => f.getCanonicalFile != factory.getCanonicalFile)
      .filter(f => Files.readString(f.toPath).contains(needle))
    assert(offenders.isEmpty, s"build sessions through graft.Session.local: $offenders")
    assert(Files.readString(factory.toPath).contains(needle))
  }

  test("reading events leaves the session conf unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    val events = graft.sources.Tables.events(s, sf)
    assert(events.schema("ts").dataType === TimestampType)
    assert(s.conf.getAll === before)
  }
}
