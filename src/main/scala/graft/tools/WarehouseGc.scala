package graft.tools

/** Warehouse garbage collection (round-15 verdict task 3): persisted
  * artifacts are keyed by corpus FINGERPRINT plus build-constant tags, so
  * regenerated sources and re-tuned constants strand orphan tables that
  * accumulate until the box's scratch ceiling poisons ENOSPC adjudication
  * (x_pagerank3 went green → ENOSPC in round 14 purely from ~4 GB of new
  * artifacts).
  *
  * Keep rules:
  *   1. a table whose name carries NO current corpus fingerprint is an
  *      ORPHAN → sweep;
  *   2. a VERSIONED family (ivfpq/ivfflat/ndpairs/ndlosers — the families
  *      whose build constants are part of the name) with a current
  *      fingerprint but a non-current tag spelling is SUPERSEDED → sweep;
  *   3. everything else (current fingerprint, unversioned family) is kept
  *      — conservative by design: this tool must never delete a valid
  *      artifact.
  *
  * Dry-run by default; `--apply` deletes. `--scratch` additionally sweeps
  * dead Spark scratch dirs (/tmp/blockmgr-*, /tmp/spark-*) — refused
  * while any graft JVM is alive, so a live run's shuffle files are never
  * pulled out from under it (the round-14 retry-poisoning failure mode).
  *
  * Usage:
  *   sbt "runMain graft.tools.WarehouseGc [--apply] [--scratch] [sfDir ...]"
  * Default sfDirs: /root/testdata/sf* and data/sf*.
  */
object WarehouseGc {

  /** Family prefixes whose build constants live in the table name; for a
    * current fingerprint, only the EXACT expected current names survive. */
  private val VersionedPrefixes =
    Seq("graft_ivfpq_", "graft_ivfflat_", "graft_ndpairs_", "graft_ndlosers_",
      "graft_asofev_", "graft_asofbar_")

  def main(args: Array[String]): Unit = {
    val apply = args.contains("--apply")
    val scratch = args.contains("--scratch")
    val dirsArg = args.filterNot(_.startsWith("--")).toSeq
    val sfDirs =
      if (dirsArg.nonEmpty) dirsArg
      else (list("/root/testdata") ++ list("data"))
        .filter(_.getName.startsWith("sf")).map(_.getPath).sorted.toSeq

    // footer reads and counts only: no shuffle worth sizing, so the
    // width is the core count whatever the corpora weigh
    val spark = graft.Session.local(4, "")

    // current fingerprints (per source table file) + exact expected names
    // for the versioned families, derived from the SAME constants and
    // name builders the engine uses
    val fps = scala.collection.mutable.Set[String]()
    val expected = scala.collection.mutable.Set[String]()
    sfDirs.foreach { dir =>
      val tables = list(dir).map(_.getName).filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet"))
      tables.foreach { t =>
        fps += graft.sources.Layout.sourceFingerprint(spark, s"$dir/$t.parquet")
      }
      if (tables.contains("embeddings")) {
        val fp = graft.sources.Layout.sourceFingerprint(spark, s"$dir/embeddings.parquet")
        val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
        val tag = graft.ext.Embeddings.armTag(n)
        expected += s"graft_ivfpq_meta_${fp}_n_b1"
        expected += s"graft_ivfpq_cent_$fp${tag}_cl_b4"
        expected += s"graft_ivfpq_codes_$fp${tag}_cl_b${graft.ext.Embeddings.IndexBuckets}"
        expected += s"graft_ivfflat_$fp${tag}_cl_b${graft.ext.Embeddings.IndexBuckets}"
        if (graft.ext.Embeddings.useTrainedArm(n))
          expected += s"graft_ivfpq_pqcb_${fp}_q${graft.ext.Embeddings.PqCodebookSize}_cl_b4"
      }
      if (tables.contains("events") && tables.contains("lineitem")) {
        val fp = graft.sources.Layout.sourceFingerprint(spark, s"$dir/events.parquet")
        val b = graft.ops.CoPurchase.buckets(spark, dir)
        expected += s"graft_asofev_${fp}_symbol_b${b}_s2_symbol_ts"
        expected += s"graft_asofbar_${fp}_symbol_b${b}_s2_symbol_bar_time"
      }
      if (tables.contains("documents")) {
        val fp = graft.sources.Layout.sourceFingerprint(spark, s"$dir/documents.parquet")
        val n = spark.read.parquet(s"$dir/documents.parquet").count()
        val tag = graft.ext.Dedup.gateTag(n)
        expected += s"graft_ndpairs_$fp${tag}_doc_a_b8"
        expected += s"graft_ndlosers_$fp${tag}_doc_b_b8"
      }
    }
    println(s"[gc] ${sfDirs.size} corpora, ${fps.size} fingerprints, " +
      s"${expected.size} expected versioned names")

    val warehouse = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val hexToken = "[0-9a-f]{8,16}".r
    var keptB = 0L; var sweptB = 0L
    list(warehouse.getPath).filter(_.getName.startsWith("graft_")).sortBy(_.getName)
      .foreach { d =>
        val name = d.getName
        val tokens = hexToken.findAllIn(name).toSeq
        val hasCurrentFp = tokens.exists(fps)
        val versioned = VersionedPrefixes.exists(name.startsWith)
        // fingerprint-LESS tables (e.g. the classifier weight file) are
        // not orphans — the orphan rule fires only on a name that
        // carries a fingerprint matching no current corpus
        val keep = (tokens.isEmpty || hasCurrentFp) &&
          (!versioned || expected(name))
        val bytes = graft.Session.sizeOf(d)
        if (keep) { keptB += bytes }
        else {
          sweptB += bytes
          val why = if (!hasCurrentFp) "orphan-fp" else "superseded-tag"
          println(f"[gc] sweep ($why, ${bytes / 1e6}%.1f MB) $name")
          if (apply) delete(d)
        }
      }
    println(f"[gc] kept ${keptB / 1e9}%.2f GB, " +
      f"${if (apply) "swept" else "would sweep"} ${sweptB / 1e9}%.2f GB" +
      (if (apply) "" else " (dry run — pass --apply)"))

    if (scratch) {
      // ANY live Spark-capable JVM counts — an sbt test session or a
      // stray spark-submit also owns /tmp shuffle dirs; keying on graft
      // entrypoint names alone would sweep theirs mid-run. Our own
      // process tree (this JVM + the sbt that forked it) is exempt.
      val selfTree = {
        var cur = ProcessHandle.current()
        val b = scala.collection.mutable.Set(cur.pid())
        while (cur.parent().isPresent) { cur = cur.parent().get(); b += cur.pid() }
        b.toSet
      }
      val live = list("/proc").filter(_.getName.forall(_.isDigit)).exists { p =>
        try {
          !selfTree.contains(p.getName.toLong) && {
            val cmd = java.nio.file.Files.readString(
              java.nio.file.Paths.get(p.getPath, "cmdline"))
            cmd.contains("graft.Bench") || cmd.contains("graft.Verify") ||
              cmd.contains("graft.tools.") ||
              cmd.contains("org.apache.spark") ||
              cmd.contains("sbt-launch") || cmd.contains("xsbt.boot.Boot")
          }
        } catch { case _: Throwable => false }
      }
      if (live)
        println("[gc] --scratch refused: a graft JVM is alive (its shuffle " +
          "files must not be swept mid-run)")
      else {
        // own-session scratch is excluded by age: this JVM's dirs were
        // created after its own start time
        val selfStart = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getStartTime
        var b = 0L
        list("/tmp").filter(f => (f.getName.startsWith("blockmgr-") ||
            f.getName.startsWith("spark-")) && f.lastModified < selfStart)
          .foreach { d => b += graft.Session.sizeOf(d); if (apply) delete(d) }
        println(f"[gc] scratch: ${if (apply) "swept" else "would sweep"} ${b / 1e9}%.2f GB")
      }
    }
    spark.stop()
  }

  private def list(dir: String): Array[java.io.File] =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}
