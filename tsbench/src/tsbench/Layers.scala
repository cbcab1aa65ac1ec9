package tsbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the tracer's records. Batch
  * values are per pass (median over the traced passes); stream values
  * cover the traced stretches (alternate drain chunks and phase 2). */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** 99th percentile (nearest rank) when ten samples lie beyond it, else 0. */
  private def p99(xs: Seq[Double]): Double = {
    val k = math.max(0, math.ceil(0.99 * xs.size).toInt - 1)
    if (xs.size - 1 - k < 10) 0.0 else xs.sorted.apply(k)
  }

  private def dur(s: Span): Double = (s.end - s.start) / 1e6

  /** Executor, shuffle and scheduler figures over tasks and jobs that
    * ran inside [lo, hi]. */
  private def cluster(t: Tracer, lo: Long, hi: Long): Map[String, Double] = {
    val ts = t.tasks.filter(k => k.end >= lo && k.end <= hi).toSeq
    val byStage = ts.groupBy(_.stage)
    val skew = byStage.values.filter(_.size >= 2).map { xs =>
      val d = xs.map(k => (k.end - k.start).toDouble)
      d.max / math.max(1e6, median(d))
    }.maxOption.getOrElse(1.0)
    Map(
      "sources.rows_read" -> ts.map(_.inRows).sum.toDouble,
      "sources.bytes_read" -> ts.map(_.inBytes).sum.toDouble,
      "sched.jobs" -> t.jobs.count(j => j.start >= lo && j.start <= hi).toDouble,
      "sched.stages" -> byStage.size.toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "exec.run_ms" -> ts.map(_.runMs).sum.toDouble,
      "exec.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "exec.skew" -> skew,
      "shuffle.write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "shuffle.spill_bytes" -> ts.map(_.spill).sum.toDouble)
  }

  private def catalyst(qs: Seq[QeRec]): Map[String, Double] = {
    def phase(k: String) = qs.flatMap(_.phases).filter(_._1 == k).map(p => (p._3 - p._2) / 1e6).sum
    def plan(k: String) = qs.map(_.plan.getOrElse(k, 0L)).sum.toDouble
    Map("catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "sources.scan_ms" -> qs.map(_.scanMs).sum.toDouble) ++
      Seq("exchanges", "sorts", "windows", "broadcasts", "reused_exchanges").map(k => s"plan.$k" -> plan(k))
  }

  def batch(t: Tracer, passes: Seq[Map[String, Any]], ops: Seq[String]): Map[String, Double] = {
    t.drain()
    val spans = t.allSpans()
    val selfBy = mutable.Map.empty[String, Seq[Double]]
    val traced = passes.filter(p => p("traced") == true && p("ok") == true)
    val perPass = traced.map { p =>
      val lo = p("start").asInstanceOf[Long]; val hi = p("end").asInstanceOf[Long]
      val inPass = spans.filter(s => s.start >= lo && s.end <= hi)
      val builds = inPass.filter(_.name == "op.build")
      val opSpans = inPass.filter(s => s.name.startsWith("op.") && s.name != "op.build" && s.name != "op.execute")
      val taskIv = t.tasks.filter(k => k.end >= lo && k.end <= hi).map(k => (k.start, k.end)).toSeq
      val self = Tracer.selfTimes(inPass)
      self.foreach { case (k, v) => selfBy(k) = selfBy.getOrElse(k, Nil) :+ v }
      cluster(t, lo, hi) ++ catalyst(t.qes.filter(q => q.end >= lo && q.end <= hi).toSeq) ++ Map(
        "driver.build_ms" -> builds.map(dur).sum,
        "driver.build_jobs" -> t.jobs.count(j => builds.exists(b => j.start >= b.start && j.start <= b.end)).toDouble,
        "sched.gap_ms" -> opSpans.map(o => dur(o) - Tracer.covered(taskIv, o.start, o.end) / 1e6).sum,
        "trace.residual_ms" -> (self.getOrElse("op.build", 0.0) + self.getOrElse("op.execute", 0.0)))
    }
    val keys = perPass.flatMap(_.keys).distinct
    val walls = (tr: Boolean) => passes.filter(p => p("traced") == tr && p("ok") == true)
      .map(_("wall_s").asInstanceOf[Double])
    val opMs = ops.map { op =>
      s"op.$op.ms" -> median(traced.flatMap(_("op_ms").asInstanceOf[Map[String, Double]].get(op)))
    }
    keys.map(k => k -> median(perPass.flatMap(_.get(k)))).toMap ++ opMs ++ Tracer.jvm() ++
      overhead(walls(true), walls(false)) ++
      selfBy.map { case (k, v) => s"self.$k" -> median(v) }
  }

  private def overhead(traced: Seq[Double], untraced: Seq[Double]): Map[String, Double] =
    if (traced.isEmpty || untraced.isEmpty) Map.empty
    else Map("trace.overhead_pct" -> 100 * (median(traced) / median(untraced) - 1))

  def stream(t: Tracer, rec: Record): Map[String, Double] = {
    t.drain()
    val spans = t.allSpans()
    val ps = t.progress.toSeq
    val busy = ps.filter(_.rows > 0)
    def d(k: String) = median(busy.map(_.durations.getOrElse(k, 0L).toDouble))
    val last = ps.lastOption
    val drains = rec("passes").asInstanceOf[Seq[Map[String, Any]]]
    val walls = (tr: Boolean) => drains.filter(_("traced") == tr).map(_("wall_s").asInstanceOf[Double])
    val settle = rec.get("settle_ms").map(_.asInstanceOf[Seq[Double]]).getOrElse(Nil)
    val upserts = rec.get("sink_upsert_ms").map(_.asInstanceOf[Seq[Double]]).getOrElse(Nil)
    cluster(t, Long.MinValue, Long.MaxValue) ++ catalyst(t.qes.toSeq) ++ Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.empty_batches" -> ps.count(_.rows == 0).toDouble,
      "streaming.rows_per_batch" -> (if (busy.isEmpty) 0.0 else busy.map(_.rows).sum.toDouble / busy.size),
      "streaming.trigger_ms" -> d("triggerExecution"),
      "streaming.latest_offset_ms" -> d("latestOffset"),
      "streaming.query_planning_ms" -> d("queryPlanning"),
      "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.wal_commit_ms" -> d("walCommit"),
      "streaming.commit_offsets_ms" -> d("commitOffsets"),
      "state.rows_total" -> last.map(_.stateRowsTotal.toDouble).getOrElse(0.0),
      "state.rows_updated" -> ps.map(_.stateRowsUpdated).sum.toDouble,
      "state.memory_bytes" -> last.map(_.stateMem.toDouble).getOrElse(0.0),
      "state.commit_ms" -> ps.map(_.stateCommitMs).sum.toDouble,
      "state.update_ms" -> ps.map(_.stateUpdateMs).sum.toDouble,
      "state.rocksdb_flush_ms" -> ps.map(_.flushMs).sum.toDouble,
      "state.rocksdb_sst_bytes" -> last.map(_.sstBytes.toDouble).getOrElse(0.0),
      "sink.upsert_ms" -> median(upserts),
      "sink.rows" -> rec("sink_rows").asInstanceOf[Long].toDouble,
      "sink.dups" -> rec("sink_dups").asInstanceOf[Long].toDouble,
      "gen.rows" -> rec.get("gen_rows").map(_.asInstanceOf[Int].toDouble).getOrElse(0.0),
      "streaming.settle_ms" -> (if (settle.isEmpty) 0.0 else median(settle)),
      "stream.latency_p99_ms" -> rec.get("latency_ms").map(l => p99(l.asInstanceOf[Seq[Double]])).getOrElse(0.0)) ++
      Tracer.jvm() ++ overhead(walls(true), walls(false)) ++
      Tracer.selfTimes(spans).map { case (k, v) => s"self.$k" -> v }
  }

}
