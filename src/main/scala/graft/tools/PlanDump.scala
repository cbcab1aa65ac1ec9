package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ExplainMode

import java.nio.file.{Files, Paths}

/** Round-16 measurement harness (guide §1): for each named query, dump
  * `explain("formatted")` to `plans/<tag>/<name>_<suffix>.txt` and print a
  * per-stage time/shuffle breakdown captured via SparkListener, so claims
  * like "2 Exchange → 1" and "the time goes to stage X's shuffle read" are
  * reviewable without the (disabled) Spark UI.
  *
  * Usage: launch.sh graft.tools.PlanDump <suffix> <query>...
  *   env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_PLANDIR
  *        (default plans/r16).
  *
  * The dumped plan is the PRE-EXECUTION formatted plan of the final frame
  * (AQE initial plan), which is the stable, diffable shape; queries whose
  * build stages execute eagerly (localCheckpoint / codebook collect) also
  * run those stages, and the stage breakdown covers them.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <suffix> <query>...")
    val suffix = args.head
    val names = args.tail
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val planDir = sys.env.getOrElse("SPARK_GRAFT_PLANDIR", "plans/r16")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus, sfDir)
    Files.createDirectories(Paths.get(planDir))

    // per-stage accounting: (stage name line, duration ms, shuffle read/write MB, tasks)
    case class St(name: String, ms: Long, readMb: Double, writeMb: Double,
        inMb: Double, tasks: Int)
    val stages = scala.collection.mutable.ArrayBuffer[St]()
    val jobs = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    val jobStart = scala.collection.mutable.Map[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val ms = (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(-1L)
        stages += St(i.name.linesIterator.next().take(90), ms,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6, i.numTasks)
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = (e.time,
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.remove(e.jobId).foreach { case (t0, d) => jobs += ((e.jobId, d, e.time - t0)) }
    })

    // warmup absorbs JIT/codegen/footer costs like Bench does
    SparkEntry.queries("bars_rebar")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    stages.clear(); jobs.clear()

    names.foreach { name =>
      spark.sparkContext.setJobDescription(name)
      stages.clear(); jobs.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val planTxt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(planDir, s"${name}_$suffix.txt"),
        planTxt.getBytes("UTF-8"))
      // post-execution capture: the AQE FINAL plan of the noop write,
      // where runtime stage reuse (ReusedExchange/ReusedQueryStage) is
      // actually visible — df.queryExecution before execution only shows
      // the initial plan
      val execPlans = scala.collection.mutable.ArrayBuffer[String]()
      val ql = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          execPlans += qe.executedPlan.toString
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(ql)
      df.write.format("noop").mode("overwrite").save()
      Thread.sleep(200) // listener bus drain
      spark.listenerManager.unregister(ql)
      if (execPlans.nonEmpty)
        Files.write(Paths.get(planDir, s"${name}_${suffix}_exec.txt"),
          execPlans.mkString("\n\n=== next execution ===\n\n").getBytes("UTF-8"))
      val tTot = (System.nanoTime() - t0) / 1e9
      println(f"===== $name  build=$tBuild%.2fs total=$tTot%.2fs  jobs=${jobs.size} stages=${stages.size}")
      jobs.foreach { case (id, _, ms) => if (ms > 50) println(f"  job $id%3d ${ms}%6d ms") }
      stages.filter(_.ms > 30).sortBy(-_.ms).take(12).foreach { s =>
        println(f"  stage ${s.ms}%6d ms  tasks=${s.tasks}%3d in=${s.inMb}%7.1fMB sr=${s.readMb}%7.1fMB sw=${s.writeMb}%7.1fMB  ${s.name}")
      }
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
