package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement harness for the optimization rounds (guide §1): runs the
  * named declared queries through the same session shape as [[Bench]]
  * (construction INSIDE the timed window — the multi-phase operators run
  * eager checkpoints and guard counts at build time) and prints, per query,
  * the wall time plus a per-JOB table (job wall, call site, executor run
  * time, shuffle/input bytes) so the expensive phase of a multi-job operator
  * is visible without the UI. Dumps `.explain("formatted")` when
  * SPARK_GRAFT_EXPLAIN_DIR is set (suffix via SPARK_GRAFT_EXPLAIN_SUFFIX).
  *
  * Not a declared query and not part of the driver contract — measurement
  * infrastructure only.
  */
object Profile {
  private class JobRow(val site: String, val t0: Long) {
    var t1: Long = 0L
    var runMs: Long = 0L
    var tasks: Int = 0
    var shufReadMB: Double = 0
    var shufWriteMB: Double = 0
    var inputMB: Double = 0
    var maxTaskMs: Long = 0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.EngineDefaults.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val jobsMap = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          // first physical-plan line identifies the action's operator root
          val head = s.physicalPlanDescription.linesIterator
            .dropWhile(l => l.isEmpty || l.startsWith("==")).take(3).mkString(" | ")
          execDesc.put(s.executionId, head)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val eid = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        val site = eid.flatMap(id => Option(execDesc.get(id.toLong)))
          .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("?")
        jobsMap.put(js.jobId, new JobRow(site, js.time))
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobsMap.get(je.jobId)
        if (r != null) r.t1 = je.time
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        val jid = stageToJob.get(te.stageId)
        val row = if (jid != null) jobsMap.get(jid) else null
        if (m != null && row != null) row.synchronized {
          row.runMs += m.executorRunTime
          row.maxTaskMs = math.max(row.maxTaskMs, m.executorRunTime)
          row.tasks += 1
          row.shufReadMB += m.shuffleReadMetrics.totalBytesRead / 1e6
          row.shufWriteMB += m.shuffleWriteMetrics.bytesWritten / 1e6
          row.inputMB += m.inputMetrics.bytesRead / 1e6
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val names = if (args.nonEmpty) args.toSeq
      else sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq).getOrElse(Seq.empty)
    try SparkEntry.queries("q_t1_topk")(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"warmup failed: $e") }

    for (n <- names) {
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(1500)
      jobsMap.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      explainDir.foreach { dir =>
        val sfx = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
        val out = new java.io.File(dir, s"${n}${sfx}.txt")
        out.getParentFile.mkdirs()
        val w = new java.io.PrintWriter(out)
        try w.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)) finally w.close()
      }
      // brief settle so stragglers' job-end events land before we print
      Thread.sleep(300)
      val rows = jobsMap.entrySet().toArray(Array.empty[java.util.Map.Entry[Int, JobRow]])
        .sortBy(_.getKey)
      val sumJobWall = rows.map(e => math.max(0L, e.getValue.t1 - e.getValue.t0)).sum
      println(f"== $n%-28s wall=$wall%7.3f s  jobs=${rows.length}%3d  sumJobWall=${sumJobWall / 1000.0}%7.3f s")
      var prevEnd = 0L
      rows.foreach { e =>
        val r = e.getValue
        val jw = math.max(0L, r.t1 - r.t0)
        // driver gap: planning/codegen/collect time between this job's
        // start and the previous job's end (first job: no baseline)
        val gap = if (prevEnd == 0L) 0L else math.max(0L, r.t0 - prevEnd)
        prevEnd = math.max(prevEnd, r.t1)
        println(f"   job=${e.getKey}%3d gap=$gap%5d ms wall=$jw%6d ms run=${r.runMs}%6d ms maxTask=${r.maxTaskMs}%5d ms tasks=${r.tasks}%4d in=${r.inputMB}%7.1f MB sr=${r.shufReadMB}%7.2f MB sw=${r.shufWriteMB}%7.2f MB  ${r.site.replaceAll("\\s+", " ").take(160)}")
      }
    }
    spark.stop()
  }
}
