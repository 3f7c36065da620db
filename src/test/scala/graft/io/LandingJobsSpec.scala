package graft.io

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Project, Window}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkSpec
import graft.etl.{AdFixture, AdPipeline}
import graft.functions.LangIdDetect

/** The Spark jobs one landing batch runs: the paper's pipeline over a
  * landing directory, then the curated snapshot upsert — the operation
  * the ETL benchmark times.
  */
class LandingJobsSpec extends SparkSpec {

  /** Jobs a merge batch may run: 11 on the fixture and on the benchmark's
    * batches (`plans/etl-one-pass/README.md` has the per-job table).
    */
  private val mergeBatchJobBudget = 11

  private final class Recorder extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Option[String]] // execution id per job
    val executionDetails = mutable.ArrayBuffer.empty[String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { executionDetails += s.details }
      case _ =>
    }
  }

  test("landing batch: a merge batch runs no metadata jobs and stays within its job budget") {
    val base = Files.createTempDirectory("graft-landing-jobs").toString
    val landing = s"$base/landing"
    Files.createDirectories(Paths.get(landing))
    Files.writeString(Paths.get(landing, "doc1.json"), AdFixture.json)
    val snapDir = s"$base/snapshot"
    def batch(now: Instant): Int = {
      val (curated, _, _) = AdPipeline.runWithId(spark, landing, s"$base/out", now)
      Sinks.curatedSnapshot(Sources.curatedParquet(spark, curated), snapDir)
    }
    def recorded(body: => Unit): Recorder = {
      val rec = new Recorder
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(rec)
      try { body; ListenerDrain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(rec)
      rec
    }
    assert(batch(Instant.ofEpochSecond(1720000000L)) === 1)
    val merge = recorded(assert(batch(Instant.ofEpochSecond(1720000060L)) === 2))
    assert(!merge.jobs.contains(None),
      "a job outside any SQL execution (a parquet footer inference) ran")
    assert(!merge.executionDetails.exists(_.contains("SnapshotTable$.snapshot(")),
      "a manifest read ran as a Spark job")
    assert(merge.jobs.size <= mergeBatchJobBudget,
      s"merge batch ran ${merge.jobs.size} jobs, budget $mergeBatchJobBudget")
    // warm: the same batch again finds every generated class in the cache
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val warm = recorded(assert(batch(Instant.ofEpochSecond(1720000120L)) === 3))
    assert(warm.jobs.size <= mergeBatchJobBudget)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled <= 5,
      "a warm batch recompiled its generated classes")
  }

  test("persisted parse: one narrow pass, and language id is one expression node") {
    val (parsed, _, _) = AdPipeline.curate(
      Sources.rawAdsFromStrings(spark, Seq(("fixture", AdFixture.json))))
    try {
      val qe = parsed.queryExecution
      assert(qe.optimizedPlan.collect { case w: Window => w }.isEmpty, "the parse plans a Window")
      assert(qe.executedPlan.collect { case e: Exchange => e }.isEmpty, "the parse plans an Exchange")
      val langIds = qe.analyzed.collect { case p: Project => p.projectList }.flatten.collect {
        case a: Alias if a.name == "ad_lang_code" => a.child
      }
      assert(langIds.size === 1)
      assert(langIds.head.isInstanceOf[LangIdDetect] &&
        langIds.head.children.forall(_.collect { case d: LangIdDetect => d }.isEmpty),
        s"ad_lang_code is not one classifier node: ${langIds.head.treeString}")
    } finally parsed.unpersist()
  }
}
