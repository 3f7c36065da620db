package graft.etl

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.io.{Sinks, Sources}

/** E1 (main.py:13-25): the three-stage pipeline with file-on-disk handoffs so
  * each stage stays independently re-runnable — collect lands raw JSON,
  * transform writes curated parquet + quarantine JSON, report writes CSV.
  */
object AdPipeline {

  final case class Outputs(curated: DataFrame, quarantine: DataFrame, report: DataFrame)

  /** In-memory run over raw JSON documents (used by fixtures and entry).
    * The parsed frame stays persisted: callers read the outputs lazily.
    */
  def run(rawDocs: DataFrame, now: Instant): Outputs = persistedRun(rawDocs, now)._2

  /** The run plus the frame it persisted, for callers that can release it. */
  private def persistedRun(rawDocs: DataFrame, now: Instant): (DataFrame, Outputs) = {
    val parsed = Transform.derive(Transform.flatten(rawDocs))
    // One pass, two outputs: persist the flagged frame so the valid and
    // quarantine branches don't recompute the scan (SURVEY §4).
    parsed.persist(StorageLevel.MEMORY_AND_DISK)
    val (valid, quarantine) = Transform.validate(parsed)
    val curated = Transform.dedup(valid)
      .select(AdSchema.validated.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    (parsed, Outputs(curated, quarantine, Report.report(curated, now)))
  }

  /** File-based run: landing dir of raw JSON documents → output dirs. */
  def runFiles(
      spark: SparkSession,
      rawJsonPath: String,
      curatedDir: String,
      quarantineDir: String,
      reportDir: String,
      now: Instant,
  ): Unit = {
    val (parsed, out) = persistedRun(Sources.rawAdsJson(spark, rawJsonPath), now)
    // the report reads curated back from parquet, so once both sinks have
    // written nothing reads the persisted frame again: release it
    try {
      Sinks.quarantineJson(out.quarantine, quarantineDir)
      Sinks.curatedParquet(out.curated, curatedDir)
    } finally parsed.unpersist()
    Sinks.reportCsv(Sources.curatedParquet(spark, curatedDir)
      .transform(Report.report(_, now)), reportDir)
  }

  /** File-based run with the run-id artifact convention (F9): every stage
    * output lands in a fresh `<name>_<runid>` directory under `baseDir`, so
    * reruns never overwrite each other (reference utils/base.py:4-8
    * semantics, bug excluded). Returns the three output dirs.
    */
  def runWithId(
      spark: SparkSession,
      rawJsonPath: String,
      baseDir: String,
      now: Instant,
  ): (String, String, String) = {
    val curatedDir = Sinks.runDir(baseDir, "curated", now)
    val quarantineDir = Sinks.runDir(baseDir, "validation", now)
    val reportDir = Sinks.runDir(baseDir, "reports", now)
    runFiles(spark, rawJsonPath, curatedDir, quarantineDir, reportDir, now)
    (curatedDir, quarantineDir, reportDir)
  }

  /** The flagship fixture run (SparkEntry.entry). */
  def fixtureRun(spark: SparkSession): Outputs =
    run(Sources.rawAdsFromStrings(spark, Seq(("fixture", AdFixture.json))), AdFixture.frozenNow)
}
