package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Natives
import graft.util.Q

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from per-module inventories (graft.queries.*,
  * graft.text.*, graft.dedup.*, graft.similarity.*); each module exposes
  * `all: Seq[Q]` pairing the Spark plan with its DuckDB oracle SQL.
  */
object SparkEntry {

  /** The ad-library pipeline itself. The oracle SQL re-implements the whole
    * flatten→derive→validate→dedup→report lineage in self-contained DuckDB
    * SQL over the inlined fixture document (graft.etl.EtlOracle) — the
    * reference semantics are double-implemented and driver-hash-checked, not
    * just golden-checked. One fixtureRun per session (memoized): the three
    * dumps share the persisted parsed frame instead of recomputing it.
    */
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, graft.etl.AdPipeline.Outputs]()

  private def fixture(s: SparkSession): graft.etl.AdPipeline.Outputs =
    fixtureCache.computeIfAbsent(s, graft.etl.AdPipeline.fixtureRun(_))

  private def etlQueries: Seq[Q] = Seq(
    // Timestamps dumped as NTZ: session TZ is UTC so the LTZ→NTZ cast is
    // exact, and the oracle's make_timestamp(µs) is naive — both sides
    // compare as wall-clock UTC (same pattern as Tables.events).
    Q("etl_report_top10", Some(graft.etl.EtlOracle.reportSql)) { (s, _) =>
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.TimestampNTZType
      fixture(s).report
        .withColumn("start_date", col("start_date").cast(TimestampNTZType))
        .withColumn("end_date", col("end_date").cast(TimestampNTZType))
    },
    Q("etl_curated", Some(graft.etl.EtlOracle.curatedSql))((s, _) => fixture(s).curated),
    // The quarantine record struct is flattened to scalar columns for the
    // dump (pandas can't sort/hash dict cells); the JSON sink keeps the
    // struct shape.
    Q("etl_quarantine", Some(graft.etl.EtlOracle.quarantineSql)) { (s, _) =>
      import org.apache.spark.sql.functions.col
      fixture(s).quarantine
        .select(col("record.*"), col("validation_error"))
        .orderBy("doc_id", "group_idx", "pos")
    },
  )

  private def modules: Seq[Q] =
    graft.queries.Relational.all ++
      graft.queries.Windows.all ++
      graft.queries.Scalars.all ++
      graft.queries.Skew.all ++
      graft.queries.Analytics.all ++
      graft.text.TextAnalysis.all ++
      graft.queries.Curation.all ++
      graft.queries.Fuzzy.all ++
      graft.dedup.Dedup.all ++
      graft.similarity.Similarity.all ++
      graft.multimodal.Multimodal.all ++
      graft.ml.QualityModel.all ++
      etlQueries

  /** Flagship: the full reference pipeline (scan → flatten → derive →
    * validate/quarantine → 3-pass dedup → top-10 report) on the fixture
    * document. Driver smoke-checks rows>0 (7 report rows).
    */
  def entry(spark: SparkSession): DataFrame = {
    Natives.install(spark)
    graft.etl.AdPipeline.fixtureRun(spark).report
  }

  /** One entry per implemented operator from SURVEY.md §2. Each closure
    * installs the native functions first: the caller's session may not
    * come from [[graft.util.EngineDefaults.local]].
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map { q =>
      q.name -> { (s: SparkSession, d: String) => Natives.install(s); q.run(s, d) }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap
}
