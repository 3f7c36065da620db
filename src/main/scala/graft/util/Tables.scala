package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.TimestampNTZType

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Every query receives the scale-factor directory at call time, so the same
  * plan runs unchanged from sf0.001 smoke to a 100 TB production layout: the
  * scan is a plain parquet source and Catalyst pushes filters/projections
  * into it (vectorized reader, row-group pruning).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across driver testdata generations, so dispatch on
    * the parquet FOOTER's logical type (one footer read, constant cost —
    * never a data scan, never a guess from the Spark-side schema, which
    * cannot distinguish a NANOS timestamp from a plain INT64 once the
    * legacy conf maps both to long). NANOS is unreadable natively in
    * Spark 4: read it as a nanos long and truncate to microseconds
    * (lossless on this data; DuckDB does the same ns→µs truncation). A ts
    * column that is not a TIMESTAMP annotation at all fails loudly rather
    * than silently dividing. Either way the column ends as NTZ so dumps
    * compare naively against the oracle — the session runs in UTC so
    * LTZ→NTZ preserves wall time.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    tsTimeUnit(s, d) match {
      case TimeUnit.NANOS =>
        // The conf must stay set for the lifetime of any NANOS-events plan:
        // executors re-convert file footers AT SCAN TIME with the
        // then-current conf, so a save/restore around the read would break
        // the very query it built. It is therefore only set when the data
        // really is nanos; no other graft table carries a timestamp column,
        // so nothing else in the session can be silently affected.
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        table(s, d, "events").withColumn(
          "ts", timestamp_micros(expr("ts DIV 1000")).cast(TimestampNTZType))
      case _ => // MICROS / MILLIS read natively as timestamps
        val raw = table(s, d, "events")
        raw.withColumn("ts", raw.col("ts").cast(TimestampNTZType))
    }
  }

  /** The parquet logical time unit of events.ts, from the first footer
    * (file or directory-of-parts layout both handled). Fails loudly on a
    * non-TIMESTAMP ts column — a plain INT64 of unknown unit must never be
    * silently divided into wrong wall times.
    */
  private def tsTimeUnit(
      s: SparkSession, d: String): org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(s"$d/events.parquet")
    val fs = root.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .headOption.getOrElse(throw new IllegalStateException(
            s"no parquet part files under $root"))
      else root
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case ts: TimestampLogicalTypeAnnotation => ts.getUnit
        case other => throw new IllegalStateException(
          s"events.ts is ${Option(other).map(_.toString).getOrElse("plain INT64")}, " +
            "not a parquet TIMESTAMP — refusing to guess its unit")
      }
    } finally reader.close()
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events" -> events _,
  ).withDefault(name => (s, d) => table(s, d, name))

  /** SQL façade: registers every synthetic table as a temp view and
    * installs the native functions ([[graft.functions.Natives]]), so the
    * full inventory is addressable via `spark.sql(...)` with the same scan
    * behavior as the DataFrame API.
    */
  def registerViews(s: SparkSession, sfDir: String): Unit = {
    graft.functions.Natives.install(s)
    names.foreach(n => loaders(n)(s, sfDir).createOrReplaceTempView(n))
  }
}

/** A named query paired with its DuckDB oracle SQL (None = rows-only check:
  * the operator is not expressible in ANSI SQL, e.g. probabilistic sketches).
  */
final case class Q(
    name: String,
    oracle: Option[String],
)(val run: (SparkSession, String) => DataFrame)
