package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.etl.AdPipeline
import graft.io.{Sinks, SnapshotTable, Sources}

/** Executes one benchmark run from a plan file written by `run.py` and
  * writes every raw measurement to a JSON file; `run.py` turns those into
  * metrics and checks them against the expected outputs.
  */
object Harness {
  private val mapper = new ObjectMapper()

  /** Each query's layer is the graft module whose `all` inventory declares it. */
  private val inventories: Seq[(String, Seq[graft.util.Q])] = Seq(
    "queries" -> graft.queries.Relational.all,
    "queries" -> graft.queries.Windows.all,
    "queries" -> graft.queries.Scalars.all,
    "queries" -> graft.queries.Skew.all,
    "queries" -> graft.queries.Analytics.all,
    "queries" -> graft.queries.Curation.all,
    "queries" -> graft.queries.Fuzzy.all,
    "text" -> graft.text.TextAnalysis.all,
    "dedup" -> graft.dedup.Dedup.all,
    "similarity" -> graft.similarity.Similarity.all,
    "multimodal" -> graft.multimodal.Multimodal.all,
    "ml" -> graft.ml.QualityModel.all,
  )
  private lazy val queries = graft.SparkEntry.queries
  /** Declared queries outside every module inventory are the ETL fixture queries. */
  private lazy val layerOf: Map[String, String] =
    queries.keys.map(_ -> "etl").toMap ++
      inventories.flatMap { case (layer, qs) => qs.map(_.name -> layer) }

  /** The `functions` layer: every native-function registration path. */
  private val registrations: Seq[SparkSession => Unit] = Seq(
    graft.functions.BinaryFunctions.ensureRegistered,
    graft.functions.BloomFunctions.ensureRegistered,
    graft.functions.BpeFunctions.ensureRegistered,
    graft.functions.JpegFunctions.ensureRegistered,
    graft.functions.LangIdFunctions.ensureRegistered,
    graft.functions.MediaDecodeFunctions.ensureRegistered,
    graft.multimodal.MediaSynthFunctions.ensureRegistered,
    graft.functions.ShingleHashFunctions.ensureRegistered,
    graft.functions.TextFunctions.ensureRegistered,
    graft.functions.VectorFunctions.ensureRegistered,
    graft.functions.WinnowFunctions.ensureRegistered,
  )

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = mapper.readTree(new File(a("plan")))
    writeJson(a("out"), new Run(plan).execute())
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Size in bytes of every regular file under `dir`, hidden ones included. */
  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  private def writeJson(path: String, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), toJava(v))

  private final class Run(plan: com.fasterxml.jackson.databind.JsonNode) {
    private val data = plan.get("data").asText()
    private val work = plan.get("work").asText()
    private val cpus = plan.get("cpus").asInt()
    private val traced = plan.get("trace").asBoolean()
    private val now = Instant.ofEpochSecond(plan.get("now").asLong())
    private val snapshotDir = s"$work/snapshot"
    private var spark: SparkSession = _
    private var tracer: Option[Tracer] = None
    private var observations = 0
    /** Output directories of each successful ETL operation, checked after the window. */
    private val etlOutputs = scala.collection.mutable.LinkedHashMap.empty[String, (String, String, String)]

    private def ops(node: com.fasterxml.jackson.databind.JsonNode): Seq[com.fasterxml.jackson.databind.JsonNode] =
      if (node == null) Nil else node.elements().asScala.toSeq

    /** Builds a session shaped like the engine's own mains and registers
      * every native function; returns the registration time.
      */
    private def newSession(): Double = {
      spark = graft.util.EngineDefaults.withCompression(SparkSession.builder())
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toLong)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val t0 = System.nanoTime()
      registrations.foreach(_(spark))
      secs(t0, System.nanoTime())
    }

    /** The set-up a fresh process pays: from JVM start until the session
      * is built and every native function registered. Returns it with the
      * registration part.
      */
    private def coldSetup(): (Double, Double) = {
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
      val registerS = newSession()
      ((System.currentTimeMillis() - jvmStart) / 1e3, registerS)
    }

    private def inSpan[T](name: String, layer: String, kind: String)(body: Option[Span] => T): T =
      tracer match {
        case Some(t) => t.span(name, layer, kind)(s => body(Some(s)))
        case None => body(None)
      }

    private def error(e: Throwable): String = {
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      s"${e.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").take(300)}"
    }

    /** Runs one operation, then, outside its timed call, collects the heap
      * so that the next operation starts from the same state and the live
      * heap it left can be read.
      */
    private def runOp(op: com.fasterxml.jackson.databind.JsonNode): Map[String, Any] = {
      val rec = op.get("kind").asText() match {
        case "query" => runQuery(op.get("name").asText())
        case "etl" => runEtl(op)
      }
      System.gc()
      rec + ("heap_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6)
    }

    /** One declared query, executed to a noop sink. Its row count comes from
      * an observation on the same job, so the check adds no job.
      */
    private def runQuery(name: String): Map[String, Any] = {
      val layer = layerOf.getOrElse(name, "unknown")
      spark.catalog.clearCache()
      observations += 1
      val obs = Observation(s"perfbench_rows_$observations")
      val t0 = System.nanoTime()
      var t1 = t0
      val outcome = try {
        inSpan(name, layer, "op") { span =>
          val df = queries(name)(spark, data)
          t1 = System.nanoTime()
          span.foreach(_.buildMs = (t1 - t0) / 1e6)
          df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
        }
        None
      } catch { case e: Throwable => Some(error(e)) }
      val t2 = System.nanoTime()
      val rows = if (outcome.isEmpty) obs.get("n") else -1L
      Map("name" -> name, "layer" -> layer, "secs" -> secs(t0, t2),
        "build_s" -> secs(t0, t1), "ok" -> outcome.isEmpty, "error" -> outcome, "rows" -> rows)
    }

    /** One landing batch through the paper's pipeline, then the snapshot
      * upsert. The outputs are read back for the checks after the run.
      */
    private def runEtl(op: com.fasterxml.jackson.databind.JsonNode): Map[String, Any] = {
      val name = op.get("name").asText()
      val landing = op.get("path").asText()
      val base = op.get("out").asText()
      val snapBefore = dirBytes(snapshotDir)
      val t0 = System.nanoTime()
      val outcome = try {
        Right(inSpan(name, "etl", "op") { _ =>
          val dirs = AdPipeline.runWithId(spark, landing, base, now)
          inSpan("io.snapshot_merge", "io", "stage") { _ =>
            Sinks.curatedSnapshot(Sources.curatedParquet(spark, dirs._1), snapshotDir)
          }
          dirs
        })
      } catch { case e: Throwable => Left(error(e)) }
      val t1 = System.nanoTime()
      val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
      val common = Map("name" -> name, "layer" -> "etl", "secs" -> secs(t0, t1),
        "ok" -> outcome.isRight, "cached_mb_left" -> cachedMb, "landing_b" -> dirBytes(landing))
      outcome match {
        case Left(err) => common ++ Map("error" -> err)
        case Right((curated, quarantine, report)) =>
          etlOutputs(name) = (curated, quarantine, report)
          common ++ Map("written_b" -> (dirBytes(curated) + dirBytes(quarantine) +
            dirBytes(report) + dirBytes(snapshotDir) - snapBefore))
      }
    }

    private def checkEtl(curated: String, quarantine: String, report: String): Map[String, Any] = {
      val q = spark.read.schema("validation_error STRING").json(quarantine)
        .groupBy("validation_error").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val ids = spark.read.schema("ad_id STRING").option("header", "true").csv(report)
        .collect().map(_.getString(0)).toSeq
      Map("curated" -> spark.read.parquet(curated).count(), "quarantine" -> q, "report" -> ids)
    }

    /** Live rows of the snapshot table and the bytes its latest version references. */
    private def checkSnapshot(): Map[String, Any] =
      if (!SnapshotTable.exists(snapshotDir)) Map("rows" -> 0L)
      else {
        val snap = SnapshotTable.snapshot(spark, snapshotDir)
        val live = snap.files.map(f => Files.size(Paths.get(snapshotDir, f))).sum
        val df = SnapshotTable.read(spark, snapshotDir)
        Map("rows" -> df.count(), "distinct_ids" -> df.select("ad_id").distinct().count(),
          "dir_b" -> dirBytes(snapshotDir), "live_b" -> live)
      }

    /** Traced only: the cost of each ETL stage on one fresh batch. The lazy
      * stages are timed as prefixes of the chain, each run to a noop sink,
      * so a stage's cost is its prefix minus the one before; the sinks and
      * the report are timed as the pipeline composes them.
      */
    private def breakdown(op: com.fasterxml.jackson.databind.JsonNode): Unit = {
      import graft.etl.{Report, Transform}
      val landing = op.get("path").asText()
      val base = op.get("out").asText()
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      inSpan("io.read_json", "io", "prefix")(_ => noop(Sources.rawAdsJson(spark, landing)))
      val flat = inSpan("etl.flatten", "etl", "prefix") { _ =>
        val f = Transform.flatten(Sources.rawAdsJson(spark, landing)); noop(f); f
      }
      val parsed = inSpan("etl.derive", "etl", "prefix") { _ =>
        val p = Transform.derive(flat); noop(p); p
      }
      val valid = inSpan("etl.validate", "etl", "prefix") { _ =>
        val v = Transform.validate(parsed)._1; noop(v); v
      }
      inSpan("etl.dedup", "etl", "prefix")(_ => noop(Transform.dedup(valid)))
      spark.catalog.clearCache()
      val out = inSpan("etl.build", "etl", "stage") { _ =>
        AdPipeline.run(Sources.rawAdsJson(spark, landing), now)
      }
      inSpan("io.write_quarantine", "io", "stage")(_ => Sinks.quarantineJson(out.quarantine, s"$base/q"))
      inSpan("io.write_curated", "io", "stage")(_ => Sinks.curatedParquet(out.curated, s"$base/c"))
      val report = inSpan("etl.report", "etl", "stage") { _ =>
        val r = Sources.curatedParquet(spark, s"$base/c").transform(Report.report(_, now)); noop(r); r
      }
      inSpan("io.write_report", "io", "stage")(_ => Sinks.reportCsv(report, s"$base/r"))
      spark.catalog.clearCache()
    }

    private def peakRssMb(): Double = {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
      }.getOrElse(0.0)
      finally src.close()
    }

    def execute(): Map[String, Any] = {
      val (setupS, registerS) = coldSetup()
      val first = runOp(plan.get("first"))
      val tw = System.nanoTime()
      val passes = ops(plan.get("passes")).map(p => ops(p).map(runOp))
      val windowEnd = secs(tw, System.nanoTime())
      // an untraced pass just before the traced one, equally warm, so that
      // their difference is the tracing overhead
      val referencePass = ops(plan.get("reference_pass")).map(runOp)
      if (traced) tracer = Some(new Tracer(spark))
      val tracedPass = ops(plan.get("traced_pass")).map(runOp)
      // Outside the timed window: once the engine handles this batch its
      // time would otherwise read as a slowdown of every pass.
      val edge = Option(plan.get("edge")).map(runOp)
      Option(plan.get("breakdown")).foreach(breakdown)
      val snapshot = checkSnapshot()
      val checks = etlOutputs.map { case (n, (c, q, r)) => n -> checkEtl(c, q, r) }
      val out = Map(
        "setup_s" -> setupS, "register_s" -> registerS, "first" -> first,
        "passes" -> passes, "window_s" -> windowEnd, "reference_pass" -> referencePass,
        "traced_pass" -> tracedPass, "edge" -> edge,
        "spans" -> tracer.map(_.spans.map(_.toMap).toSeq).getOrElse(Nil),
        "snapshot" -> snapshot, "checks" -> checks, "peak_rss_mb" -> peakRssMb())
      spark.stop()
      out
    }
  }
}
