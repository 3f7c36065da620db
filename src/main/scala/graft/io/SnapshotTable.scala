package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal snapshot/manifest table format with copy-on-write MERGE — the
  * Delta-style half of BASELINE.json's "Parquet/Delta output", built on
  * nothing but parquet files and a JSON log (no external jars).
  *
  * Layout:
  * {{{
  *   <dir>/data/c<version>/part-*.parquet   immutable; one subdir per commit
  *   <dir>/_graft_log/v<version>.json       manifest: the file list of that snapshot
  *   <dir>/_graft_log/_latest               current-version pointer (atomic rename)
  * }}}
  *
  * Why this scales: a snapshot is a FILE LIST, so readers never list the
  * data tree (object-store listing is the classic small-file killer), old
  * versions stay readable until a vacuum (time travel), and MERGE is
  * copy-on-write at file granularity — untouched files carry over into the
  * new manifest by reference; only files that actually contain matched keys
  * are rewritten, so merge cost is O(touched files + changes), not O(table).
  * Manifests also carry per-file ZONE MAPS (min/max of declared numeric
  * columns), so a range scan skips whole files from the manifest alone
  * ([[readRange]]) before parquet row-group pruning ever opens one.
  *
  * MULTI-WRITER commits use optimistic concurrency, the Delta paper's log
  * protocol on a filesystem with atomic create:
  *  - each commit attempt writes its data under a UNIQUE directory
  *    (`data/c<version>_<nonce>`), so concurrent attempts never collide at
  *    the data layer and a crashed attempt can never wedge a retry;
  *  - the COMMIT POINT is creating `v<version>.json` with CREATE_NEW —
  *    atomic on POSIX and on object stores with if-none-match. Exactly one
  *    same-version writer wins; the loser deletes its own data directory
  *    and throws [[java.util.ConcurrentModificationException]], and a
  *    retry re-reads the table (seeing the winner) and targets the next
  *    version — serializable version history, no lost updates;
  *  - readers resolve the current version by taking the MAX manifest in
  *    the log dir (the `_latest` pointer is maintained as a debugging hint,
  *    but last-rename-wins ordering between two winners could point it
  *    backwards, so it is never trusted);
  *  - debris of crashed attempts (data written, manifest never created) is
  *    invisible to every reader and reclaimed by [[expire]], which deletes
  *    any data file no retained manifest references (run vacuum only when
  *    no writer can be mid-commit — the same retention contract as Delta's
  *    VACUUM).
  */
object SnapshotTable {

  /** `stats`: zone maps — per data file, per stats column, the (min, max)
    * of the column's non-null values, absent when the file holds only
    * nulls for it or predates stats collection (readers must then scan the
    * file). Numeric columns: doubles order-embed every numeric type
    * the driver tables use, and a min/max pair survives JSON round-trips
    * exactly (IEEE doubles ↔ shortest repr). STRING stats columns land in
    * `strStats` instead — raw (min, max) strings under Spark's binary
    * UTF8 ordering; readers prune by re-encoding bound and probe to UTF-8
    * and comparing bytes unsigned (exactly UTF8String's order), so
    * multibyte keys prune like ASCII ones. JVM String compareTo would NOT
    * be correct here: UTF-16 code-unit order diverges from UTF-8 byte
    * order on supplementary characters (surrogates sort below U+E000).
    */
  /** `schemaDdl`: the table schema AT THIS VERSION, held in the manifest so
    * readers never merge parquet footers (the footer-merge a schema-on-read
    * union needs is O(files) metadata reads — a manifest format holds the
    * schema once). Columns added by a later merge read as null from files
    * written before them, which is exactly parquet's missing-column
    * behavior under an explicit schema.
    */
  /** `meta`: small writer-owned key/value pairs carried on the manifest —
    * e.g. the streaming CDC sink records the last applied foreachBatch id
    * here so a post-crash replay of an already-merged micro-batch is
    * detected and skipped (exactly-once table versions, the Delta
    * txn-version idea). Unset keys carry over from the previous snapshot.
    */
  final case class Snapshot(
      version: Int,
      files: Seq[String],
      statsCols: Seq[String] = Nil,
      stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
      schemaDdl: Option[String] = None,
      meta: Map[String, String] = Map.empty,
      strStats: Map[String, Map[String, (String, String)]] = Map.empty)

  private def logDir(dir: String): Path = Paths.get(dir, "_graft_log")
  private def manifestPath(dir: String, v: Int): Path = logDir(dir).resolve(f"v$v%08d.json")

  // ------------------------------------------------------------- manifests

  /** A commit attempt's unique data directory (relative to the table root).
    * The nonce makes concurrent same-version attempts and crash-retries
    * collision-free at the data layer; the manifest CAS picks the winner.
    */
  private def newCommitDir(version: Int): String =
    s"data/c${version}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Relative data-file paths of one commit attempt's directory (recursive —
    * a partitioned commit nests partition dirs).
    */
  private def listCommitFiles(dir: String, commitDir: String): Seq[String] = {
    val root = Paths.get(dir)
    Using.resource(Files.walk(root.resolve(commitDir))) { s =>
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString)
        .toSeq.sorted
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p)) { s =>
        s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.delete)
      }

  private def writeManifest(dir: String, snap: Snapshot): Unit = {
    Files.createDirectories(logDir(dir))
    // paths are spark-generated (part-<uuid>.snappy.parquet [+ ASCII
    // partition dirs]) — JSON-escape anyway so a hostile partition value
    // cannot corrupt the log
    def esc(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // doubles serialize via Java's shortest round-trip repr, so min/max
    // survive the JSON hop bit-exactly
    val statsJson = snap.stats.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"""{"file":${esc(f)},"col":${esc(c)},"mn":$mn,"mx":$mx}"""
      }
    }.mkString(",")
    val strStatsJson =
      if (snap.strStats.isEmpty) ""
      else snap.strStats.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          s"""{"file":${esc(f)},"col":${esc(c)},"smn":${esc(mn)},"smx":${esc(mx)}}"""
        }
      }.mkString(""","strStats":[""", ",", "]")
    val schemaJson = snap.schemaDdl.map(d => s""","schemaDdl":${esc(d)}""").getOrElse("")
    val metaJson =
      if (snap.meta.isEmpty) ""
      else snap.meta.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${esc(k)}:${esc(v)}" }
        .mkString(""","meta":{""", ",", "}")
    val json =
      s"""{"version":${snap.version},"files":[${snap.files.map(esc).mkString(",")}],""" +
        s""""statsCols":[${snap.statsCols.map(esc).mkString(",")}],"stats":[$statsJson]""" +
        strStatsJson + schemaJson + metaJson + "}"
    // THE commit point: atomic create of this version's manifest. Exactly
    // one same-version writer can succeed; a concurrent loser surfaces as
    // FileAlreadyExistsException (translated by publish()).
    Files.write(manifestPath(dir, snap.version), json.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    // _latest is a best-effort debugging hint only (see object doc): with
    // two racing winners the last rename could point backwards, so readers
    // never trust it
    val tmp = logDir(dir).resolve(s"_latest.tmp${snap.version}")
    Files.write(tmp, snap.version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, logDir(dir).resolve("_latest"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish a snapshot whose data lives under `commitDir`; on a lost CAS
    * race, delete this attempt's data and throw — the caller re-reads the
    * table and retries at the next version.
    */
  private def publish(dir: String, snap: Snapshot, commitDir: String): Unit =
    try writeManifest(dir, snap)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        deleteTree(Paths.get(dir).resolve(commitDir))
        throw new java.util.ConcurrentModificationException(
          s"version ${snap.version} of $dir was committed by another writer; " +
            "re-read the table and retry")
    }

  /** Current version = max manifest in the log dir. O(retained versions)
    * names, no file reads — and immune to the _latest pointer's
    * last-rename-wins hazard under concurrent winners.
    */
  def latestVersion(dir: String): Int = {
    val max = Using.resource(Files.list(logDir(dir))) { s =>
      s.iterator().asScala.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v") && n.endsWith(".json"))
          n.stripPrefix("v").stripSuffix(".json").toIntOption
        else None
      }.foldLeft(0)(math.max)
    }
    if (max == 0)
      throw new IllegalStateException(s"no published snapshot at $dir")
    max
  }

  /** True once any version has been published (the multi-writer-safe
    * replacement for probing the _latest hint).
    */
  def exists(dir: String): Boolean =
    Files.isDirectory(logDir(dir)) && {
      Using.resource(Files.list(logDir(dir))) { s =>
        s.iterator().asScala.exists { p =>
          val n = p.getFileName.toString
          n.startsWith("v") && n.endsWith(".json")
        }
      }
    }

  /** The manifest of `version` (latest by default), parsed on the driver:
    * a manifest is one small JSON object, so reading it costs a file read,
    * never a Spark job. `spark` is unused; the signature matches the other
    * table entry points.
    */
  def snapshot(spark: SparkSession, dir: String, version: Option[Int] = None): Snapshot =
    parseManifest(Files.readAllBytes(
      manifestPath(dir, version.getOrElse(latestVersion(dir)))))

  private val mapper = new ObjectMapper()

  /** Parses exactly what [[writeManifest]] emits. Keys a manifest omits
    * read as empty: pre-stats manifests carry no `statsCols`/`stats`, and
    * `strStats`, `schemaDdl` and `meta` are written only when set.
    */
  private[io] def parseManifest(json: Array[Byte]): Snapshot = {
    val root = mapper.readTree(json)
    def elems(name: String): Seq[JsonNode] =
      Option(root.get(name)).filterNot(_.isNull).toSeq.flatMap(_.elements().asScala)
    def perFile[V](name: String)(value: JsonNode => V): Map[String, Map[String, V]] =
      elems(name).groupBy(_.get("file").asText()).map { case (f, es) =>
        f -> es.map(e => e.get("col").asText() -> value(e)).toMap
      }
    Snapshot(
      root.get("version").asInt(),
      elems("files").map(_.asText()),
      elems("statsCols").map(_.asText()),
      perFile("stats")(e => (e.get("mn").asDouble(), e.get("mx").asDouble())),
      Option(root.get("schemaDdl")).filterNot(_.isNull).map(_.asText()),
      Option(root.get("meta")).filterNot(_.isNull).toSeq
        .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue.asText())).toMap,
      perFile("strStats")(e => (e.get("smn").asText(), e.get("smx").asText())))
  }

  /** Per-file (min, max) zone maps for `statsCols` over the given relative
    * files — one grouped aggregation over JUST those files (a fresh commit,
    * never the whole table). Parquet footers already hold these numbers;
    * reading them via the scan keeps the implementation engine-level and
    * costs one pass over data that is hot in the page cache from the write.
    * Files where a column is entirely null get no entry (conservative:
    * readers scan them).
    */
  private def computeStats(
      spark: SparkSession, dir: String, relFiles: Seq[String],
      statsCols: Seq[String]): (Map[String, Map[String, (Double, Double)]],
      Map[String, Map[String, (String, String)]]) = {
    if (statsCols.isEmpty || relFiles.isEmpty) return (Map.empty, Map.empty)
    val absToRel = relFiles.map(f =>
      Paths.get(s"$dir/$f").toAbsolutePath.normalize.toString -> f).toMap
    val df0 = spark.read.option("basePath", dir)
      .parquet(relFiles.map(f => s"$dir/$f"): _*)
    // string stats columns get RAW min/max (Spark's UTF8 binary order —
    // readers compare probes under the same UTF8 byte order); everything
    // else keeps the numeric double embedding. A stats column absent from
    // this commit's schema (pre-evolution files) records nothing.
    val present = statsCols.filter(df0.columns.contains)
    val strCols = present.filter(c => df0.schema(c).dataType == StringType)
    val numCols = present.filterNot(strCols.contains)
    if (present.isEmpty) return (Map.empty, Map.empty)
    val aggs = numCols.flatMap(c => Seq(
      min(col(c).cast(DoubleType)).as(s"mn_$c"),
      max(col(c).cast(DoubleType)).as(s"mx_$c"))) ++
      strCols.flatMap(c => Seq(
        min(col(c)).as(s"smn_$c"),
        max(col(c)).as(s"smx_$c")))
    val rows = df0
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .flatMap { r =>
        val abs = Paths.get(new java.net.URI(r.getString(0)).getPath).toString
        absToRel.get(abs).map(rel => rel -> r)
      }
    val num = rows.map { case (rel, r) =>
      rel -> numCols.flatMap { c =>
        val mn = r.getAs[Any](s"mn_$c")
        val mx = r.getAs[Any](s"mx_$c")
        if (mn == null || mx == null) None
        else {
          val (mnd, mxd) = (mn.asInstanceOf[Double], mx.asInstanceOf[Double])
          // a NaN in the file makes Spark's max report NaN (NaN sorts
          // largest), which would wrongly fail every range check — and
          // NaN/±Infinity don't survive the JSON manifest as standard
          // tokens. Record no range: the reader scans the file, which
          // is always correct.
          if (mnd.isNaN || mxd.isNaN || mnd.isInfinite || mxd.isInfinite) None
          else Some(c -> (mnd, mxd))
        }
      }.toMap
    }.toMap
    val str = rows.map { case (rel, r) =>
      rel -> strCols.flatMap { c =>
        val mn = r.getAs[String](s"smn_$c")
        val mx = r.getAs[String](s"smx_$c")
        if (mn == null || mx == null) None else Some(c -> (mn, mx))
      }.toMap
    }.toMap
    (num, str.filter(_._2.nonEmpty))
  }

  // ----------------------------------------------------------- read / write

  /** Read a snapshot (latest by default, or time-travel to `version`).
    * basePath keeps partition-directory columns recoverable when the
    * table was created with `partitionBy`.
    */
  /** Manifest-file read that survives PARTITIONED multi-commit snapshots:
    * Spark's partition discovery refuses partition directories under
    * DIFFERENT non-partition parents — after one merge, each commit
    * directory becomes its own "suspicious root" even with a table-level
    * basePath, and the read throws CONFLICTING_DIRECTORY_STRUCTURES. So:
    * group the manifest's file list by commit directory, read each group
    * with ITS commit dir as basePath (a single consistent root per
    * group), and union by name. Unpartitioned tables take the same path
    * (basePath is then irrelevant) and schema'd groups union in manifest
    * column order. The manifest-held schema keeps its role: columns a
    * later merge added read as null from older files, zero footer reads.
    */
  private def readFiles(spark: SparkSession, dir: String, files: Seq[String],
      schemaDdl: Option[String]): DataFrame = {
    require(files.nonEmpty, "readFiles needs at least one manifest file")
    val groups = files.groupBy(_.split('/').take(2).mkString("/"))
      .toSeq.sortBy(_._1)
    groups.map { case (cdir, fs) =>
      val base = spark.read.option("basePath", s"$dir/$cdir")
      schemaDdl.map(d => base.schema(StructType.fromDDL(d))).getOrElse(base)
        .parquet(fs.map(f => s"$dir/$f"): _*)
    }.reduce(_ unionByName _)
  }

  def read(spark: SparkSession, dir: String, version: Option[Int] = None): DataFrame = {
    val snap = snapshot(spark, dir, version)
    readFiles(spark, dir, snap.files, snap.schemaDdl)
  }

  /** Create version 1 from `df`, optionally partitioned by a
    * low-cardinality column (partition pruning applies to every snapshot
    * read through `basePath`).
    */
  def create(df: DataFrame, dir: String, partitionBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, meta: Map[String, String] = Map.empty): Int = {
    if (exists(dir))
      throw new IllegalStateException(
        s"snapshot table already exists at $dir (latest=v${latestVersion(dir)})")
    val commitDir = newCommitDir(1)
    val w = df.write.mode("errorifexists")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$dir/$commitDir")
    val files = listCommitFiles(dir, commitDir)
    val (numStats, strStats) = computeStats(df.sparkSession, dir, files, statsCols)
    publish(dir, Snapshot(1, files, statsCols, numStats,
      Some(df.schema.toDDL), meta, strStats), commitDir)
    1
  }

  /** Copy-on-write MERGE (WHEN MATCHED THEN UPDATE ALL / WHEN MATCHED AND
    * tombstone THEN DELETE / WHEN NOT MATCHED THEN INSERT ALL — row-wins,
    * same upsert semantics as q_upsert's oracle):
    *
    *  1. locate the files that contain a matched key (input_file_name semi
    *     join against the broadcast change keys — reads only the key column),
    *  2. rewrite JUST those files' rows merged with the changes (plus all
    *     inserts, minus all tombstoned matches) into a new commit directory,
    *  3. publish a manifest = untouched files (by reference) + new files.
    *
    * The only driver-side materialization is the touched-FILE list — file
    * names, not rows, exactly what any manifest-based format holds on the
    * driver.
    *
    * `deleteCol`: name of a boolean column on `changes` marking tombstones —
    * a matched tombstone key's row is dropped from the rewritten files; an
    * unmatched tombstone is a no-op (delete of an absent key). The column is
    * control metadata, never written to the table; tombstone rows may carry
    * nulls in every non-key column. Old snapshots still see the deleted rows
    * (time travel), and [[expire]] is what eventually reclaims them.
    *
    * `meta`: key/values stamped onto the new manifest, overlaid on the
    * previous snapshot's meta (see [[Snapshot.meta]]).
    *
    * PRECONDITION: `changes` must be unique on `key` (SQL MERGE's
    * "multiple source rows matched" error), and the table stays unique on
    * `key` as long as `create` was fed unique keys: the full-outer join
    * fans out on duplicates, silently multiplying rows otherwise. The check
    * rides on the rewrite itself: the join already partitions the change
    * side on the key, so a per-key row count there is observed by the
    * write's own job. On a duplicate the merge deletes its unpublished
    * commit directory and throws before [[publish]], the commit point, so
    * no reader ever sees it.
    */
  def merge(spark: SparkSession, dir: String, changes: DataFrame, key: String,
      deleteCol: Option[String] = None,
      meta: Map[String, String] = Map.empty): Int = {
    val prev = snapshot(spark, dir, None)
    deleteCol.foreach { dc =>
      require(changes.columns.contains(dc), s"deleteCol '$dc' not in changes")
      require(changes.schema(dc).dataType == BooleanType,
        s"deleteCol '$dc' must be boolean, got ${changes.schema(dc).dataType}")
    }
    val current = readFiles(spark, dir, prev.files, prev.schemaDdl)
    // the tombstone flag is control metadata, excluded from every schema
    // computation below
    val payloadCols = changes.columns.toSeq.diff(deleteCol.toSeq)
    // schema evolution: the changes may carry columns the table does not
    // have yet (they must still carry EVERY existing column — SQL MERGE's
    // INSERT-ALL contract). New columns land in the rewritten/new files and
    // in the manifest schema; untouched files simply read them as null.
    val newCols = payloadCols.diff(current.columns.toSeq)
    val missing = current.columns.toSeq.diff(payloadCols)
    require(missing.isEmpty,
      s"merge changes are missing table columns: ${missing.mkString(", ")}")

    // touched files: a semi join never fans out, so each task's distinct
    // file names union on the driver — the scan and the key broadcast, no
    // shuffle. URI-decode input_file_name so it compares equal to the
    // manifest paths.
    val touchedAbs = current
      .select(col(key), input_file_name().as("__file"))
      .join(broadcast(changes.select(col(key))), Seq(key), "left_semi")
      .select("__file").as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect()
      .map(f => Paths.get(new java.net.URI(f).getPath).toString)
      .toSet
    val touchedRel = prev.files.filter(f => touchedAbs.contains(
      Paths.get(s"$dir/$f").toAbsolutePath.normalize.toString))
    val untouchedRel = prev.files.diff(touchedRel)

    val cols = current.columns.toSeq ++ newCols
    val withNewCols: DataFrame => DataFrame = df =>
      newCols.foldLeft(df)((acc, c) =>
        acc.withColumn(c, lit(null).cast(changes.schema(c).dataType)))
    // manifest schema on the touched-file read, exactly as read/compact/
    // readRange do: after a schema-evolving merge, a touched pre-evolution
    // file doesn't carry the evolved column — an unschema'd read would
    // throw UNRESOLVED_COLUMN when every touched file is old, or silently
    // drop the column from carried-over unmatched rows on a mixed set
    // (readFiles: touched files may span commit dirs on a partitioned table)
    val touchedRows =
      if (touchedRel.isEmpty) withNewCols(current).limit(0)
      else withNewCols(readFiles(spark, dir, touchedRel, prev.schemaDdl))
        .select(cols.map(col): _*)
    // row-wins full-outer merge: a matched key takes the change row whole
    // (a legitimate NULL in a change column stays NULL — no column-level
    // coalesce resurrection); tombstoned keys drop out entirely
    val t = touchedRows.select(struct(cols.map(col): _*).as("t")).withColumn("k", col(s"t.$key"))
    val del = deleteCol.map(dc => coalesce(col(dc), lit(false))).getOrElse(lit(false))
    // rows per key on the change side, counted inside the join's own key
    // partitioning: a duplicate caught here costs an error, caught
    // downstream a corrupt table. Every change row survives the full-outer
    // join, so the maximum is observed on the joined frame — a frame of
    // the session that runs the write, which is the session whose
    // listeners deliver the observation (`changes` may come from another,
    // e.g. a streaming micro-batch's)
    val dups = Observation()
    val c = changes.select(struct(cols.map(col): _*).as("c"), del.as("__del"))
      .withColumn("k", col(s"c.$key"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("k")))
    val merged = t.join(c, Seq("k"), "full_outer")
      .observe(dups, max(col("__n")).as("n"), max_by(col("k"), col("__n")).as("k"))
      .filter(coalesce(col("__del"), lit(false)) === false)
      .select(when(col("c").isNotNull, col("c")).otherwise(col("t")).as("r"))
      .select("r.*")

    val next = prev.version + 1
    val commitDir = newCommitDir(next)
    val partCols = partitionColumnsOf(dir, prev)
    val w = merged.write.mode("errorifexists")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(s"$dir/$commitDir")
    val observed = dups.get
    if (observed.get("n").exists(n => n != null && n.asInstanceOf[Long] > 1)) {
      deleteTree(Paths.get(dir).resolve(commitDir))
      throw new IllegalArgumentException(
        s"merge changes carry duplicate key '$key' = ${observed("k")}: " +
          "MERGE requires a unique source key (multiple source rows matched)")
    }
    // untouched files keep their zone maps by reference; only the fresh
    // commit's files get a stats pass — same O(touched) cost shape as the
    // data rewrite itself
    val newFiles = listCommitFiles(dir, commitDir)
    val (numStats, strStats) = computeStats(spark, dir, newFiles, prev.statsCols)
    publish(dir, Snapshot(next, (untouchedRel ++ newFiles).sorted, prev.statsCols,
      prev.stats.view.filterKeys(untouchedRel.contains).toMap ++ numStats,
      Some(merged.schema.toDDL),
      prev.meta ++ meta,
      prev.strStats.view.filterKeys(untouchedRel.contains).toMap ++ strStats),
      commitDir)
    next
  }

  /** Small-file compaction — the maintenance commit that keeps a
    * frequently-merged table scannable: every merge adds a commit
    * directory, and at scale thousands of small files dominate scan
    * planning and open() overhead. Files at or above `minFileBytes` carry
    * into the new manifest BY REFERENCE (compaction must not rewrite the
    * healthy bulk of the table); the small ones are read once and
    * rewritten as `targetPartitions` files. Readers of old snapshots are
    * unaffected (nothing is deleted — that's [[expire]]'s job).
    */
  /** Rewrite small files into `targetPartitions` larger ones. With
    * `clusterBy` set, the rewrite additionally SORTS the data by those
    * columns across the output files (a range repartition, so file k's key
    * range sits entirely below file k+1's): after a clustered compaction
    * the zone maps over the cluster key become disjoint, and a selective
    * [[readRange]] prunes to ~one file instead of matching every file's
    * full-span range — the lakehouse "cluster on write" maintenance step
    * that makes manifest-level skipping actually selective on a key the
    * ingest order scattered.
    *
    * With `zOrderBy` set (exclusive with `clusterBy`), the rewrite orders
    * by an interleaved-bit z-curve key over those columns instead: linear
    * clustering makes ONE key's zone maps disjoint and leaves every other
    * predicate scanning all files, while the z-curve maps each output file
    * to a hyper-rectangle-ish tile of the k-dimensional space, so a
    * selective predicate on ANY of the z columns (or a box over several —
    * [[readBox]]) prunes to ~N^((k-1)/k) of the files. This is the Delta
    * OPTIMIZE ZORDER trade: per-dimension pruning weakens from ~1 file to
    * a root, in exchange for every queried dimension getting it at once.
    */
  def compact(
      spark: SparkSession, dir: String,
      minFileBytes: Long = 8L * 1024 * 1024,
      targetPartitions: Int = 1,
      clusterBy: Seq[String] = Nil,
      zOrderBy: Seq[String] = Nil): Int = {
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are exclusive layouts")
    val prev = snapshot(spark, dir, None)
    val (big, small) = prev.files.partition(f =>
      Files.size(Paths.get(dir, f)) >= minFileBytes)
    if (small.size <= 1) return prev.version // nothing worth rewriting
    val next = prev.version + 1
    val commitDir = newCommitDir(next)
    // manifest schema, not the files' own: post-evolution commits disagree
    // on columns, and an unschema'd multi-file read silently drops the new
    // ones
    val rows = readFiles(spark, dir, small, prev.schemaDdl)
    var zMeta = Map.empty[String, String]
    val arranged =
      if (zOrderBy.nonEmpty) {
        // z-curve layout: range-partition on the interleaved-bit key, so
        // each output file covers one contiguous z-range ≈ one hyper-tile
        // — every zOrderBy column's zone maps become selective AT ONCE.
        // Bucket boundaries PERSIST in manifest meta on the first
        // z-compaction and are REUSED by later ones (same column set), so
        // files from successive incremental compactions tile the SAME
        // z-grid — comparable curves, stable selectivity — and every
        // compaction after the first skips the approxQuantile pass.
        requireZOrderable(rows, zOrderBy)
        // Staleness guard on the persisted grid: bounds computed from one
        // batch degrade if the distribution drifts, so the meta records
        // the row mass the bounds were fit on plus the mass rewritten
        // since; once the since-mass exceeds (zBoundsGrowth-1)× the fit
        // mass, the NEXT compaction refits from its own batch. Old files
        // keep their tiles (zone maps store real column ranges, so mixed
        // grids still prune); the refit just restores rank-normalization
        // selectivity for new data. Performance-only either way.
        val batchRows = rows.count()
        val fitRows = prev.meta.get(zRowsKey).map(_.toLong).getOrElse(0L)
        val sinceRows = prev.meta.get(zSinceKey).map(_.toLong).getOrElse(0L)
        val stale = sinceRows + batchRows > (zBoundsGrowth - 1) * fitRows
        val persisted = if (stale) None else persistedZBounds(prev, zOrderBy)
        val bounds = persisted.getOrElse(computeZBounds(rows, zOrderBy))
        zMeta = Map(zColsKey -> zOrderBy.mkString(","),
          zRowsKey -> (if (persisted.isEmpty) batchRows else fitRows).toString,
          zSinceKey -> (if (persisted.isEmpty) 0L
                        else sinceRows + batchRows).toString) ++
          zOrderBy.map(c => zBoundsKey(c) -> bounds(c).mkString(","))
        rows.withColumn("__z", zValueFromBounds(rows, zOrderBy, bounds))
          .repartitionByRange(targetPartitions, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
      } else if (clusterBy.nonEmpty)
        // range-partition + intra-partition sort: global order across files
        rows.repartitionByRange(targetPartitions, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else rows.coalesce(targetPartitions)
    val partCols = partitionColumnsOf(dir, prev)
    val w = arranged.write.mode("errorifexists")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(s"$dir/$commitDir")
    val newFiles = listCommitFiles(dir, commitDir)
    val (numStats, strStats) = computeStats(spark, dir, newFiles, prev.statsCols)
    publish(dir, Snapshot(next, (big ++ newFiles).sorted, prev.statsCols,
      prev.stats.view.filterKeys(big.contains).toMap ++ numStats,
      prev.schemaDdl, prev.meta ++ zMeta,
      prev.strStats.view.filterKeys(big.contains).toMap ++ strStats), commitDir)
    next
  }

  private val zColsKey = "zorder_cols"
  private val zRowsKey = "zorder_bounds_rows" // row mass the bounds were fit on
  private val zSinceKey = "zorder_rows_since" // mass rewritten since the fit
  // refit the grid once total mass passes this multiple of the fit mass
  private val zBoundsGrowth = 4L
  private def zBoundsKey(c: String): String = s"zorder_bounds_$c"

  /** Boundaries persisted by a previous z-compaction over the SAME column
    * set, or None (first z-compaction, or the layout request changed —
    * a new column set gets fresh boundaries and overwrites the meta).
    */
  private def persistedZBounds(prev: Snapshot,
      cols: Seq[String]): Option[Map[String, Seq[Double]]] =
    if (!prev.meta.get(zColsKey).contains(cols.mkString(","))) None
    else {
      val per = cols.map(c => c -> prev.meta.get(zBoundsKey(c)))
      if (per.exists(_._2.isEmpty)) None
      else Some(per.map { case (c, s) =>
        c -> s.get.split(',').iterator.filter(_.nonEmpty)
          .map(_.toDouble).toSeq
      }.toMap)
    }

  /** Interleaved-bit z-curve key over `cols` for the rewrite batch: each
    * column is QUANTILE-RANK normalized to an 8-bit bucket (one
    * approxQuantile pass over the batch computes all columns' 255
    * boundaries together; the GK sketch is mergeable, so the pass is a
    * normal distributed agg), then the bucket bits are interleaved
    * column-major so close z-values are close in every dimension.
    * Quantile rank, not min-max: z-tiles are cut by ROW MASS (range
    * partition on z), so a skewed dimension under min-max binning would
    * crowd most rows into a few low buckets and its selective predicates
    * would stop pruning — rank normalization makes every dimension
    * uniform by construction, the same reason Delta's OPTIMIZE ZORDER
    * range-partitions per column first. Bucket lookup is a 255-element
    * boundary count per row, costed only by this maintenance rewrite.
    * Nulls rank 0 (first tile), constant columns contribute nothing.
    */
  private val zBits = 8 // k*bits <= 56: z fits a signed Long

  /** Per-column distinct quantile boundaries for the z-curve bucketing:
    * one approxQuantile pass over the batch computes all columns' 255
    * boundaries together (the GK sketch is mergeable, so the pass is a
    * normal distributed agg). Run once per table layout — later
    * compactions reuse the persisted result ([[persistedZBounds]]).
    */
  private def computeZBounds(df: DataFrame,
      cols: Seq[String]): Map[String, Seq[Double]] = {
    val nb = (1 << zBits) - 1
    val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
    val casted = cols.foldLeft(df)((d, c) =>
      d.withColumn(s"__zq_$c", col(c).cast(DoubleType)))
    val bounds = casted.stat.approxQuantile(
      cols.map(c => s"__zq_$c").toArray, probs, 0.01)
    cols.zip(bounds.map(_.distinct.sorted.toSeq)).toMap
  }

  /** Interleaved-bit z-curve key over `cols`: each column is
    * QUANTILE-RANK normalized to an 8-bit bucket against `bounds`, then
    * the bucket bits are interleaved column-major so close z-values are
    * close in every dimension. Quantile rank, not min-max: z-tiles are
    * cut by ROW MASS (range partition on z), so a skewed dimension under
    * min-max binning would crowd most rows into a few low buckets and its
    * selective predicates would stop pruning — rank normalization makes
    * every dimension uniform by construction, the same reason Delta's
    * OPTIMIZE ZORDER range-partitions per column first. Bucket lookup is
    * a 255-element boundary count per row, costed only by this
    * maintenance rewrite. Nulls rank 0 (first tile), constant columns
    * contribute nothing.
    */
  /** Fail loudly on a non-numeric z column BEFORE any pass runs: its cast
    * to double would be all-NULL (or, under ANSI, a mid-job cast error),
    * approxQuantile would return no boundaries, and the dimension would
    * silently contribute nothing to the layout — the caller asked for
    * pruning it would never get.
    */
  private def requireZOrderable(df: DataFrame, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.size <= 7,
      s"zOrderBy supports 1..7 columns, got ${cols.size}")
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[NumericType] || dt == TimestampType ||
        dt == BooleanType,
        s"zOrderBy column '$c' has non-orderable-numeric type " +
          s"${dt.simpleString}; z-ordering needs a numeric/timestamp/" +
          "boolean column (hash a string key to a numeric surrogate first)")
    }
  }

  private def zValueFromBounds(df: DataFrame, cols: Seq[String],
      bounds: Map[String, Seq[Double]]): Column = {
    val k = cols.size
    val buckets = cols.map { c =>
      val uniq = bounds(c)
      if (uniq.isEmpty) lit(0L) // all-null column
      else {
        // rank = #boundaries <= x; null compares null -> kept out -> 0.
        // A low-cardinality column yields few distinct boundaries, so the
        // rank is RESCALED onto the full bit range — otherwise its high
        // bits would sit constant at zero and the dimension would drop
        // out of the interleave's leading (tile-cutting) bits.
        val rank = size(filter(typedLit(uniq),
          b => b <= col(c).cast(DoubleType))).cast(LongType)
        floor(rank * lit(((1 << zBits) - 1).toDouble) / lit(uniq.size.toDouble))
          .cast(LongType)
      }
    }
    (0 until zBits).flatMap(j => buckets.zipWithIndex.map { case (b, i) =>
      shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * k + i)
    }).reduce(_ bitwiseOR _)
  }

  /** Change feed between two committed versions, at the table's
    * copy-on-write FILE granularity: rows in files the target manifest
    * gained read as `_change_type = 'insert'`, rows in files it dropped as
    * `'delete'`. A MERGE that rewrites a file re-emits its unchanged rows
    * on both sides — exact per-row diffs would need row tracking — but the
    * (delete, insert) pair CANCELS under any additive aggregate, which is
    * precisely what incremental view maintenance consumes
    * ([[IncrementalView]]); Delta/Iceberg CDF make the same file-granular
    * trade for rewrites without deletion vectors. Versions need not be
    * adjacent: the file-set diff is cumulative, and a file both added and
    * removed inside the range correctly vanishes from both sides.
    */
  def changesBetween(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val from = snapshot(spark, dir, Some(fromVersion))
    val to = snapshot(spark, dir, Some(toVersion))
    def tagged(files: Seq[String], ddl: Option[String], tag: String) =
      if (files.isEmpty) None
      else Some(readFiles(spark, dir, files, ddl).withColumn("_change_type", lit(tag)))
    val parts = tagged(to.files.diff(from.files), to.schemaDdl, "insert").toSeq ++
      tagged(from.files.diff(to.files), from.schemaDdl, "delete").toSeq
    if (parts.isEmpty)
      read(spark, dir, Some(toVersion)).limit(0).withColumn("_change_type", lit("insert"))
    // allowMissingColumns: a feed spanning a schema-evolving merge reads
    // the delete side with the PRE-evolution schema — the evolved column
    // must union in as null (parquet missing-column semantics), not throw
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The pruned-read frame shared by the zone-map scans: the snapshot at
    * `version`, required to carry zone maps for every `columns` entry,
    * read over the files `keep` admits. When it admits none, the read
    * still takes its schema from the manifest's files, at zero rows.
    */
  private def prunedRead(spark: SparkSession, dir: String, version: Option[Int],
      columns: Seq[String])(keep: (Snapshot, String) => Boolean): DataFrame = {
    val snap = snapshot(spark, dir, version)
    columns.foreach(c => require(snap.statsCols.contains(c),
      s"no zone maps for column '$c' (statsCols=${snap.statsCols.mkString(",")})"))
    val kept = snap.files.filter(keep(snap, _))
    if (kept.isEmpty) readFiles(spark, dir, snap.files, snap.schemaDdl).limit(0)
    else readFiles(spark, dir, kept, snap.schemaDdl)
  }

  /** File `f`'s [min, max] for `column`, or None where the zone map cannot
    * prune: no recorded range, or a NaN bound. NaN guard: a NaN bound
    * (manifest written before computeStats filtered them, or a corrupted
    * entry) must read as "can't prune", never "skip" — NaN comparisons are
    * all-false, which without this guard would silently drop a file
    * holding matching rows.
    */
  private def zone(snap: Snapshot, f: String, column: String): Option[(Double, Double)] =
    snap.stats.get(f).flatMap(_.get(column)).filterNot { case (mn, mx) => mn.isNaN || mx.isNaN }

  /** Zone-map-pruned range scan: read only the files whose [min, max] for
    * `column` intersects [lower, upper], with the exact filter re-applied
    * on top (pruning is an optimization, never a semantics change). Files
    * without a recorded range are read — conservative for pre-stats
    * commits and all-null files. This is the manifest-level skip that
    * turns a selective range query over a sorted-ish 100 TB table into a
    * few file reads, BEFORE parquet's own row-group pruning sees anything.
    */
  def readRange(spark: SparkSession, dir: String, column: String,
      lower: Double, upper: Double, version: Option[Int] = None): DataFrame =
    prunedRead(spark, dir, version, Seq(column)) { (snap, f) =>
      zone(snap, f, column).forall { case (mn, mx) => mx >= lower && mn <= upper }
    }.filter(col(column).cast(DoubleType).between(lower, upper))

  /** Zone-map-pruned POINT-SET scan: rows whose `column` equals one of
    * `values`, reading only files whose [min, max] brackets at least one
    * value — the serving read for "recompute just these keys" maintenance
    * ([[IncrementalView]] extremum ties) on a table clustered by that
    * key, where the tied keys' rows live in a handful of files. Same
    * conservatism as [[readRange]]: files without a recorded range (or a
    * NaN bound) are read, and the exact membership filter is re-applied.
    * NOTE: NULL never matches (SQL IN semantics) — and a file's zone map
    * says nothing about the nulls it holds — so null-group lookups must
    * take a full read instead.
    */
  def readPoints(spark: SparkSession, dir: String, column: String,
      values: Seq[Double], version: Option[Int] = None): DataFrame = {
    val sorted = values.distinct.sorted.toArray
    def anyIn(mn: Double, mx: Double): Boolean = {
      val i = java.util.Arrays.binarySearch(sorted, mn)
      val idx = if (i >= 0) i else -i - 1
      idx < sorted.length && sorted(idx) <= mx
    }
    prunedRead(spark, dir, version, Seq(column)) { (snap, f) =>
      zone(snap, f, column).forall { case (mn, mx) => anyIn(mn, mx) }
    }.filter(col(column).cast(DoubleType).isin(values: _*))
  }

  /** COMPOSITE typed point-set scan — the multi-column/string-key
    * generalization of [[readPoints]] (r12 verdict #7): rows whose key
    * TUPLE over `columns` equals one of `tuples`, reading only files
    * whose zone maps can bracket at least one tuple on EVERY column.
    * Numeric columns prune on the double zone maps; string columns on the
    * raw-string `strStats` maps, compared as UNSIGNED UTF-8 BYTES — the
    * exact order the stats were aggregated under (UTF8String's), so
    * multibyte keys prune identically to ASCII ones (r13 verdict #8; JVM
    * String order would misorder supplementary chars). A column with no
    * recorded range, a NaN bound, or an unsupported value type never
    * prunes. The exact membership filter (typed struct IN) is re-applied
    * on top, so pruning is an optimization, never a semantics change.
    * NULLs never match (SQL IN semantics) — null-keyed lookups must take
    * a full read, as in [[readPoints]].
    */
  def readTuples(spark: SparkSession, dir: String, columns: Seq[String],
      tuples: Seq[Seq[Any]], version: Option[Int] = None): DataFrame = {
    require(columns.nonEmpty, "readTuples needs at least one key column")
    require(tuples.forall(_.size == columns.size),
      s"every tuple must have ${columns.size} values")
    // UTF8String's binary order: unsigned comparison of the UTF-8 bytes.
    // (UTF-8 sorts by code point, so this also equals code-point order —
    // but NOT java.lang.String order, which compares UTF-16 code units.)
    def utf8Cmp(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
    // The recorded bounds round-trip through Java String + JSON, and the
    // probe arrives as a Java String: invalid UTF-8 in the data surfaces
    // as U+FFFD after decode, and an unpaired surrogate in either side
    // re-encodes as '?' in getBytes — both substitutions can REORDER a
    // bound against the true UTF8String byte order and wrongly prune a
    // file (silent row loss: the re-applied exact filter only corrects
    // over-inclusion). Such strings are rare and mark lossy passage, so
    // the conservative answer is to not prune on them (r14 advice #1).
    def utf8Faithful(s: String): Boolean = {
      var i = 0
      while (i < s.length) {
        val ch = s.charAt(i)
        if (ch == '\uFFFD') return false
        if (Character.isHighSurrogate(ch)) {
          if (i + 1 >= s.length || !Character.isLowSurrogate(s.charAt(i + 1)))
            return false
          i += 2
        } else if (Character.isLowSurrogate(ch)) return false
        else i += 1
      }
      true
    }
    def fits(snap: Snapshot, f: String, c: String, v: Any): Boolean = v match {
      case n: java.lang.Number =>
        val d = n.doubleValue()
        zone(snap, f, c).forall { case (mn, mx) => d >= mn && d <= mx }
      case s: String =>
        snap.strStats.get(f).flatMap(_.get(c)) match {
          case Some((mn, mx)) =>
            if (!utf8Faithful(s) || !utf8Faithful(mn) || !utf8Faithful(mx)) true
            else utf8Cmp(s, mn) >= 0 && utf8Cmp(s, mx) <= 0
          case None => true
        }
      case _ => true
    }
    // cheap per-column necessary condition first (any value fits), then the
    // exact per-tuple conjunction only for files that survive it — keeps
    // the driver-side loop O(files · columns) on the common clustered case
    val df = prunedRead(spark, dir, version, columns) { (snap, f) =>
      columns.indices.forall(i => tuples.exists(t => fits(snap, f, columns(i), t(i)))) &&
        tuples.exists(t => columns.indices.forall(i => fits(snap, f, columns(i), t(i))))
    }
    val key = struct(columns.map(col): _*)
    // literal struct fields are NAMED after the key columns: IN requires
    // operand struct types to match field-for-field, names included
    val lits = tuples.map(t =>
      struct(t.zip(columns).map { case (v, c) => lit(v).as(c) }: _*))
    if (tuples.isEmpty) df.limit(0) else df.filter(key.isin(lits: _*))
  }

  /** Multi-dimensional zone-map-pruned scan: keep only files whose
    * [min, max] intersects EVERY bound — the serving read for a
    * z-ordered table ([[compact]] with `zOrderBy`), where each file is a
    * z-tile and a k-dimensional box predicate rules out every tile that
    * misses it on any axis. Same conservatism as [[readRange]]: a file
    * with no recorded range (or a NaN bound) is read, and the exact
    * filter is re-applied on top.
    */
  def readBox(spark: SparkSession, dir: String,
      bounds: Seq[(String, Double, Double)],
      version: Option[Int] = None): DataFrame = {
    require(bounds.nonEmpty, "readBox needs at least one (column, lo, hi)")
    val df = prunedRead(spark, dir, version, bounds.map(_._1)) { (snap, f) =>
      bounds.forall { case (c, lo, hi) =>
        zone(snap, f, c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    }
    bounds.foldLeft(df) { case (d, (c, lo, hi)) =>
      d.filter(col(c).cast(DoubleType).between(lo, hi))
    }
  }

  /** Snapshot expiry (vacuum): keep the newest `keepLast` manifests, drop
    * older ones, and delete every data file no retained manifest
    * references. Time travel to an expired version stops working — the
    * documented retention trade every snapshot format makes; run it when
    * the reprocessing window has safely passed.
    */
  def expire(spark: SparkSession, dir: String, keepLast: Int = 2): Unit = {
    require(keepLast >= 1, "must retain at least the latest snapshot")
    val latest = latestVersion(dir)
    val keep = ((latest - keepLast + 1) max 1) to latest
    val referenced = keep.flatMap(v => snapshot(spark, dir, Some(v)).files).toSet
    val root = Paths.get(dir)
    // delete unreferenced data files, then any emptied commit dirs
    Using.resource(Files.walk(root.resolve("data"))) { s =>
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filter(p => !referenced.contains(root.relativize(p).toString))
        .toSeq // materialize before deleting — walk streams the live tree
    }.foreach(Files.delete)
    Using.resource(Files.walk(root.resolve("data")))(
      _.iterator().asScala.toSeq).filter(Files.isDirectory(_))
      .sortBy(-_.getNameCount)
      .foreach { d =>
        val empty = Using.resource(Files.list(d))(!_.iterator().hasNext)
        if (empty && d != root.resolve("data")) Files.delete(d)
      }
    (1 until keep.head).foreach { v =>
      Files.deleteIfExists(manifestPath(dir, v)); ()
    }
  }

  /** Partition columns are encoded in the data paths (dir=value segments)
    * — recover them from the manifest instead of carrying extra metadata.
    */
  private def partitionColumnsOf(dir: String, snap: Snapshot): Seq[String] =
    snap.files.headOption.toSeq.flatMap { f =>
      f.split('/').drop(2).dropRight(1).toSeq // data/cN/<part dirs...>/file
        .flatMap(seg => seg.split('=') match {
          case Array(name, _) => Some(name)
          case _ => None
        })
    }
}
