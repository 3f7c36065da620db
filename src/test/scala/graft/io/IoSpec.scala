package graft.io

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.etl.{AdFixture, AdPipeline}

class IoSpec extends SparkSpec {

  test("run-id artifacts: two runs land in distinct, non-overwriting dirs") {
    val base = Files.createTempDirectory("graft-runs").toString
    val landing = Files.createTempDirectory("graft-io-landing").toString
    Files.writeString(Paths.get(landing, "doc1.json"), AdFixture.json)
    val (c1, q1, r1) = AdPipeline.runWithId(
      spark, landing, base, Instant.ofEpochSecond(1720000000L))
    val (c2, q2, r2) = AdPipeline.runWithId(
      spark, landing, base, Instant.ofEpochSecond(1720000061L))
    assert(Set(c1, q1, r1, c2, q2, r2).size === 6)
    assert(c1 === s"$base/curated_20240703_094640")
    assert(c2 === s"$base/curated_20240703_094741")
    assert(spark.read.parquet(c1).count() === spark.read.parquet(c2).count())
    assert(Files.list(Paths.get(r1)).toArray.nonEmpty)
    assert(Files.list(Paths.get(r2)).toArray.nonEmpty)
  }

  test("report CSV and curated ORC round-trip losslessly") {
    val fixture = AdPipeline.fixtureRun(spark)
    // CSV: write the report, read back with the written schema
    val csvDir = Files.createTempDirectory("graft-io-csv").toString + "/report"
    val report = fixture.report
      .selectExpr("ad_id", "ad_link", "is_active", "hours_passed", "media_mix")
    Sinks.reportCsv(report, csvDir)
    val csvBack = Sources.reportCsv(spark, csvDir, report.schema)
    assert(csvBack.count() === report.count())
    assert(csvBack.select("ad_id").collect().map(_.getString(0)).sorted.toSeq ===
      report.select("ad_id").collect().map(_.getString(0)).sorted.toSeq)
    // ORC: same curated frame through the columnar alternative
    val orcDir = Files.createTempDirectory("graft-io-orc").toString + "/curated"
    Sinks.curatedOrc(fixture.curated, orcDir)
    val orcBack = Sources.curatedOrc(spark, orcDir)
    // file formats read back all-nullable — compare names and types
    assert(orcBack.schema.map(f => (f.name, f.dataType)) ===
      fixture.curated.schema.map(f => (f.name, f.dataType)))
    assert(orcBack.count() === fixture.curated.count())
  }

  test("curated read: pinned to the validated schema, a footer of another type fails loudly") {
    import org.apache.spark.sql.functions._
    import graft.etl.AdSchema
    def namesAndTypes(s: org.apache.spark.sql.types.StructType) = s.map(f => (f.name, f.dataType))
    // what the pipeline writes is what the curated read declares
    val dir = Files.createTempDirectory("graft-curated-pin").toString + "/curated"
    Sinks.curatedParquet(AdPipeline.fixtureRun(spark).curated, dir)
    assert(namesAndTypes(spark.read.parquet(dir).schema) === namesAndTypes(AdSchema.validated))
    assert(namesAndTypes(Sources.curatedParquet(spark, dir).schema) ===
      namesAndTypes(AdSchema.validated))
    // a directory whose footer says ad_id is a number: the scan fails
    // instead of reading every ad_id as null
    val bad = Files.createTempDirectory("graft-curated-bad").toString + "/curated"
    Sinks.curatedParquet(spark.read.parquet(dir)
      .withColumn("ad_id", col("ad_id").cast("long")), bad)
    val err = intercept[org.apache.spark.SparkException] {
      Sources.curatedParquet(spark, bad).select("ad_id").collect()
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("ad_id")), err.getMessage)
  }

  test("raw landing sink round-trips through the whole-text source") {
    val landing = Files.createTempDirectory("graft-land-sink").toString + "/raw"
    val docs = Sources.rawAdsFromStrings(spark,
      Seq(("d1", AdFixture.json), ("d2", """[[{"ad_archive_id": "x1"}]]""")))
    Sinks.rawJsonLanding(docs, landing)
    val back = Sources.rawAdsJson(spark, s"$landing/*")
    assert(back.count() === 2)
    val values = back.collect().map(_.getAs[String]("value")).sortBy(_.length)
    assert(values(0).trim === """[[{"ad_archive_id": "x1"}]]""")
    assert(values(1).contains("\"ad_archive_id\": \"1001\""))
    // appending lands more documents without touching earlier ones
    Sinks.rawJsonLanding(
      Sources.rawAdsFromStrings(spark, Seq(("d3", """[[{"ad_archive_id": "x2"}]]"""))),
      landing)
    assert(Sources.rawAdsJson(spark, s"$landing/*").count() === 3)
  }

  test("snapshot table: two successive merges, time travel, and file-level COW") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap").toString + "/orders_t"
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    assert(SnapshotTable.create(base, dir) === 1)

    // merge 1: reprice every 10th key + one insert (q_upsert's change shape)
    val changes1 = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .unionByName {
        import spark.implicits._
        Seq((-1L, 999.0, "X")).toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      }
    assert(SnapshotTable.merge(spark, dir, changes1, "o_orderkey") === 2)

    // merge 2: touch a disjoint key slice
    val changes2 = base.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderstatus", lit("Z"))
    assert(SnapshotTable.merge(spark, dir, changes2, "o_orderkey") === 3)

    // read-back equals the same merges done frame-side
    def applyMerge(t: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) = {
      val keys = c.select("o_orderkey")
      t.join(keys, Seq("o_orderkey"), "left_anti").unionByName(c)
    }
    val expected = applyMerge(applyMerge(base, changes1), changes2)
      .orderBy("o_orderkey").collect()
    val got = SnapshotTable.read(spark, dir).orderBy("o_orderkey").collect()
    assert(got.toSeq === expected.toSeq)

    // time travel: v1 still reads as the original frame
    val v1 = SnapshotTable.read(spark, dir, Some(1)).orderBy("o_orderkey").collect()
    assert(v1.toSeq === base.orderBy("o_orderkey").collect().toSeq)

    // copy-on-write at file granularity: later manifests re-reference
    // earlier files rather than rewriting the table
    val s1 = SnapshotTable.snapshot(spark, dir, Some(1)).files.toSet
    val s2 = SnapshotTable.snapshot(spark, dir, Some(2)).files.toSet
    val s3 = SnapshotTable.snapshot(spark, dir, Some(3)).files.toSet
    assert((s2 -- s1).nonEmpty && (s3 -- s2).nonEmpty, "each merge adds new files")
    assert(SnapshotTable.latestVersion(dir) === 3)
  }

  test("snapshot table: compaction shrinks the file list, expiry prunes history") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-life").toString + "/orders_l"
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    SnapshotTable.create(base.repartition(4), dir) // deliberately small files
    // touch exactly ONE key: three of the four files carry over untouched,
    // so the post-merge manifest holds several small files to compact
    val oneKey = base.agg(min(col("o_orderkey"))).head().getLong(0)
    val changes = base.filter(col("o_orderkey") === oneKey)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    SnapshotTable.merge(spark, dir, changes, "o_orderkey")
    val expected = SnapshotTable.read(spark, dir).orderBy("o_orderkey").collect()

    // compact: fewer files, same rows, old snapshots untouched
    val before = SnapshotTable.snapshot(spark, dir, None).files.size
    val v3 = SnapshotTable.compact(spark, dir)
    assert(v3 === 3)
    val after = SnapshotTable.snapshot(spark, dir, None).files.size
    assert(after < before, s"compaction must shrink the file list ($before -> $after)")
    assert(SnapshotTable.read(spark, dir).orderBy("o_orderkey").collect().toSeq
      === expected.toSeq)
    assert(SnapshotTable.read(spark, dir, Some(1)).count() === base.count())

    // expire to the last 2 snapshots: v1 gone, latest still exact, and no
    // unreferenced data file remains on disk
    SnapshotTable.expire(spark, dir, keepLast = 2)
    intercept[Exception] { SnapshotTable.read(spark, dir, Some(1)).collect() }
    assert(SnapshotTable.read(spark, dir).orderBy("o_orderkey").collect().toSeq
      === expected.toSeq)
    val referenced = (2 to 3)
      .flatMap(v => SnapshotTable.snapshot(spark, dir, Some(v)).files).toSet
    val onDisk = java.nio.file.Files.walk(Paths.get(dir, "data")).iterator()
    val stray = scala.jdk.CollectionConverters.IteratorHasAsScala(onDisk).asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => Paths.get(dir).relativize(p).toString)
      .filterNot(referenced.contains).toSeq
    assert(stray.isEmpty, s"unreferenced files survived expiry: $stray")
  }

  test("curated snapshot sink: re-running the pipeline upserts, never duplicates") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-curated").toString + "/curated_t"
    val curated = AdPipeline.fixtureRun(spark).curated
    assert(Sinks.curatedSnapshot(curated, dir) === 1)
    // a re-collection run with one re-priced ad: merge, don't duplicate
    val recollected = curated.withColumn("ad_text",
      when(col("ad_id") === curated.select("ad_id").orderBy("ad_id").first().getString(0),
        lit("updated text")).otherwise(col("ad_text")))
    assert(Sinks.curatedSnapshot(recollected, dir) === 2)
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() === curated.count(), "merge must not duplicate ads")
    assert(back.filter(col("ad_text") === "updated text").count() === 1)
    // the pre-retry state is still auditable
    assert(SnapshotTable.read(spark, dir, Some(1))
      .filter(col("ad_text") === "updated text").count() === 0)
  }

  test("snapshot table: a crashed commit does not wedge the next one; expire reclaims its debris") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-crash").toString + "/orders_c"
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    SnapshotTable.create(base, dir)
    // simulate a crash between data write and manifest publish: an orphan
    // commit dir exists, no v2 manifest was ever created
    val orphan = Paths.get(dir, "data", "c2_deadbeef")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-dead.snappy.parquet"), "not parquet")
    val changes = base.limit(3).withColumn("o_totalprice", lit(0.0))
    // the retried merge publishes v2 normally (unique commit dirs never
    // collide with debris) and readers never see the orphan
    assert(SnapshotTable.merge(spark, dir, changes, "o_orderkey") === 2)
    assert(SnapshotTable.read(spark, dir)
      .filter(col("o_totalprice") === 0.0).count() === 3)
    // vacuum reclaims the unreferenced debris
    SnapshotTable.expire(spark, dir, keepLast = 1)
    assert(!Files.exists(orphan), "expire must delete crashed-commit debris")
    assert(SnapshotTable.read(spark, dir).count() === base.count())
    // same recovery for a crashed CREATE: orphan data, nothing published yet
    val dir2 = Files.createTempDirectory("graft-snap-crash2").toString + "/orders_c2"
    val orphan1 = Paths.get(dir2, "data", "c1_deadbeef")
    Files.createDirectories(orphan1)
    Files.writeString(orphan1.resolve("part-dead.snappy.parquet"), "not parquet")
    assert(SnapshotTable.create(base, dir2) === 1)
    assert(SnapshotTable.read(spark, dir2).count() === base.count())
    // but a PUBLISHED table refuses a second create
    intercept[IllegalStateException] { SnapshotTable.create(base, dir2) }
  }

  test("snapshot table: optimistic concurrency — two racing writers, one wins, loser retries cleanly") {
    import org.apache.spark.sql.functions._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val dir = Files.createTempDirectory("graft-snap-cas").toString + "/orders_cc"
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    SnapshotTable.create(base, dir)
    val changesA = base.filter(col("o_orderkey") % 100 === 1)
      .withColumn("o_totalprice", lit(111.0))
    val changesB = base.filter(col("o_orderkey") % 100 === 2)
      .withColumn("o_totalprice", lit(222.0))
    // both writers enter merge() together: each reads v1 within
    // milliseconds, then spends seconds in Spark jobs before publishing —
    // so both target v2 and the manifest CAS must pick exactly one
    val gate = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    val futures = Seq(changesA, changesB).map { ch =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Int]] {
        def call(): Either[Throwable, Int] = {
          gate.countDown(); gate.await(10, TimeUnit.SECONDS)
          try Right(SnapshotTable.merge(spark, dir, ch, "o_orderkey"))
          catch { case e: Throwable => Left(e) }
        }
      })
    }
    val results = futures.map(_.get())
    pool.shutdown()
    val (losses, wins) = (results.collect { case Left(e) => e },
      results.collect { case Right(v) => v })
    assert(wins.nonEmpty, "at least one writer must commit")
    info(s"race outcome: ${wins.size} committed, ${losses.size} lost the CAS")
    // if the threads truly raced (the expected case), the loser saw the CAS
    // conflict and left NO partial state; if scheduling serialized them,
    // both committed — either way the history is linear with no lost update
    assert(losses.forall(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"unexpected failure kind: ${losses.map(_.toString).mkString("; ")}")
    assert(wins.sorted === (2 to (1 + wins.size)).toSeq,
      "committed versions must be consecutive")
    val liveDirs = scala.util.Using.resource(Files.list(Paths.get(dir, "data")))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)
    val referenced = (1 to SnapshotTable.latestVersion(dir))
      .flatMap(v => SnapshotTable.snapshot(spark, dir, Some(v)).files)
      .map(_.split('/')(1)).toSet
    assert(liveDirs === referenced,
      "a losing writer must delete its own commit dir (no unreferenced debris)")
    // retry every loser; afterwards BOTH change sets are in the table
    results.zip(Seq(changesA, changesB)).foreach {
      case (Left(_), ch) => SnapshotTable.merge(spark, dir, ch, "o_orderkey"); ()
      case _ => ()
    }
    val back = SnapshotTable.read(spark, dir)
    assert(back.filter(col("o_totalprice") === 111.0).count() > 0)
    assert(back.filter(col("o_totalprice") === 222.0).count() > 0)
    assert(back.count() === base.count(), "no duplicates, no lost rows")
  }

  test("snapshot table: merge rejects duplicate source keys instead of fanning out") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-dup").toString + "/orders_d"
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    SnapshotTable.create(base, dir)
    val v1Rows = SnapshotTable.read(spark, dir).orderBy("o_orderkey").collect().toSeq
    // the check runs inside the rewrite, after the write: a rejected merge
    // leaves no commit directory behind and the table reads as version 1
    def rejected(changes: org.apache.spark.sql.DataFrame, deleteCol: Option[String]): Unit = {
      val err = intercept[IllegalArgumentException] {
        SnapshotTable.merge(spark, dir, changes, "o_orderkey", deleteCol = deleteCol)
      }
      assert(err.getMessage.contains("duplicate key"))
      assert(SnapshotTable.latestVersion(dir) === 1, "failed merge must not publish")
      val commitDirs = Files.list(Paths.get(dir, "data"))
        .iterator().asScala.map(_.getFileName.toString).toSeq
      assert(!commitDirs.exists(_.startsWith("c2_")),
        s"a rejected merge must delete its commit dir: $commitDirs")
      assert(SnapshotTable.read(spark, dir).orderBy("o_orderkey").collect().toSeq === v1Rows)
    }
    val dupChanges = base.limit(2).unionByName(base.limit(1)) // key repeated
    rejected(dupChanges, None)
    // tombstones count as change rows: an update and a delete of one key
    // are two source rows for it
    rejected(base.limit(2).withColumn("__del", lit(false))
      .unionByName(base.limit(1).withColumn("__del", lit(true))), Some("__del"))
  }

  test("snapshot table: clustered compaction makes zone maps disjoint and pruning selective") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-cl").toString + "/orders_c"
    // hash-scattered ingest: every file spans the whole key range, so zone
    // maps exist but prune nothing
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .repartition(6, col("o_orderkey"))
    SnapshotTable.create(base, dir, statsCols = Seq("o_orderkey"))
    val maxKey = base.agg(max("o_orderkey")).head.getLong(0)
    val scattered = SnapshotTable
      .readRange(spark, dir, "o_orderkey", 0.0, maxKey / 16.0)
    assert(scattered.inputFiles.length === 6,
      "scattered layout must match every file — that is the problem clusterBy solves")

    val v = SnapshotTable.compact(spark, dir, minFileBytes = 1L << 30,
      targetPartitions = 6, clusterBy = Seq("o_orderkey"))
    assert(v === 2)
    val snap = SnapshotTable.snapshot(spark, dir, None)
    assert(snap.files.size === 6)
    // zone maps over the cluster key are now pairwise disjoint
    val ranges = snap.files.map(f => snap.stats(f)("o_orderkey")).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"overlapping post-cluster ranges: $ranges")
      case _ =>
    }
    // the same selective range now reads ~one file, and rows are exact
    val pruned = SnapshotTable.readRange(spark, dir, "o_orderkey", 0.0, maxKey / 16.0)
    assert(pruned.inputFiles.length <= 2,
      s"clustered pruning must be selective (read ${pruned.inputFiles.length} of 6)")
    assert(pruned.orderBy("o_orderkey").collect().toSeq ===
      base.filter(col("o_orderkey") <= maxKey / 16.0).orderBy("o_orderkey").collect().toSeq)
    // content identical to pre-compaction across the whole table
    assert(SnapshotTable.read(spark, dir).orderBy("o_orderkey").collect().toSeq
      === base.orderBy("o_orderkey").collect().toSeq)
  }

  test("snapshot table: z-order compaction prunes on BOTH dimensions") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-z").toString + "/events_z"
    // two independent dimensions; hash-scattered ingest so every file
    // spans both full ranges and zone maps prune nothing
    val base = graft.util.Tables.events(spark, sf())
      .select("event_id", "user_id", "value")
      .repartition(8, col("event_id"))
    SnapshotTable.create(base, dir, statsCols = Seq("user_id", "value"))
    // slices chosen selective in ROW MASS (~13% of users; value is
    // right-skewed so [0, 8] is ~5% of rows) — what quantile-rank z
    // normalization keys tiles to
    val uHi = 1.0
    val vHi = 8.0
    assert(SnapshotTable.readBox(spark, dir,
      Seq(("user_id", 0.0, uHi), ("value", 0.0, vHi)))
      .inputFiles.length === 8,
      "scattered layout must match every file — the problem z-order solves")

    val v = SnapshotTable.compact(spark, dir, minFileBytes = 1L << 30,
      targetPartitions = 16, zOrderBy = Seq("user_id", "value"))
    assert(v === 2)
    val snap = SnapshotTable.snapshot(spark, dir, None)
    assert(snap.files.size === 16)
    // a selective slice on EITHER single dimension prunes (≈ sqrt(N)
    // tiles survive), which linear clusterBy can deliver for one key only
    val uOnly = SnapshotTable.readRange(spark, dir, "user_id", 0.0, uHi)
    val vOnly = SnapshotTable.readRange(spark, dir, "value", 0.0, vHi)
    assert(uOnly.inputFiles.length <= 8,
      s"user_id slice read ${uOnly.inputFiles.length} of 16")
    assert(vOnly.inputFiles.length <= 8,
      s"value slice read ${vOnly.inputFiles.length} of 16")
    // the 2-D box prunes multiplicatively and rows stay exact
    val box = SnapshotTable.readBox(spark, dir,
      Seq(("user_id", 0.0, uHi), ("value", 0.0, vHi)))
    assert(box.inputFiles.length <= 5,
      s"2-D box read ${box.inputFiles.length} of 16")
    assert(box.orderBy("event_id").collect().toSeq ===
      base.filter(col("user_id").between(0.0, uHi)
          && col("value").between(0.0, vHi))
        .orderBy("event_id").collect().toSeq)
    assert(SnapshotTable.read(spark, dir).orderBy("event_id").collect().toSeq
      === base.orderBy("event_id").collect().toSeq)
  }

  test("snapshot table: z-order boundaries persist — incremental compactions tile one grid") {
    // VERDICT r11 #4: zValue used to recompute quantile boundaries from
    // each compaction batch, so files from different compactions lived on
    // incomparable z-curves. Boundaries now persist in manifest meta on
    // the first z-compaction and later ones REUSE them — two successive
    // z-compactions over disjoint ingests must (a) carry identical
    // boundary meta, (b) leave the first generation's tiles untouched,
    // and (c) prune a box read to ~the file fraction one full z-compaction
    // of the union achieves.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def mk(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i * 31 % 80, i * 7 % 100))
        .toDF("id", "user_id", "value")
    val ingest1 = mk(0, 60000)
    val ingest2 = mk(60000, 80000)
    val dirInc = Files.createTempDirectory("graft-snap-zstab").toString + "/inc"
    val dirFull = Files.createTempDirectory("graft-snap-zstab").toString + "/full"
    val stats = Seq("user_id", "value")

    SnapshotTable.create(ingest1.repartition(8, col("id")), dirInc, statsCols = stats)
    SnapshotTable.compact(spark, dirInc, minFileBytes = 1L << 30,
      targetPartitions = 8, zOrderBy = Seq("user_id", "value"))
    val snap2 = SnapshotTable.snapshot(spark, dirInc, None)
    val gen1Files = snap2.files.toSet
    val boundsMeta1 = snap2.meta.filter(_._1.startsWith("zorder_bounds_u")) ++
      snap2.meta.filter(_._1.startsWith("zorder_bounds_v")) ++
      snap2.meta.filter(_._1 == "zorder_cols")
    assert(snap2.meta.filter(_._1.startsWith("zorder")).keySet ===
      Set("zorder_cols", "zorder_bounds_user_id", "zorder_bounds_value",
        "zorder_bounds_rows", "zorder_rows_since"),
      s"first z-compaction must persist boundary meta, got ${snap2.meta.keySet}")
    assert(snap2.meta("zorder_bounds_rows") === "60000" &&
      snap2.meta("zorder_rows_since") === "0",
      "staleness accounting starts at (fit mass, 0)")

    // 8 files of ~2500 rows: decisively under gen1's ~7500-row tiles — a
    // 4-file split left only ~1% of byte margin, which parquet encoding
    // variation across hosts (source-slice boundaries follow core count)
    // could flip
    SnapshotTable.merge(spark, dirInc, ingest2.repartition(8, col("id")), "id")
    // dynamic size threshold: rewrite only the merge's (smaller) files
    val gen1Min = gen1Files.map(f =>
      java.nio.file.Files.size(java.nio.file.Paths.get(dirInc, f))).min
    val gen2Max = (SnapshotTable.snapshot(spark, dirInc, None).files.toSet -- gen1Files)
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(dirInc, f))).max
    assert(gen2Max < gen1Min, "fixture: ingest2 files must undercut gen1 tiles")
    SnapshotTable.compact(spark, dirInc, minFileBytes = gen1Min,
      targetPartitions = 4, zOrderBy = Seq("user_id", "value"))
    val snap4 = SnapshotTable.snapshot(spark, dirInc, None)
    assert(gen1Files.subsetOf(snap4.files.toSet),
      "incremental z-compaction must not rewrite the first generation")
    assert(snap4.files.size === 12)
    assert(snap4.meta.filter(k => k._1.startsWith("zorder_bounds_u") ||
        k._1.startsWith("zorder_bounds_v") || k._1 == "zorder_cols")
      === boundsMeta1,
      "second z-compaction must REUSE the persisted boundaries")
    assert(snap4.meta("zorder_bounds_rows") === "60000" &&
      snap4.meta("zorder_rows_since") === "20000",
      "reuse must accumulate the rewritten mass into zorder_rows_since")

    // comparator: the union compacted once, same total tile count
    SnapshotTable.create(
      ingest1.unionAll(ingest2).repartition(8, col("id")), dirFull, statsCols = stats)
    SnapshotTable.compact(spark, dirFull, minFileBytes = 1L << 30,
      targetPartitions = 12, zOrderBy = Seq("user_id", "value"))

    val box = Seq(("user_id", 0.0, 9.0), ("value", 0.0, 12.0))
    val keptInc = SnapshotTable.readBox(spark, dirInc, box).inputFiles.length
    val keptFull = SnapshotTable.readBox(spark, dirFull, box).inputFiles.length
    assert(keptFull <= 4, s"full z-compaction must prune: $keptFull of 12")
    // each generation tiles the SAME grid but at its own granularity (an
    // 8-tile and a 4-tile z-range partition vs the comparator's single
    // 12-tile one), so the box may straddle one boundary tile per
    // generation — fraction parity, not file-count equality, is the pin
    assert(keptInc <= keptFull + 2 && keptInc <= 5,
      s"incremental compactions on one grid must prune like a full one: " +
        s"$keptInc vs $keptFull of 12")
    // rows stay exact through the incremental layout
    assert(SnapshotTable.readBox(spark, dirInc, box)
      .orderBy("id").collect().toSeq ===
      ingest1.unionAll(ingest2)
        .filter(col("user_id").between(0, 9) && col("value").between(0, 12))
        .orderBy("id").collect().toSeq)
  }

  test("snapshot table: stale z-order boundaries refit once growth passes 4x") {
    // ADVICE r12: bounds fit on the first batch were reused FOREVER; a
    // drifted distribution then degrades rank normalization with no
    // recompute trigger. The manifest now tracks the fit mass and the
    // mass rewritten since; a compaction whose cumulative mass pushes the
    // table past zBoundsGrowth (4x) the fit mass refits from its own
    // batch and resets the accounting. Drift here: ingest1 covers
    // value in [0,100), the big follow-up covers [1000,1100) — reused
    // bounds would rank every new row into the top bucket.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap-zstale").toString + "/t"
    def mk(lo: Long, hi: Long, base: Long) =
      (lo until hi).map(i => (i, i * 31 % 80, base + i * 7 % 100))
        .toDF("id", "user_id", "value")
    SnapshotTable.create(mk(0, 10000, 0).repartition(4, col("id")), dir,
      statsCols = Seq("user_id", "value"))
    SnapshotTable.compact(spark, dir, minFileBytes = 1L << 30,
      targetPartitions = 4, zOrderBy = Seq("user_id", "value"))
    val fit1 = SnapshotTable.snapshot(spark, dir, None)
    assert(fit1.meta("zorder_bounds_rows") === "10000")
    val bounds1 = fit1.meta("zorder_bounds_value")
    // 40000 drifted rows: 10000 (since) + 40000 > 3 * 10000 -> refit
    SnapshotTable.merge(spark, dir,
      mk(10000, 50000, 1000).repartition(32, col("id")), "id")
    val gen1Min = fit1.files.map(f =>
      java.nio.file.Files.size(java.nio.file.Paths.get(dir, f))).min
    val gen2Max = (SnapshotTable.snapshot(spark, dir, None).files.toSet --
      fit1.files.toSet).map(f =>
      java.nio.file.Files.size(java.nio.file.Paths.get(dir, f))).max
    assert(gen2Max < gen1Min, "fixture: drifted files must undercut gen1 tiles")
    SnapshotTable.compact(spark, dir, minFileBytes = gen1Min,
      targetPartitions = 8, zOrderBy = Seq("user_id", "value"))
    val fit2 = SnapshotTable.snapshot(spark, dir, None)
    assert(fit2.meta("zorder_bounds_rows") === "40000" &&
      fit2.meta("zorder_rows_since") === "0",
      s"drifted growth past 4x must refit: ${fit2.meta.filter(_._1.startsWith("zorder"))}")
    assert(fit2.meta("zorder_bounds_value") !== bounds1,
      "refit bounds must reflect the drifted batch, not the stale grid")
    // rows stay exact through the refit layout
    assert(SnapshotTable.read(spark, dir).count() === 50000)
  }

  test("snapshot table: z-order on a non-numeric column fails loudly") {
    // REGRESSION (ADVICE r11): a string zOrderBy column casts to all-NULL
    // doubles, approxQuantile returns no boundaries, and the dimension
    // silently contributed nothing — compact succeeded but the promised
    // pruning never materialized. Must throw instead.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap-zbad").toString + "/t"
    SnapshotTable.create(
      (1L to 100L).map(i => (i, s"k$i", i * 3 % 17)).toDF("id", "name", "v")
        .repartition(4), dir, statsCols = Seq("id", "v"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, dir, minFileBytes = 1L << 30,
        targetPartitions = 4, zOrderBy = Seq("id", "name"))
    }
    assert(e.getMessage.contains("name"))
  }

  test("snapshot table: partitioned layout prunes and survives merges") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-part").toString + "/orders_p"
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    SnapshotTable.create(base, dir, partitionBy = Seq("o_orderstatus"))
    val changes = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    SnapshotTable.merge(spark, dir, changes, "o_orderkey")
    val back = SnapshotTable.read(spark, dir)
    assert(back.columns.sorted.toSeq === base.columns.sorted.toSeq)
    assert(back.count() === base.count())
    // a partition-column filter prunes to that partition's files
    val plan = back.filter(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      "partition pruning must reach the scan")
    val doubled = back.filter(col("o_orderkey") % 7 === 0)
      .agg(sum("o_totalprice")).head.getDouble(0)
    val orig = base.filter(col("o_orderkey") % 7 === 0)
      .agg(sum(col("o_totalprice") * 2)).head.getDouble(0)
    assert(math.abs(doubled - orig) < 1e-6)
    // REGRESSION: a NARROW merge leaves untouched files in the old commit
    // dir, so the snapshot spans multiple commit dirs — Spark's partition
    // discovery refuses partition dirs under different roots unless each
    // commit reads with its own basePath (the first merge above touched
    // every file, which is why it never caught this)
    val oneKey = base.orderBy("o_orderkey").limit(1)
      .withColumn("o_totalprice", lit(999999.0))
    SnapshotTable.merge(spark, dir, oneKey, "o_orderkey")
    val v3 = SnapshotTable.read(spark, dir)
    assert(v3.count() === base.count(), "multi-commit partitioned read broke")
    assert(v3.filter(col("o_totalprice") === 999999.0).count() === 1)
  }

  test("snapshot table: zone maps skip files on range scans, survive merges") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-zm").toString + "/orders_z"
    // range-cluster on the stats column so each file covers a distinct key
    // span — the layout a time/id-ordered ingest produces naturally
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .repartitionByRange(8, col("o_orderkey"))
    SnapshotTable.create(base, dir, statsCols = Seq("o_orderkey", "o_totalprice"))
    val total = SnapshotTable.snapshot(spark, dir, None).files.size
    assert(total === 8)

    val maxKey = base.agg(max("o_orderkey")).head.getLong(0)
    val lo = 0.0
    val hi = maxKey / 16.0 // well inside the first range file
    val pruned = SnapshotTable.readRange(spark, dir, "o_orderkey", lo, hi)
    assert(pruned.inputFiles.length < total,
      s"zone maps must skip files (read ${pruned.inputFiles.length} of $total)")
    val expected = SnapshotTable.read(spark, dir)
      .filter(col("o_orderkey").between(lo, hi)).orderBy("o_orderkey").collect()
    assert(pruned.orderBy("o_orderkey").collect().toSeq === expected.toSeq)

    // merge touching only the TOP key span: the other range files carry
    // their maps by reference, the new commit gets fresh ones, and the
    // pruned scan still matches the full scan
    val changes = base.filter(col("o_orderkey") > maxKey - maxKey / 16)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    SnapshotTable.merge(spark, dir, changes, "o_orderkey")
    val snap2 = SnapshotTable.snapshot(spark, dir, None)
    assert(snap2.statsCols === Seq("o_orderkey", "o_totalprice"))
    assert(snap2.files.forall(f => snap2.stats.contains(f)),
      "every live file needs zone maps after a merge")
    val pruned2 = SnapshotTable.readRange(spark, dir, "o_orderkey", lo, hi)
    val expected2 = SnapshotTable.read(spark, dir)
      .filter(col("o_orderkey").between(lo, hi)).orderBy("o_orderkey").collect()
    assert(pruned2.orderBy("o_orderkey").collect().toSeq === expected2.toSeq)
    assert(pruned2.inputFiles.length < snap2.files.size)

    // unknown column is an error, not a silent full scan
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.readRange(spark, dir, "nope", 0, 1)
    }
    assert(err.getMessage.contains("zone maps"))
  }

  test("snapshot table: string zone maps round-trip and prune tuple reads; multibyte keys prune too") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap-str").toString + "/t"
    // 8 files clustered by a string category: each file covers ~1 category
    val base = (0L until 800L).map(i => (i, f"cat${i % 8}%02d", i % 5))
      .toDF("id", "cat", "grp")
    SnapshotTable.create(base.repartition(4, col("id")), dir,
      statsCols = Seq("cat", "grp"))
    SnapshotTable.compact(spark, dir, minFileBytes = 1L << 30,
      targetPartitions = 8, clusterBy = Seq("cat"))
    val snap = SnapshotTable.snapshot(spark, dir, None)
    assert(snap.files.forall(f => snap.strStats.get(f).exists(_.contains("cat"))),
      "every clustered file needs a string zone map for cat")
    assert(snap.files.forall(f => snap.stats.get(f).exists(_.contains("grp"))),
      "numeric zone maps must coexist with string ones")
    val probe = SnapshotTable.readTuples(spark, dir,
      Seq("cat", "grp"), Seq(Seq("cat03", 2L)))
    assert(probe.inputFiles.length <= 2,
      s"string-keyed tuple read must prune: ${probe.inputFiles.length} of 8")
    assert(probe.count() ===
      base.filter(col("cat") === "cat03" && col("grp") === 2).count())
    // two tuples in different files: both files read, both row sets exact
    val probe2 = SnapshotTable.readTuples(spark, dir,
      Seq("cat"), Seq(Seq("cat00"), Seq("cat07")))
    assert(probe2.count() === 200L)
    // a merge carries string stats forward by reference and refreshes the
    // rewritten file's map
    SnapshotTable.merge(spark, dir,
      Seq((3L, "cat03", 9L)).toDF("id", "cat", "grp"), "id")
    val snap2 = SnapshotTable.snapshot(spark, dir, None)
    assert(snap2.files.forall(f => snap2.strStats.get(f).exists(_.contains("cat"))),
      "string zone maps must survive merges")

    // multibyte keys prune EXACTLY like ASCII ones (r13 verdict #8): the
    // reader compares UTF-8 bytes unsigned — UTF8String's own order, the
    // order the stats were aggregated under. The planted categories are
    // chosen so JVM UTF-16 order DISAGREES with UTF-8 order: U+FFFF is a
    // single code unit above the surrogate range, so "￿zz" > "😀zz"
    // under String.compareTo but < under UTF-8 bytes (EF BF BF < F0 9F 98
    // 80) — a compareTo-based pruner would mis-bracket and drop rows.
    val dir2 = Files.createTempDirectory("graft-snap-nonascii").toString + "/t"
    val cats = Seq("aaa", "ønß", "日本語", "￿zz", "😀zz")
    val odd = (0L until 500L).map(i => (i, cats((i % 5).toInt)))
      .toDF("id", "cat")
    SnapshotTable.create(odd.repartition(4, col("id")), dir2, statsCols = Seq("cat"))
    SnapshotTable.compact(spark, dir2, minFileBytes = 1L << 30,
      targetPartitions = 5, clusterBy = Seq("cat"))
    val snapM = SnapshotTable.snapshot(spark, dir2, None)
    for (c <- cats) {
      val one = SnapshotTable.readTuples(spark, dir2, Seq("cat"), Seq(Seq(c)))
      assert(one.inputFiles.length < snapM.files.size,
        s"multibyte key '$c' must prune (read ${one.inputFiles.length} of ${snapM.files.size})")
      assert(one.count() === 100L, s"multibyte key '$c' must return exact rows")
    }

    // lossy-passage guard (r14 advice #1): U+FFFD marks a possible
    // invalid-UTF-8 substitution and an unpaired surrogate re-encodes as
    // '?' — either could REORDER a bound against true UTF8String byte
    // order, so such bounds/probes never prune. Rows must come back
    // exactly; the conservative cost is reading the untrusted file.
    val dir3 = Files.createTempDirectory("graft-snap-fffd").toString + "/t"
    val cats3 = Seq("aaa", "b�b", "zzz")
    val lossy = (0L until 300L).map(i => (i, cats3((i % 3).toInt)))
      .toDF("id", "cat")
    SnapshotTable.create(lossy.repartition(4, col("id")), dir3, statsCols = Seq("cat"))
    SnapshotTable.compact(spark, dir3, minFileBytes = 1L << 30,
      targetPartitions = 3, clusterBy = Seq("cat"))
    val snap3 = SnapshotTable.snapshot(spark, dir3, None)
    // a U+FFFD-keyed probe never silently loses rows
    val fffd = SnapshotTable.readTuples(spark, dir3, Seq("cat"), Seq(Seq("b�b")))
    assert(fffd.count() === 100L, "U+FFFD key must return exact rows")
    // a clean probe still prunes the clean non-matching file, but must
    // KEEP the file whose bounds carry U+FFFD (untrusted bounds are read)
    val clean = SnapshotTable.readTuples(spark, dir3, Seq("cat"), Seq(Seq("aaa")))
    assert(clean.count() === 100L)
    assert(clean.inputFiles.length === 2 && snap3.files.size === 3,
      s"clean probe must prune only trusted bounds (read ${clean.inputFiles.length} of ${snap3.files.size})")
    // an ill-formed probe (unpaired surrogate) disables pruning entirely
    val surro = SnapshotTable.readTuples(spark, dir3, Seq("cat"), Seq(Seq("\uD800x")))
    assert(surro.inputFiles.length === snap3.files.size,
      "an unpaired-surrogate probe must not prune any file")
    assert(surro.count() === 0L)
  }

  test("snapshot table: merge evolves the schema; old files read the new column as null") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-evo").toString + "/orders_e"
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey"))
    SnapshotTable.create(base, dir)
    val maxKey = base.agg(max("o_orderkey")).head.getLong(0)

    // changes touch only the top key span AND add a discount column
    val changes = base.filter(col("o_orderkey") > maxKey - maxKey / 8)
      .withColumn("discount_pct", (col("o_orderkey") % 10).cast("double"))
    SnapshotTable.merge(spark, dir, changes, "o_orderkey")

    val back = SnapshotTable.read(spark, dir)
    assert(back.columns.toSeq === Seq("o_orderkey", "o_totalprice", "discount_pct"))
    assert(back.count() === base.count())
    // untouched rows: new column is null; touched rows carry the value
    val untouchedNulls = back.filter(col("o_orderkey") <= maxKey - maxKey / 8)
    assert(untouchedNulls.filter(col("discount_pct").isNotNull).count() === 0)
    val touched = back.filter(col("o_orderkey") > maxKey - maxKey / 8)
    assert(touched.filter(col("discount_pct").isNull).count() === 0)
    assert(touched.filter(col("discount_pct") =!= col("o_orderkey") % 10).count() === 0)

    // a merge missing an existing column is rejected (INSERT-ALL contract)
    val bad = changes.drop("o_totalprice")
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, dir, bad, "o_orderkey")
    }
    assert(err.getMessage.contains("missing table columns"))

    // time travel reads v1 with the ORIGINAL two-column schema
    assert(SnapshotTable.read(spark, dir, Some(1)).columns.toSeq ===
      Seq("o_orderkey", "o_totalprice"))

    // compaction under the evolved schema keeps the new column's values
    SnapshotTable.compact(spark, dir, minFileBytes = Long.MaxValue, targetPartitions = 1)
    val compacted = SnapshotTable.read(spark, dir)
    assert(compacted.columns.toSeq === Seq("o_orderkey", "o_totalprice", "discount_pct"))
    assert(compacted.filter(col("discount_pct").isNotNull).count() === touched.count())
  }

  test("snapshot table: a second merge after evolution reads pre-evolution files correctly") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-evo2").toString + "/orders_e2"
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey"))
    SnapshotTable.create(base, dir)
    val maxKey = base.agg(max("o_orderkey")).head.getLong(0)

    // merge 1 evolves the schema, touching only the TOP key span — the
    // bottom-span files stay pre-evolution (no discount_pct in the parquet)
    val evo = base.filter(col("o_orderkey") > maxKey - maxKey / 8)
      .withColumn("discount_pct", (col("o_orderkey") % 10).cast("double"))
    SnapshotTable.merge(spark, dir, evo, "o_orderkey")

    // merge 2 touches ONLY pre-evolution files; newCols is empty, so an
    // unschema'd touched-file read would miss discount_pct and throw
    // UNRESOLVED_COLUMN (or, mixed, silently null it on carried-over rows)
    val lowKeys = base.filter(col("o_orderkey") < maxKey / 8)
    val upd2 = lowKeys
      .withColumn("o_totalprice", col("o_totalprice") + 5.0)
      .withColumn("discount_pct", lit(null).cast("double"))
    SnapshotTable.merge(spark, dir, upd2, "o_orderkey")

    val back = SnapshotTable.read(spark, dir)
    assert(back.columns.toSeq === Seq("o_orderkey", "o_totalprice", "discount_pct"))
    assert(back.count() === base.count())
    // evolved values from merge 1 survive merge 2 untouched
    assert(back.filter(col("o_orderkey") > maxKey - maxKey / 8)
      .filter(col("discount_pct").isNull).count() === 0)
    // merge-2 rows took the +5 update
    val expect5 = lowKeys.select(col("o_orderkey"), (col("o_totalprice") + 5.0).as("p"))
    val got5 = back.filter(col("o_orderkey") < maxKey / 8)
      .select(col("o_orderkey"), col("o_totalprice").as("p"))
    assert(got5.except(expect5).count() === 0 && expect5.except(got5).count() === 0)

    // and a merge-2 variant touching a MIXED old/new file set also keeps
    // the evolved column on carried-over unmatched rows
    val mixed = base.filter(col("o_orderkey") < maxKey / 8
        || col("o_orderkey") > maxKey - maxKey / 16)
      .withColumn("o_totalprice", col("o_totalprice") + 7.0)
      .withColumn("discount_pct", lit(null).cast("double"))
    SnapshotTable.merge(spark, dir, mixed, "o_orderkey")
    val back2 = SnapshotTable.read(spark, dir)
    // unmatched evolved rows (between the two touched spans' keys in the
    // same top file) must NOT lose their discount values
    val carried = back2.filter(col("o_orderkey") > maxKey - maxKey / 8
      && col("o_orderkey") <= maxKey - maxKey / 16)
    assert(carried.count() > 0 && carried.filter(col("discount_pct").isNull).count() === 0,
      "carried-over unmatched rows lost the evolved column")
  }

  test("snapshot table: NaN stats never prune a file that holds in-range rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap-nan").toString + "/m"
    // file 1: clean range; file 2 contains a NaN — Spark's max() reports
    // NaN for it, which an unguarded keep-predicate would treat as
    // out-of-range and silently skip
    val df = Seq(
      (1L, 10.0), (2L, 20.0),
      (3L, 5.0), (4L, Double.NaN),
    ).toDF("id", "v").repartitionByRange(2, col("id"))
    SnapshotTable.create(df, dir, statsCols = Seq("v"))
    val snap = SnapshotTable.snapshot(spark, dir, None)
    // the NaN file records NO range for v (conservative: always scanned)
    assert(snap.files.exists(f => !snap.stats.get(f).exists(_.contains("v"))),
      "file containing NaN must not record a v range")
    // row (3, 5.0) lives in the NaN file; the range scan must still see it
    val got = SnapshotTable.readRange(spark, dir, "v", 0.0, 6.0)
      .select("id").as[Long].collect().toSet
    assert(got === Set(3L))
    // manifest JSON stays parseable (no bare NaN/Infinity tokens)
    assert(snap.files.nonEmpty && SnapshotTable.read(spark, dir).count() === 4)
  }

  test("snapshot table: merge with tombstones deletes matched rows, time travel keeps them") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap-del").toString + "/orders_d"
    val base = graft.util.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey"))
    SnapshotTable.create(base, dir)
    val v1Files = SnapshotTable.snapshot(spark, dir, None).files.toSet
    val maxKey = base.agg(max("o_orderkey")).head.getLong(0)

    // one change set carrying all three clauses: an update, an insert, and
    // two deletes (one matched, one absent — the absent one is a no-op)
    val firstKey = base.agg(min("o_orderkey")).head.getLong(0)
    val changes = Seq(
      (firstKey, 999.0, false),          // UPDATE
      (maxKey + 1000L, 1.0, false),      // INSERT (new key)
      (maxKey, 0.0, true),               // DELETE (matched)
      (maxKey + 2000L, 0.0, true),       // DELETE (absent -> no-op)
    ).toDF("o_orderkey", "o_totalprice", "__del")
    SnapshotTable.merge(spark, dir, changes, "o_orderkey", deleteCol = Some("__del"))

    val back = SnapshotTable.read(spark, dir)
    assert(!back.columns.contains("__del"), "tombstone flag must not land in the table")
    assert(back.count() === base.count()) // -1 delete +1 insert
    assert(back.filter(col("o_orderkey") === maxKey).count() === 0, "deleted row visible")
    assert(back.filter(col("o_orderkey") === maxKey + 1000L).count() === 1)
    assert(back.filter(col("o_orderkey") === firstKey)
      .head.getDouble(1) === 999.0)

    // untouched files carried by reference
    val v2 = SnapshotTable.snapshot(spark, dir, None)
    assert(v2.files.toSet.intersect(v1Files).nonEmpty,
      "merge with deletes must not rewrite untouched files")
    // time travel sees the pre-delete state
    val v1 = SnapshotTable.read(spark, dir, Some(1))
    assert(v1.filter(col("o_orderkey") === maxKey).count() === 1)
    assert(v1.count() === base.count())
  }
}
