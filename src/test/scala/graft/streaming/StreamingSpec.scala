package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.etl.{AdFixture, AdPipeline}
import graft.io.Sources

/** Pins the streaming surface with file-source micro-batches and compares
  * against the batch twins (the same events through the batch plans).
  */
class StreamingSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Two JSON-lines event files — arriving as separate listing entries. */
  private def landEvents(dir: String): Unit = {
    Files.writeString(Paths.get(dir, "batch1.json"),
      """{"event_id":1,"ts":"2024-06-01T10:05:00","user_id":1,"event_type":"click","value":1.0,"props":"{}"}
        |{"event_id":2,"ts":"2024-06-01T10:20:00","user_id":1,"event_type":"click","value":2.0,"props":"{}"}
        |{"event_id":3,"ts":"2024-06-01T11:15:00","user_id":2,"event_type":"view","value":3.0,"props":"{}"}
        |""".stripMargin)
    Files.writeString(Paths.get(dir, "batch2.json"),
      """{"event_id":4,"ts":"2024-06-01T11:40:00","user_id":1,"event_type":"click","value":4.0,"props":"{}"}
        |{"event_id":2,"ts":"2024-06-01T10:20:00","user_id":1,"event_type":"click","value":2.0,"props":"{}"}
        |""".stripMargin)
  }

  test("hourly tumbling aggregation matches the batch twin") {
    val dir = tmpDir("graft-stream-events")
    landEvents(dir)
    val out = Streaming.hourlyCounts(Streaming.readEvents(spark, dir))
    val q = out.writeStream.format("memory").queryName("hourly")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("hourly")
      .select("hour_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // 5 events incl. a duplicate event_id=2 (dedup is a separate operator —
    // the aggregation counts arrivals, like the batch plan over stored rows).
    assert(got === Set(
      ("2024-06-01 10:00:00.0", "click", 3L, 5.0),
      ("2024-06-01 11:00:00.0", "view", 1L, 3.0),
      ("2024-06-01 11:00:00.0", "click", 1L, 4.0),
    ))
  }

  test("session windows split on the 30-minute gap") {
    val dir = tmpDir("graft-stream-sess")
    landEvents(dir)
    // Session windows emit in APPEND mode only when the watermark passes the
    // session end: use a zero-delay watermark, force one file per
    // micro-batch in mod-time order, and land a next-day sentinel whose
    // batch advances the watermark past every real session.
    Files.writeString(Paths.get(dir, "batch3.json"),
      """{"event_id":99,"ts":"2024-06-02T09:00:00","user_id":9,"event_type":"view","value":0.0,"props":"{}"}
        |""".stripMargin)
    Seq("batch1.json", "batch2.json", "batch3.json").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    val events = Streaming.readEvents(spark, dir, Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.sessionize(events, watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sessions")
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
    // user 1: events at 10:05, 10:20, 10:20 (dup id, still an arrival) then a
    // >30 min gap to 11:40 → two sessions; user 2: one session. The sentinel
    // session is still open when the stream drains, so it does not emit.
    assert(got === Set(
      (1L, "2024-06-01 10:05:00.0", 3L),
      (1L, "2024-06-01 11:40:00.0", 1L),
      (2L, "2024-06-01 11:15:00.0", 1L),
    ))
  }

  test("cross-batch keep-first dedup drops the replayed event_id") {
    val dir = tmpDir("graft-stream-dedup")
    landEvents(dir)
    val out = Streaming.dedupEvents(Streaming.readEvents(spark, dir))
    val q = out.writeStream.format("memory").queryName("deduped")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ids = spark.table("deduped").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("streaming ad ingestion equals the batch pipeline on the fixture") {
    val landing = tmpDir("graft-stream-ads")
    val curated = tmpDir("graft-stream-curated") + "/out"
    val quarantine = tmpDir("graft-stream-quar") + "/out"
    val checkpoint = tmpDir("graft-stream-ckpt") + "/ckpt"
    Files.writeString(Paths.get(landing, "doc1.json"), AdFixture.json)
    val q = Streaming.adIngest(spark, landing, curated, quarantine, checkpoint)
    q.awaitTermination()
    val got = spark.read.parquet(curated)
    val expected = AdPipeline.fixtureRun(spark).curated
    assert(got.count() === expected.count())
    assert(
      got.select("ad_id").collect().map(_.getString(0)).sorted.toSeq ===
        expected.select("ad_id").collect().map(_.getString(0)).sorted.toSeq)
    // a second identical landing run with the same checkpoint is a no-op
    // (exactly-once file-source offsets)
    val q2 = Streaming.adIngest(spark, landing, curated, quarantine, checkpoint)
    q2.awaitTermination()
    assert(spark.read.parquet(curated).count() === expected.count())
    // the quarantine side-channel captured the fixture's 6 invalid ads
    assert(spark.read.json(quarantine).count() === 6)
  }

  test("flatMapGroupsWithState running max carries across micro-batches") {
    val dir = tmpDir("graft-stream-state")
    landEvents(dir)
    // force file order = ts order so cross-batch state is deterministic
    Seq("batch1.json", "batch2.json").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    val events = Streaming.readEvents(spark, dir, Map("maxFilesPerTrigger" -> "1"))
    val q = Streaming.runningMaxByUser(events)
      .writeStream.format("memory").queryName("runmax")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("runmax")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // user 1 arrival order: 1(1.0), 2(2.0) | batch 2: 4(4.0), replay 2(2.0)
    // — the replayed event sees the state max 4.0 carried from this batch's
    // sort order; user 2: single event.
    assert(got(1L) === 1.0)
    assert(got(2L) === 2.0 || got(2L) === 4.0) // replay row, batch-2 order-dependent
    assert(got(3L) === 3.0)
    assert(got(4L) === 4.0)
    // state carried across batches: the batch-2 rows must be >= batch-1 max
    assert(Seq(got(4L)).forall(_ >= 2.0))
  }

  test("funnel state machine advances across micro-batches in order") {
    val dir = tmpDir("graft-stream-funnel")
    // user 5: view then click in batch 1, purchase in batch 2 (cross-batch
    // qualification); user 6: purchase BEFORE any view — must stay stage 0
    Files.writeString(Paths.get(dir, "b1.json"),
      """{"event_id":10,"ts":"2024-06-01T10:00:00","user_id":5,"event_type":"view","value":1.0,"props":"{}"}
        |{"event_id":11,"ts":"2024-06-01T10:05:00","user_id":5,"event_type":"click","value":1.0,"props":"{}"}
        |{"event_id":12,"ts":"2024-06-01T10:06:00","user_id":6,"event_type":"purchase","value":1.0,"props":"{}"}
        |""".stripMargin)
    Files.writeString(Paths.get(dir, "b2.json"),
      """{"event_id":13,"ts":"2024-06-01T11:00:00","user_id":5,"event_type":"purchase","value":9.0,"props":"{}"}
        |{"event_id":14,"ts":"2024-06-01T11:01:00","user_id":6,"event_type":"view","value":1.0,"props":"{}"}
        |""".stripMargin)
    Seq("b1.json", "b2.json").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    val events = Streaming.readEvents(spark, dir, Map("maxFilesPerTrigger" -> "1"))
    val q = Streaming.funnelByUser(events)
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val last = spark.table("funnel").collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getInt(4)).max }
    // user 5 completes the funnel only because batch-1 state carried over
    assert(last(5L) === 3)
    // user 6's early purchase never counts; the later view leaves stage 1
    assert(last(6L) === 1)
  }

  test("event-time timeout expires a stale user's state") {
    val dir = tmpDir("graft-stream-ttl")
    // user 1 goes idle; user 2's much-later events advance the watermark
    // past user 1's (event + 1h TTL) timeout → batch 3 drops the state
    Files.writeString(Paths.get(dir, "b1.json"),
      """{"event_id":1,"ts":"2024-06-01T10:00:00","user_id":1,"event_type":"click","value":1.0,"props":"{}"}
        |""".stripMargin)
    Files.writeString(Paths.get(dir, "b2.json"),
      """{"event_id":2,"ts":"2024-06-01T20:00:00","user_id":2,"event_type":"click","value":2.0,"props":"{}"}
        |""".stripMargin)
    Files.writeString(Paths.get(dir, "b3.json"),
      """{"event_id":3,"ts":"2024-06-01T20:30:00","user_id":2,"event_type":"click","value":3.0,"props":"{}"}
        |""".stripMargin)
    Seq("b1.json", "b2.json", "b3.json").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    val events = Streaming.readEvents(spark, dir, Map("maxFilesPerTrigger" -> "1"))
    val q = Streaming.runningMaxByUser(events,
        watermarkDelay = "0 seconds", idleTtl = java.time.Duration.ofHours(1))
      .writeStream.format("memory").queryName("ttlmax")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // all rows still emitted (expiry drops state, not output)...
    assert(spark.table("ttlmax").count() === 3)
    // ...but after the last batch only user 2 remains in the state store
    val lastState = q.recentProgress.flatMap(p => Option(p.stateOperators))
      .flatten.lastOption
    assert(lastState.exists(_.numRowsTotal === 1),
      s"expected 1 live state row, got ${lastState.map(_.numRowsTotal)}")
  }

  test("streaming fingerprint dedup keeps one doc per normalized content") {
    val dir = tmpDir("graft-stream-fpdedup")
    // doc 11 is a punctuation/case/whitespace variant of doc 10 — the exact
    // batch dedup (q_dedup_exact) collapses them; the stream must too, even
    // across micro-batches. doc 12 is genuinely different.
    Files.writeString(Paths.get(dir, "d1.json"),
      """{"event_id":10,"ts":"2024-06-01T10:00:00","user_id":0,"event_type":"Hello,  World! This is GRAFT.","value":0.0,"props":"{}"}
        |""".stripMargin)
    Files.writeString(Paths.get(dir, "d2.json"),
      """{"event_id":11,"ts":"2024-06-01T10:10:00","user_id":0,"event_type":"hello world this is graft","value":0.0,"props":"{}"}
        |{"event_id":12,"ts":"2024-06-01T10:11:00","user_id":0,"event_type":"an entirely different document","value":0.0,"props":"{}"}
        |""".stripMargin)
    Seq("d1.json", "d2.json").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    // reuse the event schema as a (doc_id=event_id, text=event_type) carrier
    val docs = Streaming.readEvents(spark, dir, Map("maxFilesPerTrigger" -> "1"))
      .select(col("event_id").as("doc_id"), col("event_type").as("text"), col("ts"))
    val q = Streaming.dedupDocsByFingerprint(docs)
      .writeStream.format("memory").queryName("fpdedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.table("fpdedup").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(10L, 12L), "keep-first: the replayed content drops")
    // batch parity: same fingerprint expression as the exact batch dedup
    import spark.implicits._
    val batch = Seq("Hello,  World! This is GRAFT.", "hello world this is graft",
        "an entirely different document").toDF("text")
      .select(md5(graft.text.TextAnalysis.normalize(col("text"))
        .cast(org.apache.spark.sql.types.BinaryType)).as("fingerprint"))
    assert(batch.distinct().count() === 2)
  }

  test("stateful dedup runs unchanged on the RocksDB state store") {
    val dir = tmpDir("graft-stream-rocks")
    landEvents(dir)
    val prev = Streaming.rocksDbStateConfs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    Streaming.rocksDbStateConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val out = Streaming.dedupEvents(Streaming.readEvents(spark, dir))
      val q = out.writeStream.format("memory").queryName("rocksdedup")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val ids = spark.table("rocksdedup").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L, 4L))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("raw landing round-trip: file source sees what Sources wrote") {
    val landing = tmpDir("graft-raw-landing")
    Files.writeString(Paths.get(landing, "docA.json"), AdFixture.json)
    val batch = Sources.rawAdsJson(spark, landing)
    assert(batch.count() === 1)
    assert(batch.select("value").first().getString(0).contains("ad_archive_id"))
  }

  test("stream-stream interval join pairs purchases with in-window clicks across batches") {
    val dir = tmpDir("graft-stream-ssj")
    // batch 1: two clicks; batch 2: two purchases — one inside the 1 h
    // window of both clicks, one >1 h after the early click. The join must
    // buffer batch-1 clicks in state to pair them with batch-2 purchases.
    Files.writeString(Paths.get(dir, "b1.json"),
      """{"event_id":1,"ts":"2024-06-01T10:00:00","user_id":1,"event_type":"click","value":0.0,"props":"{}"}
        |{"event_id":2,"ts":"2024-06-01T10:40:00","user_id":1,"event_type":"click","value":0.0,"props":"{}"}
        |{"event_id":3,"ts":"2024-06-01T10:10:00","user_id":2,"event_type":"click","value":0.0,"props":"{}"}
        |""".stripMargin)
    Files.writeString(Paths.get(dir, "b2.json"),
      """{"event_id":10,"ts":"2024-06-01T10:50:00","user_id":1,"event_type":"purchase","value":9.0,"props":"{}"}
        |{"event_id":11,"ts":"2024-06-01T11:30:00","user_id":1,"event_type":"purchase","value":7.0,"props":"{}"}
        |{"event_id":12,"ts":"2024-06-01T13:00:00","user_id":2,"event_type":"purchase","value":5.0,"props":"{}"}
        |""".stripMargin)
    Seq("b1.json", "b2.json").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    val events = Streaming.readEvents(spark, dir, Map("maxFilesPerTrigger" -> "1"))
    val out = Streaming.clickPurchaseJoin(events)
    val q = out.writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ssj")
      .select("user_id", "click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // purchase 10 (10:50) pairs with clicks 1 (10:00) and 2 (10:40);
    // purchase 11 (11:30) only with click 2 (click 1 is >1 h before);
    // purchase 12 (13:00) pairs with nothing — user 2's click was at 10:10.
    assert(got === Set((1L, 1L, 10L), (1L, 2L, 10L), (1L, 2L, 11L)))
  }

  test("streaming CDC apply merges each micro-batch into the snapshot table") {
    val dir = tmpDir("graft-stream-cdc")
    val tableDir = tmpDir("graft-stream-cdc-table") + "/user_state"
    landEvents(dir) // batch1: users 1,2; batch2: user 1 again (id 4 at 11:40)
    Seq("batch1.json", "batch2.json").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    // one file per trigger so the table sees two distinct merges
    val q = Streaming.upsertLatestByUser(
      spark, dir, tableDir, tmpDir("graft-stream-cdc-ckpt"),
      Map("maxFilesPerTrigger" -> "1"))
    q.awaitTermination()
    val got = graft.io.SnapshotTable.read(spark, tableDir)
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // user 1's latest is event 4 (11:40, batch 2 — the replayed event 2 is
    // older); user 2's latest is event 3
    assert(got === Set((1L, 4L), (2L, 3L)))
    assert(graft.io.SnapshotTable.latestVersion(tableDir) >= 2,
      "each non-empty micro-batch publishes a table version")
    // time travel: version 1 is batch 1's state (user 1 at event 2)
    val v1 = graft.io.SnapshotTable.read(spark, tableDir, Some(1))
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v1 === Set((1L, 2L), (2L, 3L)))
  }

  test("CDC apply is exactly-once: replaying applied batches changes neither version nor content") {
    val dir = tmpDir("graft-stream-cdc-replay")
    val tableDir = tmpDir("graft-stream-cdc-replay-table") + "/user_state"
    landEvents(dir)
    Seq("batch1.json", "batch2.json").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    Streaming.upsertLatestByUser(spark, dir, tableDir,
      tmpDir("graft-stream-cdc-replay-ckpt"), Map("maxFilesPerTrigger" -> "1"))
      .awaitTermination()
    val versionBefore = graft.io.SnapshotTable.latestVersion(tableDir)
    def content = graft.io.SnapshotTable.read(spark, tableDir)
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val contentBefore = content
    assert(graft.io.SnapshotTable.snapshot(spark, tableDir, None)
      .meta.get(Streaming.cdcBatchIdKey).contains("1"))

    // simulated restart-replay: a FRESH checkpoint re-delivers every batch
    // (the crash-between-merge-and-checkpoint case, maximally adversarial:
    // ALL batches replay). The new lineage's batch ids don't match the
    // stored run id, so the skip correctly does NOT fire — instead the
    // (ts, event_id) anti-filter makes every replayed batch merge-empty,
    // minting no spurious versions
    Streaming.upsertLatestByUser(spark, dir, tableDir,
      tmpDir("graft-stream-cdc-replay-ckpt2"), Map("maxFilesPerTrigger" -> "1"))
      .awaitTermination()
    assert(graft.io.SnapshotTable.latestVersion(tableDir) === versionBefore,
      "replayed batches must not mint new table versions")
    assert(content === contentBefore)
  }

  test("CDC batch-id skip is scoped by checkpoint lineage: a fresh checkpoint cannot lose new data") {
    val dir = tmpDir("graft-stream-cdc-fresh")
    val tableDir = tmpDir("graft-stream-cdc-fresh-table") + "/user_state"
    landEvents(dir)
    Seq("batch1.json", "batch2.json").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    // lineage A applies two batches → manifest records cdc_batch_id = 1
    Streaming.upsertLatestByUser(spark, dir, tableDir,
      tmpDir("graft-stream-cdc-fresh-ckpt"), Map("maxFilesPerTrigger" -> "1"))
      .awaitTermination()
    // a genuinely NEW event lands, then the stream restarts with a FRESH
    // checkpoint and no per-file trigger cap: all three files arrive as
    // batchId 0. An unscoped `applied (1) >= batchId (0)` skip would drop
    // user 3 silently — the run-id scope must prevent that.
    Files.writeString(Paths.get(dir, "batch3.json"),
      """{"event_id":10,"ts":"2024-06-01T12:00:00","user_id":3,"event_type":"view","value":10.0,"props":"{}"}
        |""".stripMargin)
    Files.setLastModifiedTime(Paths.get(dir, "batch3.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L + 20000L))
    Streaming.upsertLatestByUser(spark, dir, tableDir,
      tmpDir("graft-stream-cdc-fresh-ckpt2")).awaitTermination()
    val got = graft.io.SnapshotTable.read(spark, tableDir)
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 4L), (2L, 3L), (3L, 10L)),
      "new data arriving under a re-numbered batch id must still merge")
  }

  test("CDC apply is latest-wins across batches: a late event cannot overwrite newer state") {
    val dir = tmpDir("graft-stream-cdc-late")
    val tableDir = tmpDir("graft-stream-cdc-late-table") + "/user_state"
    val ckpt = tmpDir("graft-stream-cdc-late-ckpt")
    landEvents(dir)
    Seq("batch1.json", "batch2.json").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    Streaming.upsertLatestByUser(spark, dir, tableDir, ckpt,
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()

    // batch 3 lands late: an OUT-OF-ORDER event for user 1 (10:30, older
    // than the stored 11:40 state) plus a genuinely new user 3
    Files.writeString(Paths.get(dir, "batch3.json"),
      """{"event_id":9,"ts":"2024-06-01T10:30:00","user_id":1,"event_type":"click","value":9.0,"props":"{}"}
        |{"event_id":10,"ts":"2024-06-01T12:00:00","user_id":3,"event_type":"view","value":10.0,"props":"{}"}
        |""".stripMargin)
    Files.setLastModifiedTime(Paths.get(dir, "batch3.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L + 20000L))
    // same checkpoint: the resumed stream sees only batch 3 (batchId 2)
    Streaming.upsertLatestByUser(spark, dir, tableDir, ckpt,
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()

    val got = graft.io.SnapshotTable.read(spark, tableDir)
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // user 1 keeps event 4 (11:40) — the late 10:30 event must not win;
    // user 3 inserts normally, proving the batch was applied, not skipped
    assert(got === Set((1L, 4L), (2L, 3L), (3L, 10L)))
    assert(graft.io.SnapshotTable.snapshot(spark, tableDir, None)
      .meta.get(Streaming.cdcBatchIdKey).contains("2"))
  }

  test("streaming vector ingest merges coded batches into the IVF-PQ snapshot") {
    import graft.similarity.{Pq, Similarity}
    import graft.util.Tables
    val landing = tmpDir("graft-stream-vec")
    val idx = tmpDir("graft-stream-ivfpq")
    val emb = Tables.embeddings(spark, sf())
    Pq.ivfpqBuildIndex(emb, idx)
    val before = graft.io.SnapshotTable.read(spark, s"$idx/file").count()
    def embOf(id: Long): Seq[Float] = emb.filter(col("vec_id") === id)
      .select("embedding").head().getSeq[Float](0)
    def vecJson(id: Long, v: Seq[Float]): String =
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    // 100001 is an exact twin of vector 7 — the probe must surface it
    Files.writeString(Paths.get(landing, "b1.json"),
      vecJson(100001L, embOf(7L)) + "\n" + vecJson(100002L, embOf(123L)) + "\n")
    Files.writeString(Paths.get(landing, "b2.json"),
      vecJson(100003L, embOf(321L)) + "\n")
    Streaming.vectorIngest(spark, landing, idx, tmpDir("graft-vec-cp"),
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    val after = graft.io.SnapshotTable.read(spark, s"$idx/file")
    assert(after.count() === before + 3)
    // the streamed rows carry the codes the BATCH encoder assigns against
    // the committed (frozen) quantizers
    val cents = graft.io.SnapshotTable.read(spark, s"$idx/centroids")
    val bookRows = graft.io.SnapshotTable.read(spark, s"$idx/codebooks")
      .select("s", "code", "cvec").collect()
    val books = Array.ofDim[Array[Double]](8, 16)
    bookRows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    val twin = emb.filter(col("vec_id") === 7L)
      .select(lit(100001L).as("vec_id"), col("embedding"))
    val wantCodes = Pq.encode(twin, books).select("codes").head().getSeq[Int](0)
    val wantCell = Similarity.withCells(twin, cents).select("cell").head().getInt(0)
    val gotRow = after.filter(col("cid") === 100001L)
      .select("cell", "codes").head()
    assert(gotRow.getInt(0) === wantCell, "streamed cell assignment drifted")
    assert(gotRow.getSeq[Int](1) === wantCodes, "streamed PQ codes drifted")
    // the ingested twin of vector 7 surfaces in vector 7's probe results
    val res = Pq.ivfpqProbeIndex(emb.filter(col("vec_id") === 7L), idx, 5, nprobe = 8)
      .select("cid").collect().map(_.getLong(0)).toSet
    assert(res.contains(100001L), s"ingested twin missing from probe: $res")
    // replaying the same files through a FRESH checkpoint re-merges
    // identical rows: content must not change (row-wins upsert)
    Streaming.vectorIngest(spark, landing, idx, tmpDir("graft-vec-cp2"),
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    assert(graft.io.SnapshotTable.read(spark, s"$idx/file").count() === before + 3)
    // maintenance: compacting the merge-fragmented coded file keeps the
    // partition layout and leaves probe results untouched
    val preCompact = Pq.ivfpqProbeIndex(emb.filter(col("vec_id") < 20), idx, 5, nprobe = 8)
      .select("qid", "cid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    graft.io.SnapshotTable.compact(spark, s"$idx/file",
      minFileBytes = Long.MaxValue, targetPartitions = 4)
    assert(graft.io.SnapshotTable.read(spark, s"$idx/file").count() === before + 3)
    val postCompact = Pq.ivfpqProbeIndex(emb.filter(col("vec_id") < 20), idx, 5, nprobe = 8)
      .select("qid", "cid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(postCompact === preCompact, "compaction changed probe results")
  }

  test("streaming media ingest encodes on ingest, exactly-once, batch-parity") {
    import graft.multimodal.Multimodal
    import graft.util.Tables
    val landing = tmpDir("graft-stream-media")
    val tableDir = tmpDir("graft-stream-mediafeat") + "/t"
    val docs = Tables.documents(spark, sf()).filter(col("doc_id") < 30)
    // the real mixed-format table: PNG / JPEG (baseline, progressive,
    // 4:2:0 color) / WAV thirds — the stream must route every decode tier
    val media = Multimodal.realMediaTable(docs).localCheckpoint()
    val rows = media
      .select(to_json(struct(col("media_id"), col("payload"),
        col("declared_format"))).as("j"))
      .collect().map(_.getString(0))
    assert(rows.length === 30)
    // two landing files → two micro-batches under maxFilesPerTrigger=1
    Files.writeString(Paths.get(landing, "b1.json"),
      rows.take(15).mkString("\n") + "\n")
    Files.writeString(Paths.get(landing, "b2.json"),
      rows.drop(15).mkString("\n") + "\n")
    Streaming.mediaIngest(spark, landing, tableDir, tmpDir("graft-media-cp"),
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    val got = graft.io.SnapshotTable.read(spark, tableDir)
    assert(got.count() === 30)
    // batch parity: the streamed features are BIT-EQUAL to the batch
    // encoder over the same rows (same kernel, same bytes), including the
    // honest-null rows whose encoder tag must also be null
    def mismatches(): Long = graft.io.SnapshotTable.read(spark, tableDir)
      .select(col("media_id"), col("feature").as("fs"), col("encoder").as("es"))
      .join(Multimodal.mediaFeatures(media)
        .select(col("media_id"), col("feature").as("fb"), col("encoder").as("eb")),
        Seq("media_id"), "full")
      .filter(!(col("fs") <=> col("fb")) || !(col("es") <=> col("eb")))
      .count()
    assert(mismatches() === 0L)
    // round 17: doc_id 28 (28 % 9 = 1, 28 // 9 ≡ 3 mod 4) is the mixed
    // table's ARITHMETIC-coded honesty row — undecodable by design, so the
    // stream must carry its null feature AND null encoder tag; every
    // Huffman-coded tier still decodes
    assert(got.filter(col("feature").isNotNull).count() === 29,
      "every Huffman realMediaTable tier decodes — the stream must too")
    assert(got.filter(col("media_id") === 28).select("feature", "encoder")
      .collect().forall(r => r.isNullAt(0) && r.isNullAt(1)),
      "the arithmetic-coded row must ride the stream as honest null")
    // replay through a FRESH checkpoint: the upsert re-writes identical
    // rows — count and content must not change (idempotent end-to-end)
    Streaming.mediaIngest(spark, landing, tableDir, tmpDir("graft-media-cp2"),
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    assert(graft.io.SnapshotTable.read(spark, tableDir).count() === 30)
    assert(mismatches() === 0L)
  }

  test("streaming LSH dedup ingest: pairs = batch join on the union, reported once") {
    import graft.dedup.Dedup
    import graft.util.Tables
    val landing = tmpDir("graft-stream-dedup")
    val idx = tmpDir("graft-stream-lshidx") + "/index"
    // three corpus slices: A is the pre-built index, B1/B2 stream in
    val docs = Tables.documents(spark, sf()).localCheckpoint()
    val a = docs.filter(col("doc_id") % 3 === 0)
    Dedup.lshIndexBuild(a, idx)
    def land(name: String, m: Int): Unit = {
      val lines = docs.filter(col("doc_id") % 3 === m)
        .select(to_json(struct(col("doc_id"), col("text"), col("source"),
          col("n_chars")))).collect().map(_.getString(0))
      Files.writeString(Paths.get(landing, name), lines.mkString("", "\n", "\n"))
    }
    land("b1.json", 1)
    land("b2.json", 2)
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    Streaming.dedupIngest(spark, landing, idx, tmpDir("graft-dedup-cp"), 0.5,
      (df, id) => got(id) = df.select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.minHashLshJoin(df, 0.5).select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every pair of the union corpus whose LATER member streamed in is
    // reported in exactly that member's batch; A-internal pairs are the
    // index build's business and never re-reported
    val expected = pairs(docs) -- pairs(a)
    val streamed = got.values.flatten.toSet
    assert(streamed === expected)
    assert(got.values.map(_.size).sum === streamed.size, "no pair reported twice")
    assert(streamed.nonEmpty, "fixture must contain cross-slice near-dups")
    // the merged index now covers the whole corpus, one row per doc
    assert(graft.io.SnapshotTable.read(spark, idx).count() ===
      Dedup.lshIndexRows(docs).count())
    // replay through a FRESH checkpoint: upserts are idempotent — same
    // row count, and re-probing an unchanged index re-detects the same
    // pairs (the registry is stable, not append-corrupted)
    val got2 = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    Streaming.dedupIngest(spark, landing, idx, tmpDir("graft-dedup-cp2"), 0.5,
      (df, id) => got2(id) = df.select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    assert(graft.io.SnapshotTable.read(spark, idx).count() ===
      Dedup.lshIndexRows(docs).count())
    assert(got2.values.flatten.toSet.subsetOf(pairs(docs)),
      "replayed probes must stay within the union corpus pair set")
  }

  test("streaming LSH dedup ingest (pairs table): replay converges, no duplicates") {
    import graft.dedup.Dedup
    import graft.io.SnapshotTable
    import graft.util.Tables
    val landing = tmpDir("graft-stream-dedup-eo")
    val idx = tmpDir("graft-stream-lshidx-eo") + "/index"
    val pairsDir = tmpDir("graft-stream-pairs-eo") + "/pairs"
    val docs = Tables.documents(spark, sf()).localCheckpoint()
    val a = docs.filter(col("doc_id") % 3 === 0)
    Dedup.lshIndexBuild(a, idx)
    def land(name: String, m: Int): Unit = {
      val lines = docs.filter(col("doc_id") % 3 === m)
        .select(to_json(struct(col("doc_id"), col("text"), col("source"),
          col("n_chars")))).collect().map(_.getString(0))
      Files.writeString(Paths.get(landing, name), lines.mkString("", "\n", "\n"))
    }
    land("b1.json", 1)
    land("b2.json", 2)
    Streaming.dedupIngestPairs(spark, landing, idx, pairsDir,
      tmpDir("graft-dedup-eo-cp"), 0.5,
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    def lshPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.minHashLshJoin(df, 0.5).select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def tablePairs(): Seq[(Long, Long)] =
      SnapshotTable.read(spark, pairsDir).select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // one ROW per detected pair — the table is keyed on the pair itself
    val expected = lshPairs(docs) -- lshPairs(a)
    assert(expected.nonEmpty, "fixture must contain cross-slice near-dups")
    val first = tablePairs()
    assert(first.toSet === expected)
    assert(first.size === first.toSet.size, "pair key must dedup rows")
    // replay every batch through a FRESH checkpoint — the crash-replay
    // delivery path (dedupIngest documents this as at-least-once for its
    // push sink): here the pair-keyed MERGE upserts identical rows, so
    // the table is IDENTICAL after the replay — exactly-once end-to-end
    Streaming.dedupIngestPairs(spark, landing, idx, pairsDir,
      tmpDir("graft-dedup-eo-cp2"), 0.5,
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    val replayed = tablePairs()
    assert(replayed.toSet === expected)
    assert(replayed.size === first.size, "replay must not append duplicates")
  }

  test("streaming ledger ingest: view tracks the table through every batch") {
    import graft.io.{IncrementalView, SnapshotTable}
    import graft.util.Tables
    val landing = tmpDir("graft-stream-ledger")
    val tableDir = tmpDir("graft-stream-ledger-t") + "/src"
    val viewDir = tmpDir("graft-stream-ledger-v") + "/view"
    val docs = Tables.documents(spark, sf())
      .select("doc_id", "source", "n_chars").localCheckpoint()
    SnapshotTable.create(docs.filter(col("doc_id") % 3 === 0), tableDir)
    IncrementalView.create(spark, tableDir, viewDir, Seq("source"), Seq("n_chars"))
    def land(name: String, m: Int): Unit = {
      val lines = docs.filter(col("doc_id") % 3 === m)
        .select(to_json(struct(col("doc_id"), col("source"), col("n_chars"))))
        .collect().map(_.getString(0))
      Files.writeString(Paths.get(landing, name), lines.mkString("", "\n", "\n"))
    }
    land("b1.json", 1)
    land("b2.json", 2)
    Streaming.ledgerIngest(spark, landing, tableDir, viewDir,
      tmpDir("graft-ledger-cp"), Seq("source"), Seq("n_chars"),
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    def ledger(): Set[(String, Long, Long)] =
      SnapshotTable.read(spark, viewDir)
        .select("source", IncrementalView.countCol, "n_chars")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = SnapshotTable.read(spark, tableDir)
      .groupBy("source").agg(count(lit(1)), sum("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(SnapshotTable.read(spark, tableDir).count() === docs.count(),
      "every streamed doc must land in the fact table")
    assert(ledger() === want)
    // replay through a fresh checkpoint: merges upsert identical rows,
    // refresh sees no new source version — ledger and table unchanged
    Streaming.ledgerIngest(spark, landing, tableDir, viewDir,
      tmpDir("graft-ledger-cp2"), Seq("source"), Seq("n_chars"),
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    assert(SnapshotTable.read(spark, tableDir).count() === docs.count())
    assert(ledger() === want)
  }

  test("per-batch PSI drift matches the batch computation for every micro-batch") {
    import spark.implicits._
    val dir = tmpDir("graft-stream-psi")
    // batch A sits in the reference's low buckets (large enough that the
    // add-one smoothing over 10 buckets stays under the 0.1 threshold);
    // batch B is shifted wholesale into bucket 9
    def line(id: Int, hour: Int, typ: String, value: Double): String =
      s"""{"event_id":$id,"ts":"2024-06-01T$hour%02d:00:00","user_id":1,""".format(hour) +
        s""""event_type":"$typ","value":$value,"props":"{}"}"""
    Files.writeString(Paths.get(dir, "a.json"),
      ((1 to 20).map(i => line(i, 10, "click", 10.0 + i % 30)) ++
        (21 to 30).map(i => line(i, 10, "view", 20.0))).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(dir, "b.json"),
      (31 to 50).map(i => line(i, 11, "click", 460.0 + i % 30)).mkString("", "\n", "\n"))
    val reference = Seq(("click", 0, 40L), ("view", 0, 20L))
      .toDF("event_type", "bucket", "c")
    type PsiRow = (String, Long, Long, Double, Boolean)
    def rows(df: org.apache.spark.sql.DataFrame): Set[PsiRow] =
      df.select("event_type", "n_ref", "n_cur", "psi", "drifted").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getBoolean(4))).toSet
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[PsiRow])]
    Streaming.psiDriftPerBatch(spark, dir, reference,
      (df, id) => perBatch += ((id, rows(df))),
      Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    assert(perBatch.size === 2, "one PSI frame per micro-batch")
    // parity: each micro-batch result equals the BATCH computation over the
    // same file's rows through the shared psiFromCounts — order-free because
    // file-listing order decides batch ids
    val expected = Seq("a.json", "b.json").map { f =>
      rows(graft.queries.Analytics.psiFromCounts(reference,
        graft.queries.Analytics.bucketCounts(
          spark.read.schema(Streaming.eventSchema).json(s"$dir/$f"))))
    }.toSet
    assert(perBatch.map(_._2).toSet === expected)
    // the planted shift is actually detected: exactly one batch drifts on click
    val clickDrifted = perBatch.flatMap(_._2).filter(_._1 == "click").map(_._5)
    assert(clickDrifted.count(identity) === 1, s"drift verdicts: $clickDrifted")
  }
}
