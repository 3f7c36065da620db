package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.etl.Transform

/** Structured Streaming surface (SURVEY.md §2.10). The reference's ingestion
  * is incremental by nature — the GraphQL response hook appends ad groups as
  * they arrive (collect_raw_data.py:150-171) — and its batch landing-dir
  * contract maps 1:1 onto a file-source stream: every landed document is one
  * micro-batch input, processed exactly once via checkpointed offsets.
  *
  * Design rules at scale:
  *  - watermarks bound ALL state (windows, sessions, dedup keys) — without
  *    one, a 100 TB stream's state store grows forever;
  *  - aggregations are the same declarative plans as their batch twins
  *    (q_events_hourly / q_sessionize), so Catalyst plans partial
  *    aggregation before the keyed state shuffle;
  *  - the ad pipeline streams through foreachBatch reusing the BATCH
  *    Transform unchanged — one code path, two execution modes.
  */
object Streaming {

  /** Session confs for LARGE streaming state: the default in-memory
    * HDFSBackedStateStore keeps every key's state on the executor heap —
    * at 100 TB key cardinalities that's an OOM, not a tuning problem. The
    * RocksDB provider (bundled with Spark) spills state to local disk with
    * changelog checkpointing so state size is bounded by disk, not heap.
    * Apply before starting stateful queries:
    * `rocksDbStateConfs.foreach { case (k, v) => spark.conf.set(k, v) }`.
    */
  val rocksDbStateConfs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
  )

  /** events landing schema (TESTDATA.md events table, JSON-lines files). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  /** File-source stream over an events landing dir (JSON lines; new files =
    * new micro-batches — the streaming analog of the response-hook appends).
    * `options` passes source knobs through (e.g. maxFilesPerTrigger to bound
    * batch size — at scale you always bound it so one listing burst cannot
    * become one giant micro-batch).
    */
  def readEvents(
      spark: SparkSession,
      landingDir: String,
      options: Map[String, String] = Map.empty,
  ): DataFrame =
    spark.readStream.options(options).schema(eventSchema).json(landingDir)

  /** Streaming twin of q_events_hourly: tumbling 1-hour window per event
    * type. Watermark bounds state to windows newer than (max ts − delay).
    */
  def hourlyCounts(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming twin of q_sessionize: 30-minute-gap session windows per user.
    * session_window merges as events arrive — the stateful equivalent of the
    * batch lag/running-sum gaps-and-islands plan.
    */
  def sessionize(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(
        col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("session_value"))

  /** D1 keep-first dedup across micro-batches: first arrival of an event_id
    * wins; watermark expires state for keys older than the delay (the
    * arrival-order analog of the batch window dedup, SURVEY §2.10).
    */
  def dedupEvents(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Typed event row for the custom-state operators. */
  final case class EventRow(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Per-user running state (the streaming twin of P3/W1's group-scoped
    * running max, transform_raw_data.py:114-116 — arrival order replaces
    * file order).
    */
  final case class RunningMax(maxValue: Double)

  /** Custom keyed state via flatMapGroupsWithState (SURVEY §2.10): each
    * user's running max survives across micro-batches in the state store;
    * within a batch events apply in (ts, event_id) order so output is
    * deterministic for a given batch split. Built-in windows cover
    * tumbling/session aggregation; this is the escape hatch for state
    * machines they cannot express.
    *
    * State is BOUNDED: the input carries a watermark and each key arms an
    * event-time timeout at (its newest event + idleTtl) — when the
    * watermark passes it, the key's state is dropped. Without this the
    * store is O(every user ever seen), which on an unbounded key space
    * grows until the job dies; with it, state is O(users active within the
    * TTL horizon). A user reappearing after expiry simply restarts from
    * empty state (the running max forgets — the documented trade of
    * bounding state).
    */
  def runningMaxByUser(
      events: DataFrame,
      watermarkDelay: String = "2 hours",
      idleTtl: java.time.Duration = java.time.Duration.ofHours(24),
  ): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.withWatermark("ts", watermarkDelay).as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RunningMax, (Long, Long, Double, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[RunningMax]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var m = state.getOption.map(_.maxValue).getOrElse(Double.NegativeInfinity)
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val out = sorted.map { e =>
              m = math.max(m, e.value)
              (e.event_id, uid, e.value, m)
            }
            state.update(RunningMax(m))
            // must exceed the current watermark or Spark rejects the arm;
            // late-straggler batches can have max(ts) < watermark
            state.setTimeoutTimestamp(
              math.max(sorted.map(_.ts.getTime).max, state.getCurrentWatermarkMs()) +
                idleTtl.toMillis)
            out.iterator
          }
      }
      .toDF("event_id", "user_id", "value", "run_max_value")
  }

  /** Per-user funnel progress (streaming twin of Analytics.q_funnel): a
    * keyed state machine over view → click → purchase, where each step's
    * anchor is the first event at or after the previous step's anchor —
    * the semantics that need custom state (a windowed aggregation cannot
    * express "first X after the first Y"). State survives micro-batches:
    * a view in batch 1 qualifies a click in batch 7. Emits one row per
    * user per batch in which the stage advanced; state is three epoch
    * millis, so the store stays O(users).
    */
  final case class FunnelState(tView: Long, tClick: Long, tPurchase: Long)

  def funnelByUser(
      events: DataFrame,
      watermarkDelay: String = "2 hours",
      idleTtl: java.time.Duration = java.time.Duration.ofHours(24),
  ): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val unset = Long.MaxValue
    events.withWatermark("ts", watermarkDelay).as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, (Long, Long, Long, Long, Int)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // an expired funnel is abandoned — same bounded-state contract
            // as runningMaxByUser
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelState(unset, unset, unset))
            val before = st
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            sorted.foreach { e =>
              val t = e.ts.getTime
              e.event_type match {
                case "view" if st.tView == unset => st = st.copy(tView = t)
                case "click" if st.tView != unset && st.tClick == unset && t >= st.tView =>
                  st = st.copy(tClick = t)
                case "purchase" if st.tClick != unset && st.tPurchase == unset && t >= st.tClick =>
                  st = st.copy(tPurchase = t)
                case _ =>
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(sorted.map(_.ts.getTime).max, state.getCurrentWatermarkMs()) +
                idleTtl.toMillis)
            val stage = Seq(st.tView, st.tClick, st.tPurchase).count(_ != unset)
            if (st != before) Iterator((uid, st.tView, st.tClick, st.tPurchase, stage))
            else Iterator.empty
          }
      }
      .toDF("user_id", "t_view_ms", "t_click_ms", "t_purchase_ms", "stage")
  }

  /** Streaming twin of q_dedup_exact: cross-batch KEEP-FIRST dedup by
    * normalized-content fingerprint — the ingestion-time guard that stops
    * near-identical documents from ever landing twice. Same fingerprint
    * expression as the batch operator (md5 over TextAnalysis.normalize);
    * dropDuplicatesWithinWatermark bounds the fingerprint state to the
    * watermark horizon, the streaming analog of "dedup within the
    * reprocessing window" (a batch backfill handles anything older).
    * Expects (doc_id, text, ts) rows.
    */
  def dedupDocsByFingerprint(
      docs: DataFrame, watermarkDelay: String = "24 hours"): DataFrame = {
    docs
      .withWatermark("ts", watermarkDelay)
      .withColumn("fingerprint",
        md5(graft.text.TextAnalysis.normalize(col("text")).cast(BinaryType)))
      .dropDuplicatesWithinWatermark("fingerprint")
  }

  /** Stream-stream interval join — the streaming twin of the batch
    * equi+range join (q_range_join / the as-of pairing): every purchase
    * joins the same user's clicks from the preceding `joinWindow`. Both
    * sides carry watermarks AND the join condition bounds the event-time
    * distance — together they let Spark EXPIRE buffered rows (a click
    * older than watermark + window can never match a future purchase), so
    * join state is O(events within the horizon), not O(stream). Without
    * the time bound this join is unrunnable in append mode — state would
    * be unbounded by construction, which is the 100 TB failure the API
    * makes impossible to write silently.
    */
  def clickPurchaseJoin(
      events: DataFrame,
      watermarkDelay: String = "1 hour",
      joinWindow: String = "1 hour",
  ): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermarkDelay)
    clicks.join(
      purchases,
      col("user_id") === col("p_user_id")
        && col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $joinWindow"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("purchase_value"))
  }

  /** Manifest meta key recording the last foreachBatch id the CDC sink
    * merged — the Delta "txn version" idea at micro-batch granularity.
    */
  val cdcBatchIdKey = "cdc_batch_id"

  /** Manifest meta key for the query identity that minted cdc_batch_id —
    * Delta's txnAppId idea. Batch ids are only monotone WITHIN one
    * checkpoint lineage: a fresh checkpoint re-numbers from 0, so a bare
    * `applied >= batchId` skip would silently drop genuinely new batches.
    * The skip therefore only fires when the stored run id matches.
    */
  val cdcRunIdKey = "cdc_run_id"

  private def cdcRunId(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(checkpointDir).getCanonicalPath
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Streaming CDC apply — the streaming twin of q_upsert/SnapshotTable
    * MERGE: each micro-batch collapses to its newest event per user
    * (latest-wins CDC semantics, deterministic via the (ts, event_id)
    * order) and MERGEs into a snapshot table. The table ends in the same
    * state as replaying all events through the batch merge, with one
    * table version per effective micro-batch — exactly how a warehouse
    * ingests a change stream: bounded work per batch (COW touches only
    * files holding changed keys), atomic versions, time travel across
    * batch boundaries.
    *
    * Exactly-once across restarts: foreachBatch can replay a batch whose
    * merge committed but whose checkpoint didn't (crash in between), so the
    * applied batchId is stamped into the snapshot manifest — scoped by a
    * run id tied to the checkpoint lineage (Delta's txnAppId idea) — and a
    * replay of an already-applied id FROM THE SAME LINEAGE is skipped. A
    * fresh checkpoint re-numbers batches from 0, so its ids never match the
    * stored lineage and nothing new is ever skipped; the anti-filter below
    * still makes true replays merge-empty.
    *
    * Latest-wins across batches, not just within one: the batch is
    * anti-filtered against the stored state, keeping only rows strictly
    * newer by (ts, event_id) than the table's row for that user — a
    * late/out-of-order event arriving in a later micro-batch can never
    * overwrite newer table state. (Also a second idempotency layer: a
    * replayed batch's rows tie the stored state and filter out.)
    */
  def upsertLatestByUser(
      spark: SparkSession,
      landingDir: String,
      tableDir: String,
      checkpointDir: String,
      options: Map[String, String] = Map.empty,
  ): StreamingQuery =
    readEvents(spark, landingDir, options).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.expressions.Window
        val runId = cdcRunId(checkpointDir)
        val tableExists = graft.io.SnapshotTable.exists(tableDir)
        val meta =
          if (tableExists)
            graft.io.SnapshotTable.snapshot(spark, tableDir, None).meta
          else Map.empty[String, String]
        val applied = meta.get(cdcBatchIdKey).map(_.toLong)
          // batch ids from a different checkpoint lineage don't compare
          .filter(_ => meta.get(cdcRunIdKey).contains(runId))
        if (applied.exists(_ >= batchId)) {
          // post-crash replay of a batch the table already holds: skip
          ()
        } else {
          val latest = batch
            .withColumn("__rn", row_number().over(
              Window.partitionBy("user_id")
                .orderBy(col("ts").desc, col("event_id").desc)))
            .filter(col("__rn") === 1)
            .drop("__rn")
          if (tableExists) {
            val cur = graft.io.SnapshotTable.read(spark, tableDir, None)
              .select(col("user_id"),
                col("ts").as("__cur_ts"), col("event_id").as("__cur_eid"))
            val fresh = latest.join(cur, Seq("user_id"), "left")
              .filter(col("__cur_ts").isNull ||
                struct(col("ts"), col("event_id")) >
                  struct(col("__cur_ts"), col("__cur_eid")))
              .drop("__cur_ts", "__cur_eid")
            if (!fresh.isEmpty) {
              graft.io.SnapshotTable.merge(spark, tableDir, fresh, "user_id",
                meta = Map(cdcBatchIdKey -> batchId.toString,
                  cdcRunIdKey -> runId))
              ()
            }
          } else if (!latest.isEmpty) {
            graft.io.SnapshotTable.create(latest, tableDir,
              meta = Map(cdcBatchIdKey -> batchId.toString,
                cdcRunIdKey -> runId))
            ()
          }
        }
      }
      .start()

  /** Incremental ad-library ingestion: raw documents landing as whole files
    * stream through the UNCHANGED batch transform (flatten → derive →
    * validate → dedup-within-batch) via foreachBatch; curated parquet and
    * quarantine JSON append per micro-batch. Cross-batch ad_id dedup is the
    * curated reader's concern (keep-first by ordinal is already pinned
    * within each document).
    */
  def adIngest(
      spark: SparkSession,
      landingDir: String,
      curatedDir: String,
      quarantineDir: String,
      checkpointDir: String,
  ): StreamingQuery = {
    val rawDocs = spark.readStream
      .option("wholetext", "true")
      .text(landingDir)
      .select(input_file_name().as("doc_id"), col("value"))
    rawDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Same composition as Transform.transform, with the parsed frame
        // persisted so the curated and quarantine branches share one scan.
        val parsed = Transform.derive(Transform.flatten(batch)).persist()
        try {
          val (valid, quarantine) = Transform.validate(parsed)
          val curated = Transform.dedup(valid)
            .select(graft.etl.AdSchema.validated.fieldNames.map(col).toIndexedSeq: _*)
          curated.write.mode("append").parquet(curatedDir)
          quarantine.write.mode("append").json(quarantineDir)
        } finally { parsed.unpersist(); () }
      }
      .start()
  }

  /** Per-micro-batch PSI drift detection — the streaming incarnation of
    * Analytics.q_drift_psi: each arriving batch's value histogram is
    * scored against a FIXED reference histogram (the "training
    * distribution" a monitor pins at deploy time), via the shared
    * [[graft.queries.Analytics.psiFromCounts]] so batch and stream can
    * never drift in their drift definition. The reference frame is
    * type-count × ≤10-bucket tiny, so at scale it broadcasts; the only
    * per-batch heavy work is one partial-aggregated groupBy over the
    * batch's rows. `sink` receives (psi frame stamped with batch_id,
    * batchId) per micro-batch — the production sink would append to a
    * snapshot table or page an alerting topic; StreamingSpec collects and
    * compares against the batch computation of the same files.
    */
  /** vectors landing schema (JSON lines: id + embedding). */
  val vectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
  ))

  /** Streaming vector ingestion into a COMMITTED IVF-PQ index
    * (Pq.ivfpqBuildIndex's layout) — how a production vector store absorbs
    * new embeddings without retraining: each micro-batch reads the tiny
    * centroid/codebook snapshots, assigns cells and PQ codes against the
    * FROZEN quantizers (one scan, the same compiled argmin kernel), and
    * MERGEs the coded rows into the cell-partitioned file table keyed by
    * vec id — re-ingesting a vector upserts its codes, and the
    * checkpoint-lineage-scoped batch-id skip (the CDC machinery above)
    * makes post-crash replays no-ops. Probes see every committed batch on
    * their next snapshot read; quantizer drift is a REBUILD (new index
    * version), never an in-place mutation — the same split FAISS deploys
    * run.
    */
  def vectorIngest(
      spark: SparkSession,
      landingDir: String,
      indexDir: String,
      checkpointDir: String,
      options: Map[String, String] = Map.empty,
  ): StreamingQuery =
    spark.readStream.options(options).schema(vectorSchema).json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fileDir = s"$indexDir/file"
        val runId = cdcRunId(checkpointDir)
        val meta = graft.io.SnapshotTable.snapshot(spark, fileDir, None).meta
        val applied = meta.get(cdcBatchIdKey).map(_.toLong)
          .filter(_ => meta.get(cdcRunIdKey).contains(runId))
        if (applied.exists(_ >= batchId)) ()
        else {
          val cents = graft.io.SnapshotTable.read(spark, s"$indexDir/centroids")
            .localCheckpoint()
          val bookRows = graft.io.SnapshotTable.read(spark, s"$indexDir/codebooks")
            .select("s", "code", "cvec").collect()
          val m = bookRows.map(_.getInt(0)).max + 1
          val ksub = bookRows.map(_.getInt(1)).max + 1
          val books = Array.ofDim[Array[Double]](m, ksub)
          bookRows.foreach(r =>
            books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
          val deduped = batch.dropDuplicates("vec_id").localCheckpoint()
          if (!deduped.isEmpty) {
            // cells + codes in one row-local pass over the batch (same
            // r18 shape as ivfAdcTopK's file build — no vec_id join-back)
            val coded = graft.similarity.Pq.encode(
                graft.similarity.Similarity.withCells(deduped, cents),
                books, carry = Seq("cell"))
              .select(col("vec_id").as("cid"), col("cell"), col("codes"),
                col("r2"))
            graft.io.SnapshotTable.merge(spark, fileDir, coded, "cid",
              meta = Map(cdcBatchIdKey -> batchId.toString,
                cdcRunIdKey -> runId))
            ()
          }
        }
      }
      .start()

  /** media landing schema (JSON lines; `payload` rides base64 — Spark's
    * JSON source encodes/decodes BinaryType that way on both directions).
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("payload", BinaryType),
    StructField("declared_format", StringType),
  ))

  /** Streaming media ingest — ENCODE ON INGEST (round-15 verdict #6): each
    * micro-batch of landed media files runs the UNCHANGED batch content
    * encoder ([[graft.multimodal.Multimodal.mediaFeatures]] — decode +
    * 4×4 grid-mean/segment-stats embed, honest-null on undecodable tiers)
    * and MERGEs (media_id, encoder, feature) into a SnapshotTable, so the
    * feature store trails the landing zone by one trigger instead of one
    * batch re-scan — at 100 TB you cannot re-decode the corpus because a
    * crawl delivered a new shard. Exactly-once via the same
    * checkpoint-lineage batch-id skip as [[vectorIngest]]/[[ledgerIngest]]
    * (a post-crash replay of a committed batch is a no-op; re-ingest of a
    * media_id upserts — last write wins, rows are content-keyed so the
    * row is identical anyway). The table is created by the first
    * non-empty batch ([[upsertLatestByUser]]'s create-or-merge shape).
    * StreamingSpec pins batch parity — streamed features bit-equal to
    * `mediaFeatures` over the same rows — and replay idempotence.
    */
  def mediaIngest(
      spark: SparkSession,
      landingDir: String,
      tableDir: String,
      checkpointDir: String,
      options: Map[String, String] = Map.empty,
  ): StreamingQuery =
    spark.readStream.options(options).schema(mediaSchema).json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val runId = cdcRunId(checkpointDir)
        val tableExists = graft.io.SnapshotTable.exists(tableDir)
        val meta =
          if (tableExists)
            graft.io.SnapshotTable.snapshot(spark, tableDir, None).meta
          else Map.empty[String, String]
        val applied = meta.get(cdcBatchIdKey).map(_.toLong)
          .filter(_ => meta.get(cdcRunIdKey).contains(runId))
        if (applied.exists(_ >= batchId)) ()
        else {
          // deterministic winner per media_id (advice r15): in a healthy
          // feed media_id is content-keyed so duplicates are identical
          // rows, but dropDuplicates keeps an ARBITRARY one — if a
          // malformed batch ever lands two different payloads under one
          // id, the stored feature must not depend on partition order.
          // max_by on (payload hash, declared_format) picks the same row on
          // every replay: a hash tie means byte-identical payloads, but the
          // DECLARED FORMAT can still differ between the tied rows (it
          // feeds the encoder tag), so it joins the ordering key rather
          // than riding partition order (review r16).
          val winners = batch
            .groupBy(col("media_id"))
            .agg(max_by(
              struct(col("payload"), col("declared_format")),
              struct(xxhash64(col("payload")), col("declared_format"))).as("w"))
            .select(col("media_id"), col("w.payload").as("payload"),
              col("w.declared_format").as("declared_format"))
          val feats = graft.multimodal.Multimodal
            .mediaFeatures(winners)
            .localCheckpoint()
          if (!feats.isEmpty) {
            val m = Map(cdcBatchIdKey -> batchId.toString, cdcRunIdKey -> runId)
            if (tableExists)
              graft.io.SnapshotTable.merge(spark, tableDir, feats, "media_id",
                meta = m)
            else graft.io.SnapshotTable.create(feats, tableDir, meta = m)
            ()
          }
        }
      }
      .start()

  /** documents landing schema (JSON lines, same columns as the batch
    * table).
    */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
  ))

  /** Streaming near-dup detection against a COMMITTED MinHash-LSH index
    * (Dedup.lshIndexBuild's layout) — how a crawling pipeline keeps its
    * corpus deduplicated INCREMENTALLY instead of re-running the O(corpus)
    * join per refresh: each micro-batch computes its docs' band hashes +
    * shingle sets against the FROZEN banding parameters, MERGEs them into
    * the index snapshot keyed by doc id (re-ingest upserts; the
    * checkpoint-lineage batch-id skip makes post-crash replays no-ops),
    * then probes the merged snapshot — banded candidates, exact rescore —
    * so `sink` receives exactly the near-dup pairs involving this batch's
    * docs, precision 1. Every pair of the growing corpus is reported
    * exactly once: in the batch where its LATER member arrives (both
    * members of the probe snapshot, one side from the batch). Per-batch
    * cost is batch-size band probes against an equality-keyed join —
    * never a corpus×corpus rescan — which is the operational difference
    * between this and q_dedup_minhash_lsh at 100 TB.
    */
  def dedupIngest(
      spark: SparkSession,
      landingDir: String,
      indexDir: String,
      checkpointDir: String,
      t: Double,
      sink: (DataFrame, Long) => Unit,
      options: Map[String, String] = Map.empty,
  ): StreamingQuery =
    spark.readStream.options(options).schema(docSchema).json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val runId = cdcRunId(checkpointDir)
        val meta = graft.io.SnapshotTable.snapshot(spark, indexDir, None).meta
        val applied = meta.get(cdcBatchIdKey).map(_.toLong)
          .filter(_ => meta.get(cdcRunIdKey).contains(runId))
        val deduped = batch.dropDuplicates("doc_id").localCheckpoint()
        if (!deduped.isEmpty) {
          // MERGE is exactly-once (batch-id skip); the sink is
          // at-least-once: a crash AFTER the merge committed but before
          // the sink ran must re-deliver this batch's pairs on replay, so
          // the probe+sink runs even on the skip path — re-probing an
          // already-merged batch is idempotent and returns the same pairs
          if (!applied.exists(_ >= batchId)) {
            graft.io.SnapshotTable.merge(spark, indexDir,
              graft.dedup.Dedup.lshIndexRows(deduped), "doc_id",
              meta = Map(cdcBatchIdKey -> batchId.toString,
                cdcRunIdKey -> runId))
          }
          sink(
            graft.dedup.Dedup.lshIndexProbe(deduped, indexDir, t)
              .withColumn("batch_id", lit(batchId)),
            batchId)
        }
      }
      .start()

  /** Exactly-once twin of [[dedupIngest]] for PULL consumers: instead of
    * pushing each batch's near-dup pairs to a sink (at-least-once on a
    * crash replay), the pairs MERGE into their own SnapshotTable keyed on
    * the (i, j) pair itself. A replayed batch re-probes the index — which
    * the batch-id skip left exactly as the first attempt committed it —
    * and upserts the IDENTICAL rows, so the pairs table converges to the
    * same content no matter where a crash fell between the index merge
    * and the pairs merge: idempotent delivery end-to-end. Downstream
    * consumers read the table (or follow its change feed incrementally);
    * push consumers that can dedup on their side keep [[dedupIngest]].
    */
  def dedupIngestPairs(
      spark: SparkSession,
      landingDir: String,
      indexDir: String,
      pairsDir: String,
      checkpointDir: String,
      t: Double,
      options: Map[String, String] = Map.empty,
  ): StreamingQuery =
    spark.readStream.options(options).schema(docSchema).json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val runId = cdcRunId(checkpointDir)
        val meta = graft.io.SnapshotTable.snapshot(spark, indexDir, None).meta
        val applied = meta.get(cdcBatchIdKey).map(_.toLong)
          .filter(_ => meta.get(cdcRunIdKey).contains(runId))
        val deduped = batch.dropDuplicates("doc_id").localCheckpoint()
        if (!deduped.isEmpty) {
          if (!applied.exists(_ >= batchId)) {
            graft.io.SnapshotTable.merge(spark, indexDir,
              graft.dedup.Dedup.lshIndexRows(deduped), "doc_id",
              meta = Map(cdcBatchIdKey -> batchId.toString,
                cdcRunIdKey -> runId))
          }
          // keyed on the PAIR, not the batch: replay upserts equal rows
          val pairs = graft.dedup.Dedup.lshIndexProbe(deduped, indexDir, t)
            .withColumn("batch_id", lit(batchId))
            .withColumn("pair_key",
              concat_ws("\u001F", col("i"), col("j")))
            .localCheckpoint()
          if (!pairs.isEmpty) {
            if (!graft.io.SnapshotTable.exists(pairsDir))
              graft.io.SnapshotTable.create(pairs, pairsDir)
            else
              graft.io.SnapshotTable.merge(spark, pairsDir, pairs, "pair_key")
            ()
          }
        }
      }
      .start()

  /** Streaming ingestion that keeps a fact table AND its incremental
    * ledger current — the full warehouse loop (ingest → change feed →
    * materialized aggregate) in one foreachBatch: each micro-batch MERGEs
    * into the source SnapshotTable (checkpoint-lineage batch-id skip, as
    * every ingest here), then [[graft.io.IncrementalView.refresh]] rolls
    * the ledger forward by reading exactly the files the new commits
    * touched. The refresh keys off the ledger's recorded source version,
    * so it is idempotent on its own: a crash after the table merge but
    * before the refresh just leaves the next batch's refresh a two-commit
    * delta, and a replayed batch refreshes into a no-op.
    */
  def ledgerIngest(
      spark: SparkSession,
      landingDir: String,
      tableDir: String,
      viewDir: String,
      checkpointDir: String,
      keys: Seq[String],
      sumCols: Seq[String],
      options: Map[String, String] = Map.empty,
  ): StreamingQuery =
    spark.readStream.options(options).schema(docSchema).json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val runId = cdcRunId(checkpointDir)
        val meta = graft.io.SnapshotTable.snapshot(spark, tableDir, None).meta
        val applied = meta.get(cdcBatchIdKey).map(_.toLong)
          .filter(_ => meta.get(cdcRunIdKey).contains(runId))
        val deduped = batch.dropDuplicates("doc_id").localCheckpoint()
        if (!applied.exists(_ >= batchId) && !deduped.isEmpty) {
          graft.io.SnapshotTable.merge(spark, tableDir,
            deduped.select("doc_id", "source", "n_chars"), "doc_id",
            meta = Map(cdcBatchIdKey -> batchId.toString, cdcRunIdKey -> runId))
        }
        // roll the ledger to whatever the table now holds — also heals a
        // prior crash between merge and refresh
        graft.io.IncrementalView.refresh(spark, tableDir, viewDir, keys, sumCols)
        ()
      }
      .start()

  def psiDriftPerBatch(
      spark: SparkSession,
      landingDir: String,
      reference: DataFrame,
      sink: (DataFrame, Long) => Unit,
      options: Map[String, String] = Map.empty,
  ): StreamingQuery =
    readEvents(spark, landingDir, options).writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(
          graft.queries.Analytics
            .psiFromCounts(reference, graft.queries.Analytics.bucketCounts(batch))
            .withColumn("batch_id", lit(batchId)),
          batchId)
      }
      .start()
}
