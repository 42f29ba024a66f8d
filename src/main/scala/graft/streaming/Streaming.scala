package graft.streaming

import graft.spark.MarcContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** Structured Streaming extensions (SURVEY §2.10).
  *
  * The reference has no stream semantics — its threaded index
  * maintenance on commit (dlx/marc/__init__.py:960-964,1059-1063) is
  * async batch work. The Spark-native generalization: record upserts
  * arrive as a stream and the derived tables (tag index, browse
  * index) are incrementally maintained with foreachBatch — each
  * micro-batch recomputes only the index keys its records touch and
  * merges them into the materialized index. Event-time analytics get
  * real watermarked windows.
  */
final case class SessEvent(user_id: Long, ts: java.sql.Timestamp,
    ts_s: Long, event_id: Long)
final case class SessState(start: Long, last: Long, n: Long)
final case class SessOut(user_id: Long, session_start_s: Long,
    session_end_s: Long, n_events: Long)

object Streaming {

  /** Incremental tag-index maintenance: per micro-batch, compute the
    * batch's index entries and merge into the target parquet index
    * (delete-and-replace the touched (tag, raw) keys — the stream
    * analog of the reference's $addToSet upserts). */
  def maintainTagIndex(records: DataFrame, indexPath: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    records.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val delta = MarcContext.tagIndex(batch).localCheckpoint(true)
        val existingDir = new java.io.File(indexPath)
        val merged = if (existingDir.exists()) {
          val existing = spark.read.parquet(indexPath)
          existing.join(delta.select(col("tag").as("d_tag"), col("raw").as("d_raw")),
              existing("tag") === col("d_tag") && existing("raw") === col("d_raw"), "left_anti")
            .unionByName(delta)
            .localCheckpoint(true)
        } else delta
        val tmp = indexPath + "_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        if (existingDir.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
          }
          rm(existingDir)
        }
        new java.io.File(tmp).renameTo(existingDir)
        spark.catalog.refreshByPath(indexPath)
      }

  /** Streaming ingest into the bucketed store: each micro-batch goes
    * through the FULL MarcStore.commit path — id assignment, audit
    * stamping, auth validation, touched-bucket rewrite, append-only
    * history, heading-change cascade. Write amplification per batch is
    * O(touched buckets), so a continuous record feed maintains the
    * store + its versioning exactly like discrete batch commits. */
  def commitStream(records: DataFrame, store: graft.store.MarcStore, user: String,
      checkpoint: String, authCheck: Boolean = true): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.spark.{MarcRow, MarcSchema}
    records.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.commit(batch.as[MarcRow](MarcSchema.marcRowEncoder), user, authCheck = authCheck)
      }
  }

  /** Streaming exact dedup: first-seen document per content hash
    * within the watermark horizon — the streaming form of the batch
    * q16 hash-group dedup. `dropDuplicatesWithinWatermark` (not plain
    * `dropDuplicates`) so per-key state is actually EVICTED once the
    * watermark passes; with a non-event-time key, plain dropDuplicates
    * keeps state forever. */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", org.apache.spark.sql.functions.md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming benchmark decontamination — the streaming form of the
    * batch q67: each arriving document's 3-token n-grams probe the
    * STATIC benchmark n-gram table (stream-static equi-join, stateless,
    * broadcast on the small static side); contaminated docs are
    * emitted once, with per-doc dedup state bounded by the watermark.
    * `benchGrams` must have a single `g` column of n-gram strings. */
  def decontaminateStream(docs: DataFrame, benchGrams: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions._
    docs
      .withWatermark("ts", watermark)
      // fan the micro-batch out BEFORE the shingle explode (round 13,
      // guide §2.5 input parallelism): a single-file source arrives as
      // one scan task, so the n-gram explode + probe otherwise run on
      // one core. Keyed on doc_id — the same key the dedup below needs,
      // so the explode's output is already partitioned for it and the
      // stateful operator adds no second exchange of the gram stream.
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("ts"),
        explode_outer(graft.queries.TextOps.shingleArray(split(col("text"), " "), 3)).as("g"))
      .join(broadcast(benchGrams), "g")
      .dropDuplicatesWithinWatermark("doc_id")
      .select("doc_id", "ts")
  }

  /** Watermarked tumbling-window event counts — the streaming form of
    * the batch q11 plan (same logical plan under readStream). */
  def eventWindowCounts(events: DataFrame, watermark: String = "1 hour",
      window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      // DECIMAL(20,2) accumulation: double sums are accumulation-order-
      // dependent, which would make the q85 oracle comparison flaky
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Stream-stream event-time INTERVAL JOIN — the last Structured
    * Streaming join shape (q85 = windowed agg, q86 = stream-static,
    * q119 = custom state): click→purchase attribution, matching each
    * purchase to the same user's clicks in the preceding
    * `windowSeconds`. Both sides are watermarked and the join
    * condition carries the event-time range, so Spark derives a state
    * watermark per side and evicts rows that can no longer match —
    * state ∝ (events within the window + allowed lateness), not
    * history. `delay` is the lateness SLA; the gate passes a value ≥
    * the corpus time span so no row is late and the finite replay is
    * exact (production tunes it to ingestion lag).
    *
    * Timestamps are floored to whole seconds BEFORE watermarking:
    * the range predicate then compares integer seconds, which an
    * external oracle replays exactly (micros-precision endpoints
    * would make the window boundary engine-dependent). */
  def attributionJoin(events: DataFrame, windowSeconds: Long = 1800L,
      delay: String = "35 days"): DataFrame = {
    def side(kind: String, idAs: String, tsAs: String, userAs: String) =
      events.where(col("event_type") === kind)
        .select(col("user_id").as(userAs), col("event_id").as(idAs),
          col("ts").cast("long").cast("timestamp").as(tsAs))
        .withWatermark(tsAs, delay)
    val clicks = side("click", "click_id", "click_ts", "user_id")
    val purchases = side("purchase", "purchase_id", "purchase_ts", "p_user")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("purchase_ts").cast("long") - col("click_ts").cast("long")).as("delay_s"))
  }

  /** STREAMING gap sessionization with real custom state —
    * `flatMapGroupsWithState` + event-time timeout, the
    * KeyValueGroupedDataset state API the batch q20 window form
    * cannot express. Per user, the open session lives in GroupState;
    * a session closes (and emits, Append mode) either when a later
    * same-user event arrives beyond the gap, or when the event-time
    * watermark passes the session's end + gap (timeout fires in the
    * watermark-advance micro-batch — Spark runs a no-data batch at
    * end of an AvailableNow stream precisely for this). State per
    * key is ONE fixed-size session struct; the watermark bounds
    * total state: at 100 TB/day this is the canonical unbounded-
    * stream shape, state ∝ active users, not history.
    *
    * Events within a micro-batch arrive unordered; the group handler
    * sorts its batch slice by (ts_s, event_id) — bounded by the
    * user's per-batch volume. Emission rule is exactly replayable in
    * SQL: every session followed by a same-user successor emits,
    * plus the final session iff end + gap < corpus max ts (the final
    * watermark with a 0s delay). */
  def streamSessions(events: DataFrame, gapSeconds: Long = 1800)
      : org.apache.spark.sql.Dataset[SessOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // the watermarked `ts` column must SURVIVE into the stateful
    // operator's child plan (projecting it away fails the event-time-
    // timeout plan check), so it rides along in the typed row
    val typed = events
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("ts").cast("long").as("ts_s"),
        col("event_id").cast("long").as("event_id"))
      .as[SessEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[SessEvent],
         state: org.apache.spark.sql.streaming.GroupState[SessState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessOut(uid, s.start, s.last, s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts_s, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessOut]
            var cur = state.getOption
            for (e <- sorted) {
              cur match {
                case Some(s) if e.ts_s - s.last > gapSeconds =>
                  closed += SessOut(uid, s.start, s.last, s.n)
                  cur = Some(SessState(e.ts_s, e.ts_s, 1L))
                case Some(s) =>
                  cur = Some(SessState(s.start, e.ts_s, s.n + 1L))
                case None =>
                  cur = Some(SessState(e.ts_s, e.ts_s, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last + gapSeconds) * 1000L)
            }
            closed.iterator
          }
      }
  }
}
