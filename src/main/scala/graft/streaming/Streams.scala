package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** §2.10 — the streaming variant of the engine. The reference is
  * incremental nightly batch (watermark-by-max + day-at-a-time loops,
  * /root/reference/R/4) Update-SensorData-Nightly.R:7-13); the idiomatic
  * Spark equivalents are (a) an idempotent per-date batch overwrite and
  * (b) a Structured Streaming file source with `Trigger.AvailableNow` —
  * same nightly semantics, but checkpointed and late-data-aware, which
  * the reference explicitly lacks (README.md:37 acknowledges missed
  * days as future work).
  *
  * State discipline at scale: the 15-min aggregation keys state by
  * (sensor, window); the watermark bounds state size — windows older
  * than the watermark are finalized and evicted. Gap detection keys
  * state by sensor only (one small record each).
  */
object Streams {

  /** File-source stream of raw 30-sec readings (S3's streaming form).
    * `maxFilesPerTrigger` caps micro-batch size for steady backfill.
    */
  def readRaw30s(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(graft.traffic.Schemas.raw30s)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** A1 as a streaming windowed aggregation: tumbling 15-min windows
    * per sensor with NA-skipping sums and pct-null, late data admitted
    * up to `lateness`.
    */
  def agg15Min(raw: DataFrame, lateness: String = "1 hour"): DataFrame = {
    val withTs = raw.withColumn("ts",
      graft.ops.TimeOps.composeTimestamp(col("date"), col("hour"), col("min")))
    withTs
      .withWatermark("ts", lateness)
      .groupBy(col("sensor"), window(col("ts"), "15 minutes"))
      .agg(
        coalesce(sum(col("volume")), lit(0)).cast("int").as("VOLUME_SUM"),
        graft.ops.Aggs.pctNull(col("volume")).as("VOLUME_PCT_NULL"),
        coalesce(sum(col("occupancy")), lit(0)).cast("int").as("OCCUPANCY_SUM"),
        graft.ops.Aggs.pctNull(col("occupancy")).as("OCCUPANCY_PCT_NULL"))
      .select(col("sensor").as("DETECTOR_NAME"),
        col("window.start").as("START_DATETIME"),
        col("VOLUME_SUM"), col("VOLUME_PCT_NULL"),
        col("OCCUPANCY_SUM"), col("OCCUPANCY_PCT_NULL"))
  }

  final case class Reading(sensor: String, ts: java.sql.Timestamp)
  final case class Gap(sensor: String, gapStart: java.sql.Timestamp,
                       gapEnd: java.sql.Timestamp, gapSec: Long)
  final case class LastSeen(epochMs: Long)

  /** Custom keyed state via flatMapGroupsWithState: emit a Gap row
    * whenever a sensor goes silent for more than `gapSec` between
    * consecutive readings (the streaming analogue of the reference's
    * all-null-day retry detector, S4).
    */
  def detectGaps(readings: Dataset[Reading], gapSec: Long): Dataset[Gap] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.sensor)
      .flatMapGroupsWithState[LastSeen, Gap](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (sensor, rows, state: GroupState[LastSeen]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          val start = state.getOption.map(_.epochMs)
          val (gaps, last) = sorted.foldLeft(
            (Vector.empty[Gap], start)) { case ((acc, prev), r) =>
            val t = r.ts.getTime
            val g = prev match {
              case Some(p) if t - p > gapSec * 1000 =>
                acc :+ Gap(sensor, new java.sql.Timestamp(p),
                  new java.sql.Timestamp(t), (t - p) / 1000)
              case _ => acc
            }
            (g, Some(math.max(t, prev.getOrElse(0L))))
          }
          last.foreach(l => state.update(LastSeen(l)))
          gaps.iterator
      }
  }

  /** Streaming exact dedup — the training-data pipeline's dedup story
    * in streaming form: drop repeats of `keyCols` arriving within the
    * watermark delay of each other. State is bounded: key fingerprints
    * older than the watermark are evicted (vs unbounded plain
    * `dropDuplicates` state).
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, lateness: String,
                           keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** The dedup family's store-backed streaming leg — q85's incremental
    * dedup driven from a STREAM of document-arrival batches, completing
    * the batch/stream parity triad (15-min agg r6, SCD-2 r7, dedup
    * store r8). Arrivals carry an `arrivalCol` batch label; each
    * micro-batch may contain several arrival batches (a backfill), and
    * they fold in label order — [[graft.ops.Dedup.incrementalDedup]]
    * decisions against the store-so-far append to `decisionsDir`, then
    * the batch's store contribution (min-id doc per text not already in
    * the store, via [[graft.ops.Dedup.exactDedup]] + the non-exact-dup
    * decisions) appends to `storeDir`, keeping the store md5-unique.
    * The first-ever arrival bootstraps an empty store.
    *
    * State discipline mirrors [[scd2Stream]]: the store IS the state,
    * kept in the warehouse (unique-text sized, not arrival-sized);
    * per-fold frames are eagerly checkpointed before any write so no
    * plan re-reads a path mid-overwrite. Folds are IDEMPOTENT, which is
    * what upgrades `foreachBatch`'s at-least-once replay into
    * exactly-once EFFECTS: both sinks are label-partitioned dynamic
    * overwrites (a replayed fold rewrites its own partitions rather
    * than appending contradictory duplicates), and each fold reads the
    * store restricted to labels STRICTLY BEFORE its own — so a crash
    * between the decisions write and the store write (or between
    * labels of a multi-label micro-batch) replays against the exact
    * store view the first attempt saw, even when its own or a later
    * label's contribution already landed. This pins the label
    * contract: labels are unique per arrival batch and sort ascending
    * across the stream's lifetime (date-stamped batch ids — the
    * nightly shape). The per-batch distinct-labels collect is bounded
    * by batches-per-trigger, never rows.
    */
  def dedupStream(arrivals: DataFrame, arrivalCol: String,
                  textCol: String, idCol: String,
                  storeDir: String, decisionsDir: String,
                  checkpointDir: String,
                  shingleN: Int = 3, threshold: Double = 0.7): Unit = {
    import graft.ops.Dedup
    val spark = arrivals.sparkSession
    val q = arrivals.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val labels = batch.select(col(arrivalCol).cast("string")).distinct()
          .collect().map(_.getString(0)).sorted
        // Hadoop FS resolved from the path, not java.io.File: storeDir
        // may live on HDFS/S3, where a local-FS probe would silently
        // re-bootstrap an existing store
        val storePath = new org.apache.hadoop.fs.Path(storeDir)
        val fs = storePath.getFileSystem(spark.sessionState.newHadoopConf())
        labels.foreach { label =>
          val arrival = batch.where(col(arrivalCol).cast("string") === label)
            .select(col(idCol), col(textCol))
          // this fold's store view: contributions from labels strictly
          // before it — the replay-stability anchor (see scaladoc)
          val store =
            if (fs.exists(storePath))
              graft.core.Tables.parquet(spark, storeDir)
                .where(col(arrivalCol) < lit(label))
                .select(col(idCol), col(textCol))
            else arrival.limit(0)
          val decisions = Dedup.incrementalDedup(arrival, store,
            textCol, idCol, shingleN, threshold)
            .withColumn(arrivalCol, lit(label))
            .localCheckpoint(true) // materialize BEFORE touching storeDir
          decisions.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(arrivalCol)
            .parquet(decisionsDir)
          // a dynamic overwrite REPLACES part files; drop the stale
          // leaf-file listings from the shared FileStatusCache or the
          // next same-JVM read of the path lists dropped files
          spark.catalog.refreshByPath(decisionsDir)
          val adds = Dedup.exactDedup(arrival, textCol, idCol)
            .join(decisions.where(!col("exact_dup")).select(col(idCol)),
              Seq(idCol), "leftsemi")
            .select(col(idCol), col(textCol))
            .withColumn(arrivalCol, lit(label))
            .localCheckpoint(true)
          adds.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(arrivalCol)
            .parquet(storeDir)
          spark.catalog.refreshByPath(storeDir)
        }
      }
      .start()
    q.awaitTermination()
  }

  /** J8's streaming form: enrich the stream against a STATIC dimension
    * with a broadcast hash join — stateless, no watermark; the dim
    * rides to executors with each micro-batch plan, so the stream never
    * shuffles for the join (at 100 TB/day the stream side is the only
    * unbounded thing; config dims stay broadcast-scale).
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  final case class Event(user: String, ts: java.sql.Timestamp)
  final case class SessionizedEvent(user: String, ts: java.sql.Timestamp,
                                    sessionId: Long)
  final case class SessionState(lastMs: Long, sessionId: Long)

  /** Streaming sessionization — the batch gaps-and-islands (q27) as
    * keyed state: a new session opens when the gap to the user's
    * previous event exceeds `gapSec`; ids are per-user monotone
    * counters that survive micro-batch boundaries (one small state
    * record per user). Events are ordered within a micro-batch; with
    * out-of-order arrival across batches pair this with an upstream
    * watermark + dedup.
    */
  def sessionize(events: Dataset[Event], gapSec: Long): Dataset[SessionizedEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user)
      .flatMapGroupsWithState[SessionState, SessionizedEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          val out = sorted.map { e =>
            val t = e.ts.getTime
            val sid =
              if (st.lastMs != Long.MinValue && t - st.lastMs <= gapSec * 1000)
                st.sessionId
              else st.sessionId + 1
            st = SessionState(t, sid)
            SessionizedEvent(user, e.ts, sid)
          }
          state.update(st)
          out.iterator
      }
  }

  final case class Turn(user: Long, ts: java.sql.Timestamp, eventId: Long,
                        label: String)
  final case class ConvTurn(tsMs: Long, eventId: Long, label: String)
  final case class ConvState(turns: Seq[ConvTurn], nEvents: Long,
                             startMs: Long, lastMs: Long)
  final case class Conversation(user: Long, sessStart: java.sql.Timestamp,
                                nEvents: Long, nTurns: Long, transcript: String,
                                nViolations: Long, truncated: Boolean)

  /** Streaming parity leg of the batch conversation assembler
    * (`Conversations.assemble`, q170): sessions close and emit their
    * assembled transcript EXACTLY ONCE, either when a same-user event
    * past the inactivity gap arrives (in-line close) or when the
    * watermark passes `last event + gap` (EventTimeTimeout — idle
    * sessions do not wait for the user's next visit to finalize).
    *
    * State per live session is bounded by construction: the turn
    * buffer caps at `maxTurns` (later events only bump `nEvents`), so
    * one never-idle key holds O(maxTurns) state forever, not O(events).
    * Turns sort by (ts, eventId) at emission, so modest cross-batch
    * reorder inside the watermark lands in the right transcript order;
    * the cap itself keeps first-ARRIVED turns (pair with an upstream
    * dedup/sort when arrival order is adversarial).
    */
  def assembleConversations(events: Dataset[Turn], gapSec: Long,
                            maxTurns: Int, lateness: String)
      : Dataset[Conversation] = {
    import events.sparkSession.implicits._
    require(maxTurns > 0, s"maxTurns must be positive, got $maxTurns")

    def close(user: Long, s: ConvState): Conversation = {
      val ordered = s.turns.sortBy(t => (t.tsMs, t.eventId))
      val viol = ordered.sliding(2).count {
        case Seq(a, b) => a.label == b.label
        case _ => false
      }
      Conversation(user, new java.sql.Timestamp(s.startMs), s.nEvents,
        ordered.size.toLong, ordered.map(_.label).mkString(">"),
        viol.toLong, s.nEvents > maxTurns)
    }

    events.withWatermark("ts", lateness)
      .groupByKey(_.user)
      .flatMapGroupsWithState[ConvState, Conversation](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(user, _))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId))
            val closed = scala.collection.mutable.Buffer[Conversation]()
            var st = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              st match {
                case Some(s) if t - s.lastMs <= gapSec * 1000 =>
                  st = Some(s.copy(
                    turns =
                      if (s.turns.size < maxTurns)
                        s.turns :+ ConvTurn(t, e.eventId, e.label)
                      else s.turns,
                    nEvents = s.nEvents + 1, lastMs = t))
                case other =>
                  other.foreach(s => closed += close(user, s))
                  st = Some(ConvState(
                    Seq(ConvTurn(t, e.eventId, e.label)), 1L, t, t))
              }
            }
            st.foreach { s =>
              state.update(s)
              // the timeout must sit past the current watermark; a late
              // straggler inside `lateness` could otherwise compute one
              // at-or-before it, which Spark rejects
              state.setTimeoutTimestamp(math.max(
                s.lastMs + gapSec * 1000,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** Built-in session-window aggregation — the declarative counterpart
    * to [[sessionize]]: `session_window(ts, gap)` lets the engine own
    * the session state (merge-on-overlap, watermark eviction), where
    * flatMapGroupsWithState owns it by hand. Prefer this form when the
    * output is per-SESSION aggregates (count/min/max below); keep the
    * stateful form when each EVENT must be tagged with its session id.
    * Watermark bounds state: sessions whose close precedes
    * (max event time − lateness) finalize and emit exactly once.
    */
  def sessionWindowAgg(df: DataFrame, tsCol: String, keyCols: Seq[String],
                       gap: String, lateness: String): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("first_ts"), max(col(tsCol)).as("last_ts"))
      .select(keyCols.map(col) :+
        col("session_window.start").as("session_start") :+
        col("session_window.end").as("session_end") :+
        col("n_events") :+ col("first_ts") :+ col("last_ts"): _*)

  /** Stream-stream interval join: match right-stream rows to left rows
    * within `[left.ts, left.ts + boundSec]`. Both sides are watermarked
    * — that is what lets the engine drop buffered rows once they can no
    * longer match (unbounded join state is the classic stream-join
    * leak). Keys equi-join (shuffle on key, the only scalable layout
    * for two unbounded sides); the time bound is the join residual.
    * Columns from both sides survive with their original names —
    * callers alias beforehand on collision.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, lateness: String,
                   boundSec: Long): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $boundSec SECONDS"))
      .drop(r(key))
  }

  /** Streaming incremental-aggregate maintenance: fold each micro-batch
    * into a stored per-key rollup with the SAME merge the nightly path
    * uses (`Aggs.aggState`/`mergeAggState` — q93) — one code path for
    * both cadences, which is the point: the "streaming vs batch"
    * distinction collapses to trigger choice when the aggregate is
    * mergeable. `foreachBatch` gives exactly-once-per-batch semantics
    * via the checkpoint; the store rewrite touches the KEY SPACE, not
    * history (at warehouse scale the store is partitioned and only
    * affected partitions rewrite — here, the single-dir test shape
    * rewrites the whole small state table).
    */
  def mergeAggStream(df: DataFrame, keys: Seq[String], valueCol: String,
                     storeDir: String, checkpointDir: String): Unit = {
    import graft.ops.Aggs
    val spark = df.sparkSession
    val q = df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val batchState = Aggs.aggState(batch, keys, valueCol)
        // Hadoop FS, not java.io.File: storeDir may live on HDFS/S3
        val storePath = new org.apache.hadoop.fs.Path(storeDir)
        val storeFs = storePath.getFileSystem(spark.sessionState.newHadoopConf())
        val merged =
          if (storeFs.exists(storePath)) {
            val store = graft.core.Tables.parquet(spark, storeDir)
            // schema-aligned merge (decimal sums read back as decimal)
            Aggs.mergeAggState(store, batchState, keys)
          } else batchState
        // materialize before overwriting the input path
        val rows = merged.localCheckpoint(true)
        rows.write.mode("overwrite").parquet(storeDir)
      }
      .start()
    q.awaitTermination()
  }

  /** §2.8's streaming leg: SCD-2 dimension maintenance driven from a
    * STREAM of dated config-snapshot arrivals — the config half of the
    * nightly job in the same Trigger.AvailableNow shape as the sensor
    * half ([[mergeAggStream]]). Each micro-batch may carry several
    * snapshot days (a backfill); days fold through `Scd2.merge` in
    * date order against the stored dimension, so the streamed
    * dimension and changelog are hash-equal to the one-pass batch
    * backfill `Scd2.history` of the same snapshots (pinned by
    * StreamsSpec). The first-ever snapshot bootstraps the dimension
    * with no changelog rows, matching the run-once initial load.
    *
    * State discipline: the dimension itself IS the state, stored in
    * the warehouse (key-space sized, not history-sized); the changelog
    * only appends. The per-day distinct-dates collect is bounded by
    * days-per-batch, never rows. `foreachBatch` + the checkpoint give
    * exactly-once-per-batch folds across restarts.
    */
  def scd2Stream(snapshots: DataFrame, dateCol: String,
                 opts: graft.ops.Scd2.Options,
                 dimDir: String, changelogDir: String,
                 checkpointDir: String): Unit = {
    import graft.ops.Scd2
    val spark = snapshots.sparkSession
    val q = snapshots.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val days = batch.select(col(dateCol).cast("string")).distinct()
          .collect().map(_.getString(0)).sorted
        // Hadoop FS, not java.io.File: dimDir may live on HDFS/S3
        val dimPath = new org.apache.hadoop.fs.Path(dimDir)
        val dimFs = dimPath.getFileSystem(spark.sessionState.newHadoopConf())
        days.foreach { day =>
          val snap = batch.where(col(dateCol).cast("string") === day)
            .drop(dateCol)
          if (!dimFs.exists(dimPath)) {
            snap.withColumn(opts.startCol, to_date(lit(day)))
              .withColumn(opts.endCol, to_date(lit(opts.openEnd)))
              .withColumn(opts.deactivateCol, lit(false))
              .write.mode("overwrite").parquet(dimDir)
          } else {
            val r = Scd2.merge(graft.core.Tables.parquet(spark, dimDir), snap, day, opts)
            // materialize BOTH legs before overwriting the dim input path
            val dim = r.dim.localCheckpoint(true)
            val log = r.changelog.localCheckpoint(true)
            dim.write.mode("overwrite").parquet(dimDir)
            log.write.mode("append").parquet(changelogDir)
          }
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming corpus publisher: fold each micro-batch of keyed
    * arrivals into the current published corpus version and publish
    * the result as the NEXT immutable version (`Warehouse
    * .publishVersion`) — a streaming materialized view with snapshot
    * isolation: downstream readers always see a complete, immutable
    * version; a publish mid-read disturbs nobody; history is
    * time-travelable and diffable (`Versioning.datasetDiff`).
    *
    * Fold semantics are insert-only by `keyCol` (arrivals whose key
    * already exists in the current version are dropped), which makes
    * the fold CONTENT-idempotent: a replayed batch adds nothing. On
    * top of that, a `_BATCH` marker inside each version dir lets a
    * replay skip publishing entirely; the only crash-window artifact
    * is an extra version with identical content — never duplicate or
    * lost rows.
    *
    * Scale shape: each fold is one broadcast-able anti-join of the
    * (small) batch against the current version plus one append-style
    * write of base ∪ fresh; state is the published corpus itself, and
    * version retention is `expireVersions` (directory drops).
    */
  def publishStream(arrivals: DataFrame, keyCol: String, table: String,
                    whRoot: String, checkpointDir: String): Unit = {
    val spark = arrivals.sparkSession
    val q = arrivals.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = new graft.core.Warehouse(spark, whRoot)
        val conf = spark.sessionState.newHadoopConf()
        def markerPath(v: Int) = new org.apache.hadoop.fs.Path(
          f"$whRoot/$table/v=$v%05d/_BATCH")
        val already = w.currentVersion(table).exists { v =>
          val p = markerPath(v)
          val fs = p.getFileSystem(conf)
          fs.exists(p) && {
            val in = fs.open(p)
            val s = try scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString.trim finally in.close()
            s == batchId.toString
          }
        }
        if (!already) {
          // insert-only must hold WITHIN the batch too: two arrivals
          // sharing a key in one micro-batch would both survive the
          // anti-join against the current version (r9 advice)
          val batchOnce = batch.dropDuplicates(keyCol)
          val fresh = w.currentVersion(table) match {
            case None => batchOnce
            case Some(v) =>
              batchOnce.join(w.readVersion(table, v).select(col(keyCol)),
                Seq(keyCol), "left_anti")
          }
          // materialize: the union below reads the CURRENT version dir
          // while the publish writes a NEW dir, so no read-under-write
          val next = w.currentVersion(table) match {
            case None => fresh
            case Some(v) => w.readVersion(table, v).unionByName(fresh)
          }
          val v = w.publishVersion(next, table)
          val p = markerPath(v)
          val fs = p.getFileSystem(conf)
          val out = fs.create(p, true)
          try out.write(batchId.toString.getBytes("UTF-8"))
          finally out.close()
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming drift monitor: per micro-batch, compare the batch's
    * bucket distribution against a STATIC baseline profile with the
    * batch-side drift op (`Profiling.drift` — q109) and append the
    * per-bucket report (tagged with the batch id) to a parquet monitor
    * sink. The "is today's feed shaped like yesterday's" alarm as a
    * stream — one tiny report per batch, never a second scan of
    * history.
    *
    * `bucketExpr` is evaluated against both sides (baseline rows count
    * as the "old" slice, batch rows as "new"), so the monitor inherits
    * the drift op's exact-ppm discipline.
    */
  def driftMonitor(stream: DataFrame, baseline: DataFrame, bucketExpr: Column,
                   monitorDir: String, checkpointDir: String): Unit = {
    import graft.ops.Profiling
    val base = baseline.select(bucketExpr.as("__bucket"))
      .withColumn("__new", lit(false))
      .localCheckpoint(false) // static side: evaluate the baseline once
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.select(bucketExpr.as("__bucket"))
          .withColumn("__new", lit(true))
        val report = Profiling.drift(base.unionByName(b),
          col("__new"), col("__bucket"))
        report.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(monitorDir)
      }
      .start()
    q.awaitTermination()
  }

  final case class HeavyHit(shard: Int, token: String, count: Long,
                            error: Long)

  /** Streaming heavy hitters: the batch SpaceSaving sketch
    * ([[graft.ops.HeavyHitters]], q47) carried as keyed streaming
    * state. Tokens are sharded by hash; each shard holds ONE
    * `capacity`-entry sketch that absorbs every micro-batch (the exact
    * insertion step is shared with the batch Aggregator, so the two
    * paths cannot drift), and each batch re-emits its current summary —
    * OutputMode.Update, last-write-wins per (shard, token) downstream.
    *
    * State is bounded at shards × capacity entries FOREVER, regardless
    * of stream cardinality — the property that makes top-k over an
    * unbounded token stream feasible at all. Sharding multiplies
    * sketch capacity (each shard sees a hash-disjoint token subset, so
    * per-token counts stay single-sketch exact-or-overestimated with
    * the same N/capacity-per-shard guarantee) and spreads the offer
    * work across executors.
    */
  def heavyHitters(tokens: org.apache.spark.sql.Dataset[String],
                   capacity: Int, shards: Int = 8):
      org.apache.spark.sql.Dataset[HeavyHit] = {
    import tokens.sparkSession.implicits._
    import graft.ops.HeavyHitters.{offer, Entry}
    tokens
      .filter((t: String) => t != null)
      .groupByKey(t => math.floorMod(t.hashCode, shards))
      .flatMapGroupsWithState[Map[String, (Long, Long)], HeavyHit](
        OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        (shard, rows, state: GroupState[Map[String, (Long, Long)]]) =>
          val sketch = new scala.collection.mutable.HashMap[String, Entry]
          state.getOption.getOrElse(Map.empty).foreach { case (k, (c, e)) =>
            sketch.update(k, Entry(c, e))
          }
          rows.foreach(t => offer(sketch, capacity, t, 1, 0))
          state.update(sketch.map { case (k, e) =>
            k -> ((e.count, e.error))
          }.toMap)
          sketch.iterator.map { case (k, e) =>
            HeavyHit(shard, k, e.count, e.error)
          }
      }
  }

  /** Continuous-curation ingest: tail a sharded-JSONL directory (the
    * `core.Export` sink's layout — the training-data interchange
    * format) as a file-source stream. The schema is explicit for the
    * same reason as `Export.readJsonlShards`: streaming inference is
    * impossible and a JSONL corpus carries no schema. File-source
    * semantics give exactly-once per FILE (the checkpoint records
    * processed files), so a producer appending whole shards and a
    * curation stream scoring them compose without an idempotence
    * protocol of their own — which is why the Export side writes
    * files atomically (task temp + rename).
    *
    * `maxFilesPerTrigger` bounds micro-batch width for backfill over a
    * large existing corpus; transforms downstream are the same batch
    * Column chains (`WebText.*`, quality rules) — per-row maps need no
    * state, so a 100 TB backfill is just the batch scan metered into
    * checkpointed chunks.
    */
  def jsonlIngestStream(spark: SparkSession, dir: String,
                        schema: org.apache.spark.sql.types.StructType,
                        maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Drain a streaming frame as-is into an un-partitioned parquet sink,
    * then stop — `Trigger.AvailableNow` + checkpoint, the generic
    * sibling of [[drainToParquet]] for frames without the traffic
    * schema's date column.
    */
  def drainPlain(df: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drain everything currently available (the nightly-batch equivalent)
    * into a date-partitioned parquet sink, then stop — idempotent via
    * the checkpoint.
    */
  def drainToParquet(df: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = df
      .withColumn("START_DATE", to_date(col("START_DATETIME")))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("START_DATE")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
