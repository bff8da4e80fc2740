package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.nio.file.Files

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  // the oracle's canonicalization: columns sorted by name, rows sorted
  // by value, then one digest over the cells (check_oracle.py `norm`) —
  // shared by the batch/stream parity gates below
  private def canonicalHash(df: org.apache.spark.sql.DataFrame): String = {
    val cols = df.columns.sorted.toSeq
    val lines = df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(v => if (v == null) "␀" else v.toString)
        .mkString(""))
      .sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("streaming 15-min agg over file source matches batch semantics (§2.10)") {
    val srcDir = Files.createTempDirectory("stream_src").toString
    val ckDir = Files.createTempDirectory("stream_ck").toString
    val outDir = Files.createTempDirectory("stream_out").toString + "/fact"

    // two files → two micro-batch inputs; sensor s1, one hour of 30-sec
    // slots split across files
    val mk = (lo: Int, hi: Int) => (lo until hi).map { slot =>
      ("s1", d("2020-01-01"), slot / 120, (slot % 120) / 2.0,
        Some(5), if (slot % 10 == 0) None: Option[Int] else Some(300))
    }.toDF("sensor", "date", "hour", "min", "volume", "occupancy")
    mk(0, 120).write.parquet(srcDir + "/f1")
    mk(120, 240).write.parquet(srcDir + "/f2")

    val raw = Streams.readRaw30s(spark, srcDir + "/*")
    Streams.drainToParquet(Streams.agg15Min(raw), outDir, ckDir)

    // append-mode watermark semantics: only windows older than
    // (max event time − 1 h lateness) finalize in this drain — 3 of 8;
    // the tail stays in state for the NEXT run (late data window)
    val got1 = spark.read.parquet(outDir)
    assert(got1.count() == 3)
    val b0 = got1.where($"START_DATETIME" === ts("2020-01-01 00:00:00")).head()
    assert(b0.getAs[Int]("VOLUME_SUM") == 150)
    assert(b0.getAs[Double]("OCCUPANCY_PCT_NULL") == 10.0) // every 10th null

    // next "night": one more hour of data arrives; its drain advances
    // the watermark past the held windows → they emit exactly once
    mk(240, 360).write.parquet(srcDir + "/f3")
    Streams.drainToParquet(Streams.agg15Min(raw), outDir, ckDir)
    val got2 = spark.read.parquet(outDir)
    // new watermark = 02:59:30 − 1 h = 01:59:30 → windows ending ≤ that
    // finalize: 7 of the first 8 (the 01:45–02:00 window still held),
    // none duplicated
    assert(got2.count() == 7)
    assert(got2.select($"START_DATETIME").distinct().count() == 7)
  }

  test("batch/stream parity: finalized 15-min windows hash-equal the batch " +
    "aggregation under the oracle's canonicalization") {
    val srcDir = Files.createTempDirectory("parity_src").toString
    val ckDir = Files.createTempDirectory("parity_ck").toString
    val outDir = Files.createTempDirectory("parity_out").toString + "/fact"
    val mk = (lo: Int, hi: Int) => (lo until hi).map { slot =>
      ("s1", d("2020-01-01"), slot / 120, (slot % 120) / 2.0,
        Some(5), if (slot % 10 == 0) None: Option[Int] else Some(300))
    }.toDF("sensor", "date", "hour", "min", "volume", "occupancy")
    mk(0, 120).write.parquet(srcDir + "/f1")
    mk(120, 240).write.parquet(srcDir + "/f2")
    val raw = Streams.readRaw30s(spark, srcDir + "/*")
    Streams.drainToParquet(Streams.agg15Min(raw), outDir, ckDir)
    mk(240, 360).write.parquet(srcDir + "/f3")
    Streams.drainToParquet(Streams.agg15Min(raw), outDir, ckDir)


    // batch leg: the SAME fixture through the A1 batch aggregation,
    // restricted to windows the watermark has finalized (window end ≤
    // max event time 02:59:30 − 1 h lateness) — an INDEPENDENT
    // derivation of the finalized set, so hash equality also re-proves
    // which windows emitted
    val batchRaw = spark.read.parquet(srcDir + "/f1", srcDir + "/f2", srcDir + "/f3")
      .withColumn("ts", graft.ops.TimeOps.composeTimestamp(
        col("date"), col("hour"), col("min")))
    val batch = graft.ops.Aggs.timeBucketAgg(batchRaw, "ts", 900, Seq("sensor"),
      Seq(coalesce(sum(col("volume")), lit(0)).cast("int").as("VOLUME_SUM"),
        graft.ops.Aggs.pctNull(col("volume")).as("VOLUME_PCT_NULL"),
        coalesce(sum(col("occupancy")), lit(0)).cast("int").as("OCCUPANCY_SUM"),
        graft.ops.Aggs.pctNull(col("occupancy")).as("OCCUPANCY_PCT_NULL")),
      bucketName = "START_DATETIME")
      .withColumnRenamed("sensor", "DETECTOR_NAME")
      .where(col("START_DATETIME") + expr("INTERVAL 15 MINUTES") <=
        lit(ts("2020-01-01 02:59:30")) - expr("INTERVAL 1 HOUR"))
    // START_DATE is the sink's partition key, a pure projection of
    // START_DATETIME — not part of the aggregation contract
    val streamed = spark.read.parquet(outDir).drop("START_DATE")
    assert(streamed.count() == 7) // watermark finalized 7 of 12 windows
    assert(canonicalHash(streamed) == canonicalHash(batch))
  }

  test("streaming dedup within watermark drops cross-batch repeats") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = Streams.dedupWithinWatermark(
      input.toDS().toDF("doc", "ts"), "ts", "10 minutes", Seq("doc"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    input.addData(("a", ts("2020-01-01 00:00:00")), ("a", ts("2020-01-01 00:01:00")),
      ("b", ts("2020-01-01 00:00:30")))
    q.processAllAvailable()
    // next batch: "a" repeats within the watermark window → dropped
    input.addData(("a", ts("2020-01-01 00:05:00")), ("c", ts("2020-01-01 00:06:00")))
    q.processAllAvailable()
    val docs = spark.sql("SELECT doc FROM dedup_out").as[String].collect().sorted.toSeq
    q.stop()
    assert(docs == Seq("a", "b", "c")) // one "a" total across batches
  }


  test("streaming heavy hitters: sketch state accumulates across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    // capacity generous -> exact counts
    val hits = Streams.heavyHitters(input.toDS(), capacity = 16, shards = 2)
    val q = hits.writeStream.format("memory").queryName("hh_out")
      .outputMode(OutputMode.Update).start()
    input.addData("a", "a", "b", "c", "a")
    q.processAllAvailable()
    input.addData("a", "b", "b", "d")
    q.processAllAvailable()
    q.stop()
    // Update mode: keep the LAST emission per (shard, token)
    val last = spark.sql(
      """SELECT token, max_by(count, rn) AS c FROM (
         SELECT token, count, row_number() OVER (PARTITION BY shard, token
           ORDER BY count ASC) AS rn FROM hh_out) GROUP BY token""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last == Map("a" -> 4L, "b" -> 3L, "c" -> 1L, "d" -> 1L))
    // zero error recorded at this capacity
    assert(spark.sql("SELECT max(error) FROM hh_out").head().getLong(0) == 0L)
  }

  test("streaming heavy hitters: bounded state under eviction keeps guarantees") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    // ONE shard, capacity 2: force evictions; the true heavy hitter
    // must survive with count >= truth (SpaceSaving overestimates)
    val hits = Streams.heavyHitters(input.toDS(), capacity = 2, shards = 1)
    val q = hits.writeStream.format("memory").queryName("hh_small")
      .outputMode(OutputMode.Update).start()
    input.addData(Seq.fill(10)("hot") ++ Seq("x", "y", "z", "w"): _*)
    q.processAllAvailable()
    input.addData(Seq.fill(5)("hot") ++ Seq("p", "q"): _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT token, count, error FROM hh_small").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hot = rows.filter(_._1 == "hot").map(_._2).max
    assert(hot >= 15L)           // never undercounts
    val lastBatchTokens = rows.map(_._1).toSet
    assert(lastBatchTokens.contains("hot")) // the heavy hitter survives
  }


  test("stream-static enrich: broadcast dim join, left rows preserved") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val dim = Seq(("s1", "I-94"), ("s2", "TH-62")).toDF("sensor", "route")
    val enriched = Streams.enrich(input.toDS().toDF("sensor", "volume"),
      dim, Seq("sensor"))
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    input.addData(("s1", 10), ("s9", 3)) // s9 has no dim row
    q.processAllAvailable()
    val out = spark.sql("SELECT sensor, volume, route FROM enriched")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    q.stop()
    assert(out == Set(("s1", 10, "I-94"), ("s9", 3, null)))
  }

  test("streaming sessionization: ids carry across micro-batches, gaps open sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val sess = Streams.sessionize(input.toDS(), gapSec = 60)
    val q = sess.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    input.addData(
      Streams.Event("u1", ts("2020-01-01 00:00:00")),
      Streams.Event("u1", ts("2020-01-01 00:00:30")),
      Streams.Event("u2", ts("2020-01-01 00:00:00")))
    q.processAllAvailable()
    // batch 2: u1 within gap of last event → SAME session (state carried);
    // then a 10-min silence → next session
    input.addData(
      Streams.Event("u1", ts("2020-01-01 00:01:15")),
      Streams.Event("u1", ts("2020-01-01 00:11:00")))
    q.processAllAvailable()
    val out = spark.sql("SELECT user, ts, sessionId FROM sess")
      .as[Streams.SessionizedEvent].collect()
      .map(e => (e.user, e.ts.toString, e.sessionId)).toSet
    q.stop()
    assert(out == Set(
      ("u1", "2020-01-01 00:00:00.0", 1L),
      ("u1", "2020-01-01 00:00:30.0", 1L),
      ("u2", "2020-01-01 00:00:00.0", 1L),
      ("u1", "2020-01-01 00:01:15.0", 1L), // cross-batch continuation
      ("u1", "2020-01-01 00:11:00.0", 2L)))
  }

  test("flatMapGroupsWithState gap detection across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Streams.Reading]
    val gaps = Streams.detectGaps(input.toDS(), gapSec = 60)
    val q = gaps.writeStream.format("memory").queryName("gaps")
      .outputMode(OutputMode.Append).start()

    input.addData(
      Streams.Reading("s1", ts("2020-01-01 00:00:00")),
      Streams.Reading("s1", ts("2020-01-01 00:00:30")))
    q.processAllAvailable()
    // second batch: 5-minute silence then resume → one gap, state carried
    input.addData(Streams.Reading("s1", ts("2020-01-01 00:05:30")))
    q.processAllAvailable()
    val out = spark.sql("SELECT * FROM gaps").as[Streams.Gap].collect()
    q.stop()
    assert(out.length == 1)
    assert(out.head.gapSec == 300)
    assert(out.head.gapStart == ts("2020-01-01 00:00:30"))
  }

  test("driftMonitor: per-batch drift report against a static baseline") {
    val srcDir = Files.createTempDirectory("dm_src").toString
    val ckDir = Files.createTempDirectory("dm_ck").toString
    val monDir = Files.createTempDirectory("dm_mon").toString + "/monitor"
    // baseline: buckets 0 and 1, equal shares
    val baseline = Seq(5L, 5L, 15L, 15L).toDF("v")
    // batch: all mass in bucket 0 → drift
    Seq(1L, 2L, 3L, 4L).toDF("v").write.mode("overwrite").parquet(srcDir + "/b1")
    Streams.driftMonitor(
      spark.readStream.schema("v long").parquet(srcDir + "/*"),
      baseline, expr("v div 10"), monDir, ckDir)
    val rep = spark.read.parquet(monDir)
      .collect().map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_old"), r.getAs[Long]("n_new"),
          r.getAs[Long]("share_new_ppm")))).toMap
    assert(rep(0L) == ((2L, 4L, 1000000L))) // batch fully in bucket 0
    assert(rep(1L)._2 == 0L)                // vanished bucket in the batch
    // second batch appends its own report tagged with a new batch id
    Seq(11L, 12L).toDF("v").write.mode("overwrite").parquet(srcDir + "/b2")
    Streams.driftMonitor(
      spark.readStream.schema("v long").parquet(srcDir + "/*"),
      baseline, expr("v div 10"), monDir, ckDir)
    val ids = spark.read.parquet(monDir).select("batch_id").distinct().count()
    assert(ids == 2L)
  }

  test("mergeAggStream: two drains fold into the same state as one batch recompute") {
    val srcDir = Files.createTempDirectory("mas_src").toString
    val ckDir = Files.createTempDirectory("mas_ck").toString
    val storeDir = Files.createTempDirectory("mas_store").toString + "/state"
    val batch1 = Seq(("a", 1.25), ("a", 2.50), ("b", -1.00)).toDF("k", "v")
    val batch2 = Seq(("a", 4.00), ("c", 0.75)).toDF("k", "v")
    batch1.write.mode("overwrite").parquet(srcDir + "/b1")
    Streams.mergeAggStream(
      spark.readStream.schema("k string, v double").parquet(srcDir + "/*"),
      Seq("k"), "v", storeDir, ckDir)
    batch2.write.mode("overwrite").parquet(srcDir + "/b2")
    Streams.mergeAggStream(
      spark.readStream.schema("k string, v double").parquet(srcDir + "/*"),
      Seq("k"), "v", storeDir, ckDir)
    val merged = graft.ops.Aggs.finishAggState(
      spark.read.parquet(storeDir), Seq("k"))
    val direct = graft.ops.Aggs.finishAggState(
      graft.ops.Aggs.aggState(batch1.unionByName(batch2), Seq("k"), "v"), Seq("k"))
    assert(rows(merged.select("k", "cnt", "sum_v", "min_v", "max_v"))
      == rows(direct.select("k", "cnt", "sum_v", "min_v", "max_v")))
  }

  test("sessionWindowAgg: engine-owned sessions merge within gap, finalize past watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val sessions = Streams.sessionWindowAgg(
      input.toDS().toDF("user", "ts"), "ts", Seq("user"),
      gap = "2 minutes", lateness = "1 minute")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    // user a: two bursts 10 min apart (→ 2 sessions); user b: one event
    input.addData(
      ("a", ts("2020-01-01 00:00:00")), ("a", ts("2020-01-01 00:01:00")),
      ("b", ts("2020-01-01 00:00:30")),
      ("a", ts("2020-01-01 00:11:00")))
    q.processAllAvailable()
    // far-future event advances the watermark → all sessions finalize
    input.addData(("z", ts("2020-01-01 01:00:00")))
    q.processAllAvailable()
    val out = spark.sql("SELECT user, session_start, n_events FROM sess_out")
      .as[(String, java.sql.Timestamp, Long)].collect().toSet
    q.stop()
    assert(out.contains(("a", ts("2020-01-01 00:00:00"), 2L))) // merged burst
    assert(out.contains(("a", ts("2020-01-01 00:11:00"), 1L))) // gap > 2 min
    assert(out.contains(("b", ts("2020-01-01 00:00:30"), 1L)))
  }

  test("intervalJoin: stream-stream matches only within the time bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(String, java.sql.Timestamp)]
    val buys = MemoryStream[(String, java.sql.Timestamp)]
    val joined = Streams.intervalJoin(
      clicks.toDS().toDF("user", "click_ts"),
      buys.toDS().toDF("user", "buy_ts"),
      "user", "click_ts", "buy_ts", lateness = "1 minute", boundSec = 600)
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode(OutputMode.Append).start()
    clicks.addData(("u1", ts("2020-01-01 00:00:00")),
      ("u2", ts("2020-01-01 00:00:00")))
    // u1 buys within 10 min (match), u2 buys 20 min later (no match),
    // u3 buys with no click at all (no match)
    buys.addData(("u1", ts("2020-01-01 00:05:00")),
      ("u2", ts("2020-01-01 00:20:00")),
      ("u3", ts("2020-01-01 00:05:00")))
    q.processAllAvailable()
    val out = spark.sql("SELECT user FROM ij_out").as[String].collect().toSeq
    q.stop()
    assert(out == Seq("u1"))
  }

  test("batch/stream parity: scd2Stream dimension and changelog hash-equal " +
    "a batch replay of the same snapshots (§2.8 streaming leg)") {
    val srcDir = Files.createTempDirectory("scd2_src").toString
    val ckDir = Files.createTempDirectory("scd2_ck").toString
    val base = Files.createTempDirectory("scd2_out").toString
    val (dimDir, logDir) = (base + "/dim", base + "/changelog")
    val opts = graft.ops.Scd2.Options(key = "DETECTOR_NAME",
      attrCols = Seq("LANE", "ABANDONED"), abandonedCol = Some("ABANDONED"))

    // four dated snapshots covering the full §2.8 move set: bootstrap,
    // attribute change, delete + abandoned f→t, insert
    val days = Seq(
      "2020-01-01" -> Seq(("d1", "L1", "f"), ("d2", "L2", "f")),
      "2020-01-02" -> Seq(("d1", "L1b", "f"), ("d2", "L2", "f")),
      "2020-01-03" -> Seq(("d1", "L1b", "t")),
      "2020-01-04" -> Seq(("d1", "L1b", "t"), ("d3", "L3", "f")))
    def snapDf(rows: Seq[(String, String, String)]) =
      rows.toDF("DETECTOR_NAME", "LANE", "ABANDONED")

    // first drain sees days 1–2 (possibly in ONE micro-batch — the
    // date-ordered fold must split them); second drain sees 3–4 after a
    // restart, proving the dimension state carries across runs
    days.take(2).foreach { case (day, rows) =>
      snapDf(rows).withColumn("snap_date", lit(day))
        .write.parquet(s"$srcDir/$day")
    }
    def drain(): Unit = Streams.scd2Stream(
      spark.readStream
        .schema("DETECTOR_NAME string, LANE string, ABANDONED string, snap_date string")
        .parquet(srcDir + "/*"),
      "snap_date", opts, dimDir, logDir, ckDir)
    drain()
    days.drop(2).foreach { case (day, rows) =>
      snapDf(rows).withColumn("snap_date", lit(day))
        .write.parquet(s"$srcDir/$day")
    }
    drain()

    val batch = graft.ops.Scd2.history(
      days.map { case (day, rows) => snapDf(rows).withColumn("snap_date", lit(day)) }
        .reduce(_ unionByName _),
      "snap_date", days.map(_._1), opts)
    val streamedDim = spark.read.parquet(dimDir)
    val streamedLog = spark.read.parquet(logDir)
    assert(streamedDim.count() == 3) // d1, d2 (closed), d3
    assert(canonicalHash(streamedDim) == canonicalHash(batch.dim))
    assert(canonicalHash(streamedLog) == canonicalHash(batch.changelog))
    // sanity on content, not just hashes: the move set all happened
    val changes = streamedLog.select($"Change").as[String].collect()
    assert(changes.contains("Attribute Changed: LANE"))
    assert(changes.contains("Detector Removed"))
    assert(changes.contains("New Detector Added"))
  }

  test("batch/stream parity: dedupStream decisions and store hash-equal a " +
    "sequential batch fold of the same arrivals (dedup streaming leg)") {
    val srcDir = Files.createTempDirectory("dd_src").toString
    val ckDir = Files.createTempDirectory("dd_ck").toString
    val base = Files.createTempDirectory("dd_out").toString
    val (storeDir, decDir) = (base + "/store", base + "/decisions")

    // three arrival batches covering the decision space: bootstrap,
    // exact dup vs store, near dup vs store, within-batch exact dups
    // (both vs store-absent and store-present text), id reuse across
    // batches, and an unrelated doc
    val arrivals = Seq(
      "b1" -> Seq((1L, "the quick brown fox jumps over the lazy dog"),
                  (2L, "an utterly unrelated document about engines")),
      "b2" -> Seq((1L, "the quick brown fox jumps over the lazy dog"), // exact vs store (+id reuse)
                  (3L, "the quick brown fox jumps over the lazy cat"), // near vs store
                  (4L, "fresh text with no earlier relative at all"),
                  (5L, "fresh text with no earlier relative at all")), // within-batch dup
      "b3" -> Seq((6L, "an utterly unrelated document about engines"), // exact vs store
                  (7L, "the quick brown fox jumps over the lazy cat"))) // exact vs b2 addition
    def arrDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

    // first drain sees b1–b2 (possibly ONE micro-batch — the label-
    // ordered fold must split them); b3 arrives after a restart,
    // proving the store state carries across runs
    arrivals.take(2).foreach { case (label, rows) =>
      arrDf(rows).withColumn("arrival", lit(label)).write.parquet(s"$srcDir/$label")
    }
    def drain(): Unit = Streams.dedupStream(
      spark.readStream.schema("doc_id long, text string, arrival string")
        .parquet(srcDir + "/*"),
      "arrival", "text", "doc_id", storeDir, decDir, ckDir,
      shingleN = 3, threshold = 0.7)
    drain()
    arrivals.drop(2).foreach { case (label, rows) =>
      arrDf(rows).withColumn("arrival", lit(label)).write.parquet(s"$srcDir/$label")
    }
    drain()

    // batch replay: the same fold, as a plain driver loop
    var store = arrDf(Nil).limit(0)
    val decisionFrames = arrivals.map { case (label, rows) =>
      val arrival = arrDf(rows)
      val d = graft.ops.Dedup.incrementalDedup(arrival, store,
        "text", "doc_id", 3, 0.7).withColumn("arrival", lit(label))
        .localCheckpoint(true)
      val adds = graft.ops.Dedup.exactDedup(arrival, "text", "doc_id")
        .join(d.where(!$"exact_dup").select($"doc_id"), Seq("doc_id"), "leftsemi")
        .select($"doc_id", $"text")
      store = store.unionByName(adds).localCheckpoint(true)
      d
    }
    val replayDecisions = decisionFrames.reduce(_ unionByName _)

    val streamedDec = spark.read.parquet(decDir)
    // the store is label-partitioned for idempotent overwrite; its
    // logical content is (doc_id, text)
    val streamedStore = spark.read.parquet(storeDir).select($"doc_id", $"text")
    assert(canonicalHash(streamedDec) == canonicalHash(replayDecisions))
    assert(canonicalHash(streamedStore) == canonicalHash(store))
    // content sanity: the store is md5-unique with min-id canonicals
    assert(streamedStore.count() == 4) // dog, engines, cat, fresh
    assert(streamedStore.select($"doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))

    val dec = streamedDec.collect().map(r => (r.getString(4), r.getLong(0)) ->
      (r.getBoolean(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(dec(("b2", 1L))._1) // exact dup vs store despite id reuse
    val (b2n3, b2best, b2j) = dec(("b2", 3L))
    assert(!b2n3 && b2best == Some(1L) && b2j.isDefined) // near dup of store doc 1
    assert(dec(("b3", 6L))._1 && dec(("b3", 7L))._1) // both exact vs grown store
    assert(!dec(("b2", 4L))._1 && !dec(("b2", 5L))._1) // within-batch dups both novel vs store

    // replay idempotency — the exactly-once-EFFECTS claim: a fresh
    // checkpoint forces every fold to run again against already-written
    // sinks (the worst-case crash-replay), and nothing may change —
    // each fold's strictly-before store view + dynamic partition
    // overwrite rewrite identical partitions instead of appending
    // contradictory duplicates (pre-round-9 this doubled every row)
    val decBefore = canonicalHash(spark.read.parquet(decDir))
    val storeBefore = canonicalHash(spark.read.parquet(storeDir))
    Streams.dedupStream(
      spark.readStream.schema("doc_id long, text string, arrival string")
        .parquet(srcDir + "/*"),
      "arrival", "text", "doc_id", storeDir, decDir,
      Files.createTempDirectory("dd_ck2").toString,
      shingleN = 3, threshold = 0.7)
    assert(canonicalHash(spark.read.parquet(decDir)) == decBefore)
    assert(canonicalHash(spark.read.parquet(storeDir)) == storeBefore)
  }

  test("streaming conversation assembly: in-line close, timeout close, cap — batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Streams.Turn]
    val conv = Streams.assembleConversations(
      input.toDS(), gapSec = 60, maxTurns = 2, lateness = "0 seconds")
    val q = conv.writeStream.format("memory").queryName("conv_out")
      .outputMode(OutputMode.Append).start()
    try {
      // session A (user 1): 3 events inside the gap → cap drops the 3rd
      input.addData(
        Streams.Turn(1L, ts("2020-01-01 00:00:00"), 10L, "view"),
        Streams.Turn(1L, ts("2020-01-01 00:00:30"), 11L, "view"),
        Streams.Turn(1L, ts("2020-01-01 00:00:50"), 12L, "click"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM conv_out").count() == 0) // still live
      // past-gap arrival closes session A in-line and opens session B
      input.addData(Streams.Turn(1L, ts("2020-01-01 00:05:00"), 13L, "view"))
      q.processAllAvailable()
      val a = spark.sql("SELECT * FROM conv_out").as[Streams.Conversation]
        .collect()
      assert(a.length == 1)
      assert(a(0).transcript == "view>view" && a(0).nEvents == 3L &&
        a(0).nTurns == 2L && a(0).nViolations == 1L && a(0).truncated)
      // push the watermark past session B's close: timeout emits it
      // without any further user-1 traffic (two cycles — the watermark
      // advances at the END of the batch that saw the new max event time)
      input.addData(Streams.Turn(99L, ts("2020-01-01 01:00:00"), 90L, "x"))
      q.processAllAvailable()
      input.addData(Streams.Turn(99L, ts("2020-01-01 02:00:00"), 91L, "x"))
      q.processAllAvailable()
      val b = spark.sql("SELECT * FROM conv_out WHERE user = 1")
        .as[Streams.Conversation].collect().sortBy(_.sessStart.getTime)
      assert(b.length == 2)
      assert(b(1).transcript == "view" && b(1).nTurns == 1L &&
        !b(1).truncated && b(1).nViolations == 0L)

      // batch parity: the same user-1 events through Conversations.assemble
      // produce the same (transcript, violations, truncated) multiset
      val batch = graft.ops.Conversations.assemble(
        Seq((1L, ts("2020-01-01 00:00:00"), 10L, "view"),
          (1L, ts("2020-01-01 00:00:30"), 11L, "view"),
          (1L, ts("2020-01-01 00:00:50"), 12L, "click"),
          (1L, ts("2020-01-01 00:05:00"), 13L, "view"))
          .toDF("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_type", "event_id",
        gapSeconds = 60L, maxTurns = 2)
        .select("transcript", "n_violations", "truncated")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
        .toSet
      assert(batch == b.map(c =>
        (c.transcript, c.nViolations, c.truncated)).toSet)
    } finally q.stop()
  }
}
