package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ext.Events

class StreamSpec extends SparkTestBase {
  import spark.implicits._
  import StreamOps._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  test("tumblingAgg over a MemoryStream: incremental windowed counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = tumblingAgg(mem.toDF(), windowLen = "10 minutes")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      mem.addData(
        Event(ts(1), 1L, "click", 1.0), Event(ts(9), 1L, "click", 2.0),
        Event(ts(12), 2L, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .orderBy("bucket_start", "event_type")
        .select("event_type", "n_events", "total_value").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
        == Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
      // incrementality: a second batch lands in the right window
      mem.addData(Event(ts(13), 3L, "view", 4.0))
      q.processAllAvailable()
      val n = spark.table("tumbling_out")
        .filter($"event_type" === "view").select("n_events")
        .as[Long].head()
      assert(n == 2L)
    } finally q.stop()
  }

  test("exactlyOnceAppendSink: batch replay commits nothing twice") {
    implicit val sqlCtx = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("eo_table").toString
    val ckpt = java.nio.file.Files.createTempDirectory("eo_ckpt").toString
    val mem = MemoryStream[Event]
    val q = exactlyOnceAppendSink(mem.toDF(), table, ckpt)
    try {
      mem.addData(Event(ts(1), 1L, "a", 1.0), Event(ts(2), 2L, "b", 2.0))
      q.processAllAvailable()
      mem.addData(Event(ts(3), 3L, "c", 3.0))
      q.processAllAvailable()
      val tbl = spark.read.parquet(table)
      assert(tbl.count() == 3)
      // batch_id surfaces as a partition column (provenance) and prunes
      assert(tbl.schema.fieldNames.contains("batch_id"))
      assert(tbl.filter($"batch_id" === 1).count() == 1)

      // simulate foreachBatch replay after a crash-before-checkpoint:
      // re-deliver an ALREADY COMMITTED epoch with different data
      val replay = Seq(Event(ts(9), 9L, "dup", 9.0)).toDF()
      assert(!StreamOps.commitBatchOnce(replay, table, batchId = 0))
      assert(spark.read.parquet(table).count() == 3)
      assert(spark.read.parquet(table)
        .filter($"event_type" === "dup").count() == 0)
      // a NEW epoch commits normally
      assert(StreamOps.commitBatchOnce(replay, table, batchId = 7))
      assert(spark.read.parquet(table).count() == 4)
      // leftover staging dirs are invisible to readers
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(table, "_staging_99"))
      assert(spark.read.parquet(table).count() == 4)
    } finally q.stop()
  }

  test("exactlyOnceTableSink: every epoch is a time-travelable snapshot; " +
      "replays and data/manifest crash gaps self-heal") {
    import graft.io.ZoneMap
    implicit val sqlCtx = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("eot_t").toString
    val mPath = java.nio.file.Files.createTempDirectory("eot_m").toString +
      "/manifest"
    val ckpt = java.nio.file.Files.createTempDirectory("eot_c").toString
    val mem = MemoryStream[Event]
    val q = exactlyOnceTableSink(mem.toDF(), table, mPath,
      Seq("user_id"), ckpt)
    try {
      mem.addData(Event(ts(1), 1L, "a", 1.0), Event(ts(2), 2L, "b", 2.0))
      q.processAllAvailable()
      mem.addData(Event(ts(3), 30L, "c", 3.0))
      q.processAllAvailable()
      // two epochs -> two committed manifest versions, each a snapshot
      assert(ZoneMap.currentManifestVersion(spark, mPath).contains(1L))
      assert(ZoneMap.scanAsOf(spark, mPath, 0L).count() == 2)
      assert(ZoneMap.scanAsOf(spark, mPath, 1L).count() == 3)
      // zone pruning through the current manifest
      assert(ZoneMap.skipScan(spark, table,
        ZoneMap.readManifest(spark, mPath), "user_id", 25L, 35L)
        .count() == 1)

      // pure replay: same epoch id, different payload -> no data, no
      // new manifest version
      val replay = Seq(Event(ts(9), 9L, "dup", 9.0)).toDF()
      assert(StreamOps.commitTableEpoch(replay, table, mPath,
        Seq("user_id"), batchId = 0L).isEmpty)
      assert(ZoneMap.currentManifestVersion(spark, mPath).contains(1L))
      assert(spark.read.parquet(table).count() == 3)

      // crash BETWEEN data and manifest commits: data for epoch 7
      // landed, manifest didn't. The epoch retry skips the data write
      // and heals the manifest incrementally.
      assert(StreamOps.commitBatchOnce(replay, table, 7L))
      assert(ZoneMap.currentManifestVersion(spark, mPath).contains(1L))
      val healed = StreamOps.commitTableEpoch(replay, table, mPath,
        Seq("user_id"), batchId = 7L)
      assert(healed.contains(2L))
      assert(ZoneMap.scanAsOf(spark, mPath, 2L).count() == 4)
      // earlier snapshots still read their own epoch boundaries
      assert(ZoneMap.scanAsOf(spark, mPath, 0L).count() == 2)
    } finally q.stop()
  }

  test("sessionAgg (session_window) groups by 30-min gaps per user") {
    // batch-mode execution of the same streaming transformation
    val events = Seq(
      Event(ts(0), 1L, "a", 1.0), Event(ts(10), 1L, "a", 1.0), // session 1
      Event(ts(55), 1L, "a", 1.0),                             // session 2
      Event(ts(5), 2L, "b", 2.0)                               // user 2
    ).toDF()
    val got = sessionAgg(events).orderBy("user_id", "session_start")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("sessionizeWithState matches the batch session count oracle query") {
    val batch = Events.loadEvents(spark, sf)
    // run the custom-state sessionizer over the real events table (batch);
    // open sessions stay in state, so emitted sessions = total - open.
    val events = Events.loadEventsTimestamped(spark, sf)
      .select($"ts", $"user_id", $"event_type", $"value").as[Event]
    val emitted = sessionizeWithState(events).count()
    // batch oracle: per user, ordered by (ts_sec, event_id), a row opens
    // a session when it has no predecessor or follows a gap over 1800 s
    val w = Window.partitionBy($"user_id").orderBy($"ts_sec", $"event_id")
    val prev = lag($"ts_sec", 1).over(w)
    val totalSessions = batch
      .select(when(prev.isNull || $"ts_sec" - prev > 1800, 1L)
        .otherwise(0L).as("is_new"))
      .agg(sum("is_new")).head().getLong(0)
    val nUsers = batch.select("user_id").distinct().count()
    // every user's last session is still open (never emitted)
    assert(emitted == totalSessions - nUsers)
  }

  test("file-source streaming over the events parquet reaches the same totals") {
    // the file source wants a directory; stage the single parquet file
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = Events.loadEvents(spark, sf).drop("ts_sec", "ts_us").schema
    // the raw stream read sees the file's native INT64 unit; apply the
    // same footer-derived normalization loadEvents uses
    val toNanos = Events.tsNanosFactor(spark, sf)
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .withColumn("ts", timestamp_micros(expr(s"ts * ${toNanos}L div 1000")))
    val q = tumblingAgg(stream)
      .writeStream.format("memory").queryName("file_stream_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_stream_out")
        .agg(sum("n_events")).head().getLong(0)
      val batch = Events.loadEvents(spark, sf).count()
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream intervalJoin pairs events within the lookback only") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val signups = MemoryStream[Event]
    val joined = intervalJoin(
      purchases.toDF(), signups.toDF(), "user_id", "ts",
      lookback = "30 minutes")
    assert(joined.isStreaming)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      signups.addData(Event(ts(0), 1L, "signup", 0.0),
        Event(ts(0), 2L, "signup", 0.0))
      purchases.addData(
        Event(ts(10), 1L, "purchase", 5.0),  // 10 min after signup: joins
        Event(ts(45), 2L, "purchase", 7.0),  // 45 min after: outside lookback
        Event(ts(20), 3L, "purchase", 9.0))  // no signup at all
      q.processAllAvailable()
      val got = spark.table("ssj_out")
        .select("user_id", "value").as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 5.0)))
    } finally q.stop()
  }

  test("streaming plan survives analysis: tumblingAgg on readStream is streaming") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    assert(tumblingAgg(mem.toDF()).isStreaming)
  }

  test("upsertSink maintains a merged parquet table across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("upsert_sink").toString
    val table = s"$dir/table"
    val mem = MemoryStream[(Long, String, Double, String)]
    val changes = mem.toDF().toDF("k", "name", "v", "op")
    val q = upsertSink(changes, table, keys = Seq("k"),
      tableCols = Seq("k", "name", "v"),
      deleteCondition = col("op") === "d",
      checkpointDir = s"$dir/ckpt")
    try {
      mem.addData((1L, "a", 1.0, "u"), (2L, "b", 2.0, "u"))
      q.processAllAvailable()
      assert(spark.read.parquet(table).count() == 2)
      // batch 2: update k=1, delete k=2, insert k=3
      mem.addData((1L, "a2", 10.0, "u"), (2L, "b", 0.0, "d"),
        (3L, "c", 3.0, "u"))
      q.processAllAvailable()
      val rows = spark.read.parquet(table).orderBy("k")
        .as[(Long, String, Double)].collect().toSeq
      assert(rows == Seq((1L, "a2", 10.0), (3L, "c", 3.0)), rows.toString)
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted file-source query resumes from " +
    "committed offsets without reprocessing") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt_rec").toString
    val (src, table, ckpt) = (s"$dir/src", s"$dir/table", s"$dir/ckpt")
    new java.io.File(src).mkdirs()
    def addFile(n: Int, rows: Seq[(Long, String, Double, String)]): Unit =
      rows.toDF("k", "name", "v", "op")
        .coalesce(1).write.mode("append").parquet(src)
    def startQuery() = upsertSink(
      spark.readStream
        .schema("k LONG, name STRING, v DOUBLE, op STRING").parquet(src),
      table, keys = Seq("k"), tableCols = Seq("k", "name", "v"),
      deleteCondition = col("op") === "d", checkpointDir = ckpt)

    addFile(1, Seq((1L, "a", 1.0, "u"), (2L, "b", 2.0, "u")))
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(table).count() == 2)

    // new data lands while the query is DOWN; restart must pick it up
    // exactly once (upsert of k=1 must not double-apply batch 1)
    addFile(2, Seq((1L, "a2", 10.0, "u"), (3L, "c", 3.0, "u")))
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()
    val rows = spark.read.parquet(table).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "a2", 10.0), (2L, "b", 2.0), (3L, "c", 3.0)),
      rows.toString)
  }

  test("dedupStream drops same-key replays across batches, keeps distinct keys") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val withId = mem.toDF().withColumn("event_id",
      (col("value") * 10).cast("long"))
    val q = dedupStream(withId, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(Event(ts(1), 1L, "click", 1.0),
        Event(ts(2), 1L, "click", 1.0)) // same id within one batch
      q.processAllAvailable()
      // replay of id 10 in a later batch, inside the watermark
      mem.addData(Event(ts(3), 1L, "click", 1.0),
        Event(ts(4), 2L, "view", 2.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .as[Long].collect().sorted
      assert(ids.toSeq == Seq(10L, 20L),
        s"each key once, replays dropped: ${ids.toSeq}")
    } finally q.stop()
  }

  test("sessionizeTws (transformWithState): event-time timers close " +
    "sessions when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    val q = sessionizeTws(mem.toDS(), gapSec = 1800,
      watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("tws_out")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then silence
      mem.addData(Event(ts(0), 1L, "a", 1.0), Event(ts(10), 1L, "a", 1.0))
      q.processAllAvailable()
      assert(spark.table("tws_out").count() == 0,
        "session must stay open until the watermark passes the gap")
      // an event far in the future advances the watermark past
      // lastSec + gap -> the timer fires and emits the closed session
      mem.addData(Event(Timestamp.valueOf("2024-01-01 02:00:00"), 2L,
        "a", 1.0))
      q.processAllAvailable()
      val rows = spark.table("tws_out")
        .select("user_id", "session_start", "session_end", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val epoch0 = ts(0).getTime / 1000
      assert(rows == Seq((1L, epoch0, epoch0 + 600, 2L)), rows.toString)
    } finally {
      q.stop()
      prior match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sessionizeTws == batch session_window on random streams " +
    "(cross-implementation parity)") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      (0 until 2).foreach { trial =>
        val rnd = new scala.util.Random(1234L + trial)
        // 7-second lattice: gaps are multiples of 7, never exactly the
        // 1800 s gap, where the two implementations legitimately differ
        // (SessionProcessor merges at diff == gap, session_window's
        // strict-overlap rule does not)
        val events = (0 until 40).map { _ =>
          val user = 1L + rnd.nextInt(3)
          val sec = rnd.nextInt(3085).toLong * 7
          Event(new Timestamp(sec * 1000), user, "e", 1.0)
        } :+ // flush: advances the watermark past every session + gap
          Event(Timestamp.valueOf("2024-06-01 00:00:00"), 99L, "e", 1.0)
        val mem = MemoryStream[Event]
        val name = s"tws_parity_$trial"
        val q = sessionizeTws(mem.toDS(), gapSec = 1800,
          watermarkDelay = "0 seconds")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        val got = try {
          mem.addData(events: _*)
          q.processAllAvailable()
          spark.table(name).filter(col("user_id") =!= 99L)
            .select("user_id", "session_start", "session_end", "n_events")
            .as[(Long, Long, Long, Long)].collect().toSet
        } finally q.stop()
        // batch reference: the session_window aggregate on the same
        // rows; its session_end is lastEvent + gap where the processor
        // emits lastEvent — normalize by subtracting the gap
        val expected = sessionAgg(
            events.filter(_.user_id != 99L).toDS().toDF(), "30 minutes")
          .select(col("user_id"),
            unix_timestamp(col("session_start")).as("s"),
            (unix_timestamp(col("session_end")) - 1800).as("e"),
            col("n_events"))
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(got == expected,
          s"trial=$trial missing=${expected -- got} extra=${got -- expected}")
      }
    } finally {
      prior match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("cusumStream: cross-batch recurrence == batch cusum bit-exactly " +
    "under in-order arrival") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ck = java.nio.file.Files.createTempDirectory("cusum_ck").toString
    val mem = MemoryStream[Event]
    val q = StreamOps.cusumStream(mem.toDS(), target = 10.0, slack = 1.0,
        threshold = 5.0)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append")
      .option("checkpointLocation", ck)
      .start()
    // two users, drifting values, three in-order micro-batches — the
    // recurrence must carry (sp, sn) across the batch boundary
    val evs = (0 until 12).map { i =>
      Event(ts(i), (i % 2 + 1).toLong, "m", 10.0 + (i % 5))
    }
    try {
      evs.grouped(4).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // events now emit once the WATERMARK passes them: push it far past
      // the data with sentinel events on an unrelated key (two batches,
      // so the advanced watermark reaches the timer-firing batch)
      mem.addData(Event(ts(59), 99L, "m", 10.0)); q.processAllAvailable()
      mem.addData(Event(ts(59, 1), 99L, "m", 10.0)); q.processAllAvailable()
    } finally {
      q.stop()
      prior match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
    val got = spark.table("cusum_out")
      .filter($"user_id".isin(1L, 2L))
      .select("user_id", "sec", "cusum_pos", "cusum_neg", "alarm")
      .as[(Long, Long, Double, Double, Boolean)].collect().toSet
    val batch = graft.ext.Forecast.cusum(
      evs.map(e => (e.user_id, e.ts.getTime / 1000, e.value,
        10.0, 1.0, 5.0))
        .toDF("user_id", "sec", "value", "target", "slack", "h"),
      Seq("user_id"), "sec", "value", "target", "slack", "h")
      .select("user_id", "sec", "cusum_pos", "cusum_neg", "alarm")
      .as[(Long, Long, Double, Double, Boolean)].collect().toSet
    assert(got == batch,
      s"stream diverged: missing=${(batch -- got).take(3)} " +
        s"extra=${(got -- batch).take(3)}")
    assert(got.exists(_._5), "expected at least one alarm in the drift")
  }

  test("cusumStream: WATERMARK-BOUNDED DISORDER — a whole batch of " +
    "earlier-timestamped events arriving late is retro-inserted, so the " +
    "stream equals the time-ordered batch operator, not arrival order") {
    // Rounds <= 10 pinned an arrival-order contract here; the processor
    // now buffers within the watermark (the sessionizeTws pattern), so
    // an event is stepped through the recurrence only once the
    // watermark is strictly past its timestamp — by then every earlier
    // event has either flushed before it or been dropped as too late.
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ck = java.nio.file.Files.createTempDirectory("cusum_ck2").toString
    val mem = MemoryStream[Event]
    // delay must cover the planted disorder (late batch leads the
    // early one by ~103 minutes of event time)
    val q = StreamOps.cusumStream(mem.toDS(), target = 10.0, slack = 1.0,
        threshold = 5.0, watermarkDelay = "7200 seconds")
      .writeStream.format("memory").queryName("cusum_disorder")
      .outputMode("append")
      .option("checkpointLocation", ck)
      .start()
    // batch 1 arrives FIRST but holds the LATER timestamps (minute
    // 100..103); batch 2 arrives second with minute 0..3 — cross-batch
    // disorder on one user, constant drift value 13
    val late = (100 until 104).map(s => Event(ts(s), 1L, "m", 13.0))
    val early = (0 until 4).map(s => Event(ts(s), 1L, "m", 13.0))
    try {
      mem.addData(late: _*); q.processAllAvailable()
      mem.addData(early: _*); q.processAllAvailable()
      // drive the watermark past everything so the buffer drains
      mem.addData(Event(ts(10000), 99L, "m", 10.0)); q.processAllAvailable()
      mem.addData(Event(ts(10001), 99L, "m", 10.0)); q.processAllAvailable()
    } finally {
      q.stop()
      prior match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
    val got = spark.table("cusum_disorder")
      .filter($"user_id" === 1L)
      .select("sec", "cusum_pos", "cusum_neg", "alarm")
      .as[(Long, Double, Double, Boolean)].collect().toSet
    // plain-Scala replay in a given order: sp += (13 - 10 - 1) = 2 per
    // event; time order puts sp 2..8 on the early rows, 10..16 on late
    def replay(order: Seq[Event]): Set[(Long, Double, Double, Boolean)] = {
      var sp = 0.0; var sn = 0.0
      order.map { e =>
        sp = math.max(0.0, sp + (e.value - 10.0 - 1.0))
        sn = math.max(0.0, sn + (10.0 - e.value - 1.0))
        (e.ts.getTime / 1000, sp, sn, sp > 5.0 || sn > 5.0)
      }.toSet
    }
    assert(got == replay(early ++ late),
      "stream must equal the TIME-ordered recurrence (the batch " +
        "Forecast.cusum order) despite arrival disorder")
    assert(got != replay(late ++ early),
      "got the arrival-order answer: the watermark buffer regressed " +
        "to stepping events at arrival position")
    // cross-check: the time-ordered replay IS the sorted replay
    assert(replay(early ++ late) == replay((early ++ late).sortBy(_.ts.getTime)))
  }

  test("textIndexSink: live segments == one-shot index; replayed epoch " +
    "commits nothing; uncommitted segment invisible to queries") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Retrieval
    val live = java.nio.file.Files.createTempDirectory("ti_live").toString
    val whole = java.nio.file.Files.createTempDirectory("ti_batch").toString
    val docsDf = graft.io.Tables.load(spark, sf, "documents")
    val docs = docsDf.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    // first batch seeds the index layout so the sink can hash
    // consistently from batch 0
    Retrieval.saveTextIndex(
      spark.createDataFrame(Seq.empty[(Long, String)])
        .toDF("doc_id", "text"),
      "doc_id", "text", live, nBuckets = 16)
    val q = StreamOps.textIndexSink(stream, "doc_id", "text", live,
      checkpointDir = s"$live/../ti_ckpt_${System.nanoTime()}",
      nBuckets = 16)
    try {
      docs.grouped((docs.size + 1) / 2).foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    Retrieval.saveTextIndex(docsDf, "doc_id", "text", whole, nBuckets = 16)
    val queries = docsDf.filter($"doc_id".isin(0L, 1L, 2L))
    val a = Retrieval.bm25TopKIndexed(queries, "doc_id", "text", live,
      k = 10).orderBy("query_id", "rank").collect().toSeq
    val b = Retrieval.bm25TopKIndexed(queries, "doc_id", "text", whole,
      k = 10).orderBy("query_id", "rank").collect().toSeq
    assert(a.nonEmpty && a == b,
      "live-streamed index diverged from the one-shot rebuild")

    // replayed epoch: same seg id, different data — must be a no-op
    val segsBefore = Retrieval.committedSegments(spark, live)
    StreamOps.textIndexBatch(
      spark.createDataFrame(Seq((424242L, "spark spark spark")))
        .toDF("doc_id", "text"),
      "doc_id", "text", live, nBuckets = 16,
      seg = segsBefore.filter(_ >= 1000000L).head)
    assert(Retrieval.committedSegments(spark, live) == segsBefore)
    val replayed = Retrieval.bm25TopKIndexed(queries, "doc_id", "text",
      live, k = 10).orderBy("query_id", "rank").collect().toSeq
    assert(replayed == a, "replayed epoch changed the index")

    // a torn segment (directories, no marker) is invisible
    val segDir = new java.io.File(s"$live/postings.parquet/seg=999999999")
    segDir.mkdirs()
    val torn = Retrieval.bm25TopKIndexed(queries, "doc_id", "text",
      live, k = 10).orderBy("query_id", "rank").collect().toSeq
    assert(torn == a, "uncommitted segment leaked into a query")
  }

  test("ivfIndexSink: live vector segments == one-shot index; replayed " +
    "epoch commits nothing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Similarity
    val live = java.nio.file.Files.createTempDirectory("ivf_live").toString
    val whole = java.nio.file.Files.createTempDirectory("ivf_batch").toString
    val emb = graft.io.Tables.load(spark, sf, "embeddings")
    val centroidIds = 10L to 17L

    // backfill seeds the index AND fixes the centroid model (ids 10-17
    // sit in the backfill slice, so it equals the full-corpus model)
    Similarity.initIvfIndex(emb.filter($"vec_id" < 250), "vec_id",
      "embedding", centroidIds, live)
    val tail = emb.filter($"vec_id" >= 250)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val q = StreamOps.ivfIndexSink(stream, "vec_id", "embedding", live,
      checkpointDir = s"$live/../ivf_ckpt_${System.nanoTime()}")
    try {
      tail.grouped((tail.size + 1) / 2).foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    Similarity.initIvfIndex(emb, "vec_id", "embedding", centroidIds, whole)
    val queries = emb.filter($"vec_id".isin(0L, 1L, 2L, 3L, 4L))
    val a = Similarity.ivfTopKSegmented(queries, "vec_id", "embedding",
      live, k = 10, nprobe = 2).collect().toSeq
    val b = Similarity.ivfTopKSegmented(queries, "vec_id", "embedding",
      whole, k = 10, nprobe = 2).collect().toSeq
    assert(a.nonEmpty && a == b,
      "live-streamed vector index diverged from the one-shot rebuild")

    // replayed epoch: same seg id, different vectors — must be a no-op
    val segsBefore = graft.io.Segments.committedSegments(spark, live)
    StreamOps.ivfIndexBatch(
      emb.filter($"vec_id" < 5).select($"vec_id" + 900000, $"embedding")
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", live,
      seg = segsBefore.filter(_ >= 1000000L).head)
    assert(graft.io.Segments.committedSegments(spark, live) == segsBefore)
    assert(Similarity.ivfTopKSegmented(queries, "vec_id", "embedding",
      live, k = 10, nprobe = 2).collect().toSeq == a,
      "replayed epoch changed the vector index")
  }

  test("incremental curation (foreachBatch + dedupAgainstIndex) == " +
    "the one-shot batch pipeline on the same documents") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Dedup, TextAnalysis}
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    val blocklist = Seq("slow", "broken", "spill")
    val docs = graft.io.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
      .sortBy(_._1)

    // three ascending-id micro-batches (the daily-crawl arrival order
    // under which incremental == batch exactly; see curationSink doc)
    val batches = docs.grouped((docs.size + 2) / 3).toSeq
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val stream = mem.toDF()
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = StreamOps.curationSink(stream, dir, blocklist,
      minChars = 100, maxChars = 2000, minJaccard = 0.8,
      checkpointDir = s"$dir/ckpt")
    try {
      batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val batchDocs = graft.io.Tables.load(spark, sf, "documents")
    val surv = Dedup.nearDupSurvivors(
      Dedup.dropExactDups(batchDocs, "doc_id", "text"),
      "doc_id", "text", minJaccard = 0.8)
    val expected = surv
      .filter(TextAnalysis.vocabHits(TextAnalysis.tokens($"text"),
        blocklist) === 0)
      .filter($"n_chars" >= 100 && $"n_chars" <= 2000)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    val got = spark.read.parquet(s"$dir/curated.parquet")
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(got.nonEmpty && got == expected,
      s"missing=${expected.diff(got).take(5)} extra=${got.diff(expected).take(5)}")
  }

  test("incremental curation under OUT-OF-ORDER batch arrival: " +
    "first-seen-wins invariants still hold") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Dedup, TextAnalysis}
    val dir = java.nio.file.Files.createTempDirectory("curation_ooo").toString
    val blocklist = Seq("slow", "broken", "spill")
    val docs = graft.io.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
    // shuffle, then split: batches interleave id ranges arbitrarily —
    // exact batch parity no longer applies (the contract), but the
    // pipeline's invariants must survive any arrival order
    val shuffled = new scala.util.Random(99).shuffle(docs)
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val q = StreamOps.curationSink(
      mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      dir, blocklist, minChars = 100, maxChars = 2000, minJaccard = 0.8,
      checkpointDir = s"$dir/ckpt")
    try {
      shuffled.grouped((docs.size + 2) / 3).foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val curated = spark.read.parquet(s"$dir/curated.parquet")
    // (1) no two curated docs share content
    assert(curated.groupBy(md5($"text".cast("binary"))).count()
      .filter($"count" > 1).isEmpty, "exact duplicates in curated")
    // (2) every curated doc passes the gates
    assert(curated.filter($"n_chars" < 100 || $"n_chars" > 2000 ||
      TextAnalysis.vocabHits(TextAnalysis.tokens($"text"), blocklist) > 0)
      .isEmpty, "gated doc leaked into curated")
    // (3) no near-dup PAIR survives within curated (order decides the
    // winner, but never both): re-running the batch dedup must be a
    // fixpoint
    assert(Dedup.nearDupSurvivors(curated, "doc_id", "text",
        minJaccard = 0.8).count() == curated.count(),
      "a near-dup pair survived curation")
    // (4) nothing vanished: every doc is in seen (post exact dedup)
    val seenN = spark.read.parquet(s"$dir/seen.parquet").count()
    val distinctContent = graft.io.Tables.load(spark, sf, "documents")
      .select(md5($"text".cast("binary"))).distinct().count()
    assert(seenN == distinctContent,
      s"seen index has $seenN rows, expected $distinctContent")
  }

  test("sessionizeTws: cross-batch OUT-OF-ORDER events within a " +
    "nonzero watermark delay merge like batch session_window") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      (0 until 2).foreach { trial =>
        val rnd = new scala.util.Random(777L + trial)
        // 7-second lattice (see the in-order parity test: avoids
        // diff == exactly the gap, where envelope-merge and
        // session_window's strict-overlap rule legitimately differ)
        val events = (0 until 60).map { _ =>
          val user = 1L + rnd.nextInt(3)
          val sec = rnd.nextInt(3085).toLong * 7
          Event(new Timestamp(sec * 1000), user, "e", 1.0)
        }
        // three micro-batches of UNSORTED events: later batches carry
        // arbitrarily earlier timestamps — every row stays inside the
        // 12 h watermark delay, so none may be dropped or mis-merged.
        // This is the advisor's round-4 scenario: a late event must
        // merge into (or bridge) open sessions without regressing
        // lastSec or closing anything early.
        val batches = events.grouped(20).toSeq
        val mem = MemoryStream[Event]
        val name = s"tws_ooo_$trial"
        val q = sessionizeTws(mem.toDS(), gapSec = 1800,
          watermarkDelay = "43200 seconds")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        val got = try {
          batches.foreach { b =>
            mem.addData(b: _*)
            q.processAllAvailable()
          }
          // flush: advances the watermark past every session + gap
          mem.addData(Event(
            Timestamp.valueOf("2025-01-01 00:00:00"), 99L, "e", 1.0))
          q.processAllAvailable()
          spark.table(name).filter(col("user_id") =!= 99L)
            .select("user_id", "session_start", "session_end", "n_events")
            .as[(Long, Long, Long, Long)].collect().toSet
        } finally q.stop()
        val expected = sessionAgg(
            events.toDS().toDF(), "30 minutes")
          .select(col("user_id"),
            unix_timestamp(col("session_start")).as("s"),
            (unix_timestamp(col("session_end")) - 1800).as("e"),
            col("n_events"))
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(got == expected,
          s"trial=$trial missing=${expected -- got} extra=${got -- expected}")
      }
    } finally {
      prior match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnelStream: conversions emit on final-stage completion, " +
    "stale stages reset, state survives across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    val q = funnelStream(mem.toDS(), Seq("view", "click", "purchase"),
      maxGapSec = 600)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 reaches stage 2; user 2 clicks without a view
      mem.addData(
        Event(ts(0), 1L, "view", 1.0), Event(ts(5), 1L, "click", 1.0),
        Event(ts(1), 2L, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("funnel_out").count() == 0)
      // batch 2: user 1 purchases within gap -> conversion (state
      // crossed the batch boundary); user 2 still nothing
      mem.addData(Event(ts(9), 1L, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("funnel_out")
        .as[Conversion].collect().toSeq
      assert(rows == Seq(Conversion(1L, ts(0).getTime / 1000,
        ts(9).getTime / 1000, 3)), rows.toString)
      // batch 3: user 3's click arrives > gap after the view -> the
      // funnel resets instead of converting
      mem.addData(Event(ts(0), 3L, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Event(ts(20), 3L, "click", 1.0),
        Event(ts(25), 3L, "purchase", 1.0))
      q.processAllAvailable()
      assert(spark.table("funnel_out").count() == 1,
        "stale stage must not convert")
    } finally {
      q.stop()
      prior match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnelStreamOrdered: WATERMARK-BOUNDED DISORDER — a final stage " +
    "that ARRIVES first converts once the earlier stages retro-insert " +
    "(batch-funnel parity), where the CEP variant records nothing") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val steps = Seq("view", "click", "purchase")
    // user 1: purchase (minute 30) ARRIVES FIRST; view/click (minutes
    // 10/20) arrive in the next batch — cross-batch disorder inside the
    // watermark. user 2: the same chain fully in order, same batch.
    val batch1 = Seq(Event(ts(30), 1L, "purchase", 1.0),
      Event(ts(10), 2L, "view", 1.0), Event(ts(20), 2L, "click", 1.0),
      Event(ts(30), 2L, "purchase", 1.0))
    val batch2 = Seq(Event(ts(10), 1L, "view", 1.0),
      Event(ts(20), 1L, "click", 1.0))
    val drain = Seq(Event(ts(10000), 99L, "view", 1.0),
      Event(ts(10001), 99L, "view", 1.0))
    def run(name: String,
            wire: org.apache.spark.sql.Dataset[Event] =>
              org.apache.spark.sql.Dataset[Conversion]): Seq[Conversion] = {
      val ck = java.nio.file.Files.createTempDirectory(s"fo_$name").toString
      val mem = MemoryStream[Event]
      val q = wire(mem.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ck).start()
      try {
        mem.addData(batch1: _*); q.processAllAvailable()
        mem.addData(batch2: _*); q.processAllAvailable()
        drain.foreach { e => mem.addData(e); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name).filter($"user_id" < 90L)
        .as[Conversion].collect().toSeq.sortBy(_.user_id)
    }
    try {
      val ordered = run("fo_ordered", ds => funnelStreamOrdered(ds, steps,
        maxGapSec = 900, watermarkDelay = "7200 seconds"))
      // time order retro-inserts user 1's chain: BOTH users convert,
      // identically — exactly the time-ordered batch funnel's answer
      assert(ordered == Seq(
        Conversion(1L, ts(10).getTime / 1000, ts(30).getTime / 1000, 3),
        Conversion(2L, ts(10).getTime / 1000, ts(30).getTime / 1000, 3)),
        ordered.toString)
      // the CEP variant on the SAME arrival order: user 1's purchase
      // arrived before its view/click, so only in-order user 2 converts
      val cep = run("fo_cep", ds => funnelStream(ds, steps,
        maxGapSec = 900, watermarkDelay = "7200 seconds"))
      assert(cep == Seq(
        Conversion(2L, ts(10).getTime / 1000, ts(30).getTime / 1000, 3)),
        cep.toString)
    } finally {
      prior match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming URL dedup: canonical-equal variants collapse across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val urls = mem.toDF().toDF("ts", "url")
      .withColumn("url_norm", graft.ext.Urls.normalize($"url"))
    val q = dedupStream(urls, Seq("url_norm"))
      .writeStream.format("memory").queryName("urldedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts(1), "https://example.org/p?id=1"),
        (ts(2), "HTTPS://WWW.example.org/p/?id=1&utm_source=x"))
      q.processAllAvailable()
      mem.addData(
        (ts(3), "https://example.org:443/p?id=1#top"), // replay, batch 2
        (ts(4), "https://example.org/other"))
      q.processAllAvailable()
      val kept = spark.table("urldedup_out").select("url_norm")
        .as[String].collect().sorted.toSeq
      assert(kept == Seq("https://example.org/other",
        "https://example.org/p?id=1"), kept.toString)
    } finally q.stop()
  }

  test("enrichStream joins micro-batches against a static broadcast dim") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = enrichStream(mem.toDF(), dim, "user_id", Seq("tier"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      mem.addData(Event(ts(1), 1L, "click", 1.0),
        Event(ts(2), 9L, "view", 2.0)) // user 9 has no dim row
      q.processAllAvailable()
      mem.addData(Event(ts(3), 2L, "click", 3.0))
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select("user_id", "tier").as[(Long, Option[String])]
        .collect().toSeq.sortBy(_._1)
      assert(got == Seq((1L, Some("gold")), (2L, Some("basic")),
        (9L, None)), got.toString)
      // stateless: no watermark, no state rows — the plan must carry a
      // broadcast join, not a stateful stream-stream join
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("StateStore"), plan)
    } finally q.stop()
  }

  test("heavyHittersTws (MapState): same MG guarantee as the " +
    "flatMapGroupsWithState form, point-update state") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[String]
    val k = 3
    val q = heavyHittersTws(mem.toDS(), k, buckets = 4)
      .writeStream.format("memory").queryName("hhtws_out")
      .outputMode("update").start()
    try {
      mem.addData(Seq.fill(40)("hot") ++ Seq.fill(30)("warm") ++
        (0 until 30).map(i => s"t$i"): _*)
      q.processAllAvailable()
      mem.addData(Seq.fill(40)("hot") ++ Seq.fill(30)("warm") ++
        (30 until 60).map(i => s"t$i"): _*)
      q.processAllAvailable()
      val latest = spark.table("hhtws_out")
        .groupBy("bucket", "key")
        .agg(max(struct(col("bucketN"), col("minCount"))).as("s"))
        .select(col("key"), col("s.minCount").as("minCount"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(latest.contains("hot") && latest.contains("warm"))
      assert(latest("hot") <= 80L && latest("warm") <= 60L)
      assert(latest("hot") >= 80L - 200L / (k + 1))
      val perBucket = spark.table("hhtws_out")
        .groupBy("bucket", "bucketN").count()
        .select("count").as[Long].collect()
      assert(perBucket.forall(_ <= k))
    } finally {
      q.stop()
      prior match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("heavyHittersStream: hot keys survive across micro-batches with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val k = 3
    val q = heavyHittersStream(mem.toDS(), k, buckets = 4)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("update").start()
    try {
      // batch 1: hot=40%, warm=30%, tail unique
      mem.addData(Seq.fill(40)("hot") ++ Seq.fill(30)("warm") ++
        (0 until 30).map(i => s"t$i"): _*)
      q.processAllAvailable()
      // batch 2: more of the same skew
      mem.addData(Seq.fill(40)("hot") ++ Seq.fill(30)("warm") ++
        (30 until 60).map(i => s"t$i"): _*)
      q.processAllAvailable()
      // latest emission per (bucket, key)
      val latest = spark.table("hh_out")
        .groupBy("bucket", "key")
        .agg(max(struct(col("bucketN"), col("minCount"))).as("s"))
        .select(col("key"), col("s.minCount").as("minCount"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // guarantee: keys above N/(k+1) of their bucket must be present
      assert(latest.contains("hot") && latest.contains("warm"))
      // minCount is a lower bound on the true count
      assert(latest("hot") <= 80L && latest("warm") <= 60L)
      // MG bound: each decrement step cancels ≤ k+1 occurrences, so the
      // counter can't undercount by more than bucketN/(k+1)
      assert(latest("hot") >= 80L - 200L / (k + 1))
      // bounded state: ≤ k candidates emitted per bucket in any batch
      val perBucket = spark.table("hh_out")
        .groupBy("bucket", "bucketN").count()
        .select("count").as[Long].collect()
      assert(perBucket.forall(_ <= k))
    } finally q.stop()
  }

  test("driftSink: in-distribution batch is quiet, shifted batch alarms") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("drift").toString
    // reference: scores spread evenly over bins 0-4
    val ref = (0 until 100).map(i => i % 5).toDF("bin")
    val mem = MemoryStream[Int]
    val q = driftSink(mem.toDF().withColumnRenamed("value", "bin"),
      col("bin"), ref, col("bin"), alarmAt = 0.2,
      outDir = s"$tmp/out", checkpointDir = s"$tmp/ckpt")
    try {
      mem.addData(0 until 50 map (_ % 5): _*) // same shape as reference
      q.processAllAvailable()
      mem.addData(Seq.fill(50)(4): _*) // all mass in one bin
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
        .orderBy("batch_id")
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      assert(out.length == 2)
      assert(out(0)._1 == 50 && !out(0)._3,
        s"uniform batch should not alarm: ${out.toSeq}")
      assert(out(1)._1 == 50 && out(1)._3 && out(1)._2 > 0.2,
        s"shifted batch should alarm: ${out.toSeq}")
    } finally q.stop()
  }

  test("ksDriftSink: CDF-shape shift alarms where same-shape stays quiet") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ksdrift").toString
    val ref = (0 until 100).map(i => i % 10).toDF("v")
    val mem = MemoryStream[Int]
    val q = ksDriftSink(mem.toDF().withColumnRenamed("value", "v"),
      "v", ref, alarmAt = 0.3,
      outDir = s"$tmp/out", checkpointDir = s"$tmp/ckpt")
    try {
      mem.addData(0 until 50 map (_ % 10): _*) // identical CDF -> D = 0
      q.processAllAvailable()
      mem.addData((0 until 50).map(_ % 10 + 5): _*) // shifted by 5
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out").orderBy("batch_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3),
          r.getBoolean(4)))
      assert(out.length == 2)
      assert(out(0)._2 == 50 && out(0)._3 == 0.0 && !out(0)._4,
        out.toSeq.toString)
      assert(out(1)._3 == 0.5 && out(1)._4, // half the mass displaced
        out.toSeq.toString)
      // the foreachBatch body equals the batch operator on same inputs
      val direct = ksDriftBatch((0 until 50).map(_ % 10 + 5).toDF("v"),
        "v", ref, 0.3, 1L).collect().head
      assert(direct.getDouble(3) == out(1)._3)
    } finally q.stop()
  }

  test("emdDriftSink: a far shift alarms where a near shift stays " +
    "quiet (KS would rate them equally)") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("emddrift").toString
    val ref = (0 until 100).map(i => i % 10).toDF("v")
    val mem = MemoryStream[Int]
    val q = emdDriftSink(mem.toDF().withColumnRenamed("value", "v"),
      "v", ref, alarmAt = 50.0,
      outDir = s"$tmp/out", checkpointDir = s"$tmp/ckpt")
    try {
      mem.addData(0 until 50 map (_ % 10 + 3): _*) // shift 3: EMD = 3
      q.processAllAvailable()
      mem.addData(0 until 50 map (_ % 10 + 100): _*) // shift 100
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out").orderBy("batch_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3),
          r.getBoolean(4)))
      assert(out.length == 2)
      assert(out(0)._3 == 3.0 && !out(0)._4, out.toSeq.toString)
      assert(out(1)._3 == 100.0 && out(1)._4, out.toSeq.toString)
      // the foreachBatch body equals the batch operator on same inputs
      val direct = emdDriftBatch((0 until 50).map(_ % 10 + 100).toDF("v"),
        "v", ref, 50.0, 1L).collect().head
      assert(direct.getDouble(3) == out(1)._3)
    } finally q.stop()
  }

  test("quantileStateSink: streamed KLL state == one-pass batch state; " +
    "replay commits nothing") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("qstate").toString
    val mem = MemoryStream[(String, Double)]
    val q = quantileStateSink(
      mem.toDF().toDF("g", "v"), Seq("g"), "v",
      tablePath = s"$tmp/state", checkpointDir = s"$tmp/ckpt")
    // n < k per group -> sketches store every value: estimates are
    // EXACT, so streamed-merged state must EQUAL the one-pass batch
    val all = (1 to 60).map(i => (if (i % 2 == 0) "a" else "b",
      i.toDouble))
    try {
      val (first, rest) = all.splitAt(20)
      mem.addData(first: _*); q.processAllAvailable()
      mem.addData(rest: _*); q.processAllAvailable()
      val streamed = readQuantileState(spark, s"$tmp/state", Seq("g"),
        Seq(0.5, 0.9)).collect().map(r =>
        (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .toSet
      val onePass = graft.agg.AggState.finalizedQuantile(
        graft.agg.AggState.partializeQuantile(
          all.toDF("g", "v"), Seq("g"), "v"), Seq(0.5, 0.9))
        .collect().map(r =>
        (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(streamed == onePass, s"$streamed vs $onePass")
      // epoch replay is a no-op (marker already present)
      val replayed = quantileStateBatch(first.toDF("g", "v"), Seq("g"),
        "v", s"$tmp/state", batchId = 0L)
      assert(!replayed)
      assert(readQuantileState(spark, s"$tmp/state", Seq("g"),
        Seq(0.5)).count() == 2)
    } finally q.stop()
  }

  test("momentsStateSink: streamed cross-moment state == one-pass " +
    "batch BIT-FOR-BIT; replay commits nothing") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("mstate").toString
    val mem = MemoryStream[(String, Double, Double)]
    val q = momentsStateSink(
      mem.toDF().toDF("g", "x", "y"), Seq("g"), Seq("x", "y"),
      tablePath = s"$tmp/state", checkpointDir = s"$tmp/ckpt")
    val rnd = new scala.util.Random(17)
    val all = (0 until 200).map { i =>
      val x = rnd.nextDouble() * 10
      (if (i % 2 == 0) "a" else "b", x, 2 * x + rnd.nextGaussian())
    }
    try {
      val (first, rest) = all.splitAt(70)
      mem.addData(first: _*); q.processAllAvailable()
      mem.addData(rest: _*); q.processAllAvailable()
      // moment cells are exact DECIMAL sums, so the streamed-merged
      // correlation read is bit-identical to the one-pass batch —
      // no tolerance, unlike the sketch tiers
      val streamed = readMomentsState(spark, s"$tmp/state", Seq("g"),
        Seq("x", "y")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSet
      val onePass = graft.agg.AggState.finalizedCorr(
        graft.agg.AggState.partializeMoments(
          all.toDF("g", "x", "y"), Seq("g"), Seq("x", "y")),
        Seq("x", "y")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(streamed == onePass, s"$streamed vs $onePass")
      assert(streamed.size == 2 &&
        streamed.forall { case (_, _, _, n, r) => n == 100L && r > 0.9 })
      // epoch replay is a no-op (marker already present)
      val replayed = momentsStateBatch(first.toDF("g", "x", "y"),
        Seq("g"), Seq("x", "y"), s"$tmp/state", batchId = 0L)
      assert(!replayed)
      assert(readMomentsState(spark, s"$tmp/state", Seq("g"),
        Seq("x", "y")).collect().map(r => (r.getString(0),
          r.getString(1), r.getString(2), r.getLong(3),
          r.getDouble(4))).toSet == streamed)
    } finally q.stop()
  }

  test("stickinessStateSink: streamed per-day HLL == batch twin, " +
    "bounds vs exact hold") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("stick").toString
    val mem = MemoryStream[(Long, Long)] // (user_id, day)
    val q = stickinessStateSink(
      mem.toDF().toDF("user_id", "day"), "user_id", "day",
      tablePath = s"$tmp/state", checkpointDir = s"$tmp/ckpt")
    val rnd = new scala.util.Random(5)
    val events = (0 until 3000).map(_ =>
      (rnd.nextInt(400).toLong, rnd.nextInt(6).toLong))
    try {
      val (a, b) = events.splitAt(1400)
      mem.addData(a: _*); q.processAllAvailable()
      mem.addData(b: _*); q.processAllAvailable()
      val streamed = readStickiness(spark, s"$tmp/state", window = 30)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      // batch twin: sketch the full history in one pass, same read
      // logic. HLL union preserves the ACCURACY BOUND, not the exact
      // register estimate (composite vs HIP estimator paths), so the
      // twin must agree within a hair — not bit-for-bit
      stickinessStateBatch(events.toDF("user_id", "day"), "user_id",
        "day", s"$tmp/twin", batchId = 0L)
      val twin = readStickiness(spark, s"$tmp/twin", window = 30)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(streamed.keySet == twin.keySet)
      streamed.foreach { case (d, (dauS, mauS, _)) =>
        val (dauT, mauT, _) = twin(d)
        assert(math.abs(dauS - dauT).toDouble / dauT <= 0.02 &&
          math.abs(mauS - mauT).toDouble / mauT <= 0.02,
          s"day $d: streamed ($dauS,$mauS) vs twin ($dauT,$mauT)")
      }
      // and the estimates track exact DAU/MAU within the lgK=12 bound
      val ud = events.distinct
      for (d <- 0L until 6L) {
        val dau = ud.count(_._2 == d)
        val mau = ud.filter(e => e._2 <= d && e._2 > d - 30)
          .map(_._1).distinct.size
        val (dauEst, mauEst, _) = streamed(d)
        assert(math.abs(dauEst - dau).toDouble / dau <= 0.15,
          s"day $d dau $dauEst vs $dau")
        assert(math.abs(mauEst - mau).toDouble / mau <= 0.15,
          s"day $d mau $mauEst vs $mau")
      }
    } finally q.stop()
  }

  test("chi2DriftSink: same category mix is quiet, a shifted mix " +
    "alarms; empty batch writes nothing") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("chi2drift").toString
    val ref = (0 until 300).map(i => s"c${i % 3}").toDF("cat")
    val mem = MemoryStream[String]
    val q = chi2DriftSink(
      mem.toDF().filter(col("value") =!= "skip")
        .withColumnRenamed("value", "cat"),
      "cat", ref, "cat", alarmAt = 9.21, // chi2_{2, 0.01}
      outDir = s"$tmp/out", checkpointDir = s"$tmp/ckpt")
    try {
      mem.addData((0 until 150).map(i => s"c${i % 3}"): _*) // same mix
      q.processAllAvailable()
      mem.addData(Seq.fill(5)("skip"): _*) // filtered -> empty batch
      q.processAllAvailable()
      mem.addData((0 until 150).map(_ => "c0"): _*) // all one category
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out").orderBy("batch_id")
        .collect().map(r => (r.getLong(0), r.getDouble(3),
          r.getBoolean(4)))
      assert(out.length == 2, out.toSeq.toString) // empty batch skipped
      assert(out(0)._2 == 0.0 && !out(0)._3, out.toSeq.toString)
      assert(out(1)._3 && out(1)._2 > 9.21, out.toSeq.toString)
      // the foreachBatch body equals the batch operator on same input
      val direct = chi2DriftBatch((0 until 150).map(_ => "c0").toDF("cat"),
        "cat", ref, "cat", 9.21, 2L).collect().head
      assert(direct.getDouble(3) == out(1)._2)
    } finally q.stop()
  }

  test("sprtStateSink: epoch-keyed partials + derived walk == " +
    "hand-replayed LLR; replay commits nothing") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("sprt").toString
    val mem = MemoryStream[(String, Boolean)]
    val q = sprtStateSink(mem.toDF().toDF("variant", "conv"),
      "variant", col("conv"),
      tablePath = s"$tmp/state", checkpointDir = s"$tmp/ckpt")
    // variant A converts at ~0.5 (crosses H1 fast vs p0=.15/p1=.20),
    // variant B at ~0.05 (crosses H0)
    def epoch(seed: Int) = {
      val rnd = new scala.util.Random(seed)
      (0 until 200).map(i => ("A", rnd.nextDouble() < 0.5)) ++
        (0 until 200).map(i => ("B", rnd.nextDouble() < 0.05))
    }
    try {
      mem.addData(epoch(1): _*); q.processAllAvailable()
      mem.addData(epoch(2): _*); q.processAllAvailable()
      val walk = readSprt(spark, s"$tmp/state",
        p0 = 0.15, p1 = 0.20, alpha = 0.05, beta = 0.10)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(4), r.getLong(5), r.getDouble(6), r.getString(7)))
        .toMap
      // hand-replay the identical math from the raw epochs
      def pin(x: Double, s: Int) = BigDecimal(x)
        .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
      val l1 = pin(math.log(0.20 / 0.15), 9)
      val l0 = pin(math.log(0.80 / 0.85), 9)
      val byEpoch = Seq(0L -> epoch(1), 1L -> epoch(2))
      for (v <- Seq("A", "B")) {
        var (cn, cs) = (0L, 0L)
        for ((id, data) <- byEpoch) {
          val mine = data.filter(_._1 == v)
          cn += mine.size; cs += mine.count(_._2)
          val llr = pin(cs * l1 + (cn - cs) * l0, 6)
          val (gn, gs, gl, _) = walk((v, id))
          assert((gn, gs, gl) == ((cn, cs, llr)),
            s"$v epoch $id: ($gn,$gs,$gl) vs ($cn,$cs,$llr)")
        }
      }
      // the designed outcomes: A accepts H1, B accepts H0
      assert(walk(("A", 1L))._4 == "accept_h1")
      assert(walk(("B", 1L))._4 == "accept_h0")
      // epoch replay is a no-op
      val replayed = sprtStateBatch(epoch(1).toDF("variant", "conv"),
        "variant", col("conv"), s"$tmp/state", batchId = 0L)
      assert(!replayed)
      assert(spark.read.parquet(s"$tmp/state").count() == 4)
    } finally q.stop()
  }

  test("ksDriftSink: an empty micro-batch writes nothing (no NaN row)") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ksdrift0").toString
    val ref = (0 until 20).map(i => i % 5).toDF("v")
    val mem = MemoryStream[Int]
    // the filter empties the first micro-batch: without the isEmpty
    // guard the sink would append (ks_d = 0/0 = NaN, alarm = null)
    val q = ksDriftSink(
      mem.toDF().filter(col("value") >= 0).withColumnRenamed("value", "v"),
      "v", ref, alarmAt = 0.3,
      outDir = s"$tmp/out", checkpointDir = s"$tmp/ckpt")
    try {
      mem.addData(-1, -2, -3) // all filtered out -> empty batch fires
      q.processAllAvailable()
      mem.addData(0, 1, 2, 3, 4)
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out").collect()
      assert(out.length == 1, out.toSeq.toString)
      assert(!out.head.getDouble(3).isNaN && out.head.getLong(2) == 5L)
    } finally q.stop()
  }
}
