package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.SensorReading
import graft.streaming.{Alerts, StreamingDashboard, StreamingDedup}

/** Structured Streaming semantics tests (SURVEY §2.10): watermark late-drop,
  * multi-resolution rollup with the metric store, stateful alerts.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("T2/T4: watermark drops events older than the grace window") {
    implicit val s = spark
    val mem = MemoryStream[(Timestamp, Long)]
    val agg = StreamingDashboard.fiveMinAgg(
      mem.toDF().toDF("ts", "user_id").withColumn("key", lit("s1")),
      "key", "ts", "user_id", lateness = "10 minutes")
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("wm_out").start()
    try {
      mem.addData((ts(0), 1L), (ts(2), 2L))
      q.processAllAvailable()
      // advance watermark to 10:30 - 10min = 10:20
      mem.addData((ts(30), 3L))
      q.processAllAvailable()
      // late event at 10:01 — older than watermark → dropped
      mem.addData((ts(1), 4L))
      q.processAllAvailable()
      val out = spark.table("wm_out")
        .groupBy("window_start_ms").agg(max("pv").as("pv"))
        .as[(Long, Long)].collect().toMap
      val w0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
      assert(out(w0) == 2L, s"late event must not bump the 10:00 window: $out")
    } finally q.stop()
  }

  test("T3/T5: multi-res rollup store matches batch truth and is idempotent") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_store").toString
    val mem = MemoryStream[(Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id").withColumn("key", lit("s1"))
    // data must land before start: AvailableNow snapshots offsets at launch
    mem.addData((ts(0), 1L), (ts(3), 1L), (ts(7), 2L), (ts(22), 3L))
    val q = StreamingDashboard.run(events, s"$dir/store", s"$dir/ckpt",
        trigger = Trigger.AvailableNow()) // drain then stop, per-batch flush
      .start()
    try q.awaitTermination() finally q.stop()
    mem.addData((ts(40), 1L)) // second trigger updates the 1h window
    val q2 = StreamingDashboard.run(events, s"$dir/store", s"$dir/ckpt",
      trigger = Trigger.AvailableNow()).start()
    try q2.awaitTermination() finally q2.stop()
    val coarse = spark.read.parquet(s"$dir/store/coarse")
      .filter(col("granularity") === "1h")
      .select("window_start_ms", "pv").as[(Long, Long)].collect().toMap
    val hourStart = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    assert(coarse(hourStart) == 5L,
      s"1h rollup should count all 5 events: $coarse")
    // UTC+8 day window starts at 16:00 UTC the previous day
    val day = spark.read.parquet(s"$dir/store/coarse")
      .filter(col("granularity") === "1d")
      .select("window_start_ms").as[Long].head()
    assert((day + StreamingDashboard.DayOffsetMs) % 86400000L == 0)
  }

  test("T5/T12 incremental: a later-day trigger rewrites only its own day " +
    "partition and the store still matches batch truth") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_incr").toString
    val mem = MemoryStream[(Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id").withColumn("key", lit("s1"))
    mem.addData((ts(0), 1L), (ts(7), 2L)) // day A (UTC+8 day of 2024-01-01)
    val q = StreamingDashboard.run(events, s"$dir/store", s"$dir/ckpt",
      trigger = Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()

    def dayDirs(store: String): Map[String, Long] = {
      val d = new java.io.File(s"$dir/store/$store")
      d.listFiles().filter(_.getName.startsWith("day="))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val fineBefore = dayDirs("fine")
    val coarseBefore = dayDirs("coarse")
    assert(fineBefore.size == 1 && coarseBefore.size == 1)

    // three days later — a different UTC+8 day partition
    mem.addData((Timestamp.valueOf("2024-01-04 10:00:00"), 9L))
    Thread.sleep(1100) // mtime granularity guard
    val q2 = StreamingDashboard.run(events, s"$dir/store", s"$dir/ckpt",
      trigger = Trigger.AvailableNow()).start()
    try q2.awaitTermination() finally q2.stop()

    val fineAfter = dayDirs("fine")
    val coarseAfter = dayDirs("coarse")
    assert(fineAfter.size == 2 && coarseAfter.size == 2,
      s"new day partition expected: $fineAfter / $coarseAfter")
    coarseBefore.foreach { case (name, mtime) =>
      assert(coarseAfter(name) == mtime,
        s"untouched coarse partition $name was rewritten")
    }
    fineBefore.foreach { case (name, mtime) =>
      assert(fineAfter(name) == mtime,
        s"untouched fine partition $name was rewritten")
    }
    // and the incremental store equals a from-scratch batch rollup
    val truth = StreamingDashboard
      .rollup(spark.read.parquet(s"$dir/store/fine").drop("day"))
      .select("key", "granularity", "window_start_ms", "pv")
      .as[(String, String, Long, Long)].collect().toSet
    val got = spark.read.parquet(s"$dir/store/coarse")
      .select("key", "granularity", "window_start_ms", "pv")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == truth, s"incremental != batch truth:\n$got\nvs\n$truth")
  }

  test("T6: temperature change alert fires on jumps above threshold") {
    implicit val s = spark
    val mem = MemoryStream[SensorReading]
    val q = Alerts.tempChangeAlerts(mem.toDS(), threshold = 10.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("alerts_out").start()
    try {
      mem.addData(SensorReading("a", 1000, 60.0), SensorReading("a", 2000, 65.0))
      q.processAllAvailable()
      mem.addData(SensorReading("a", 3000, 80.0)) // jump 15 > 10 across batches
      q.processAllAvailable()
      val alerts = spark.table("alerts_out").as[Alerts.TempAlert].collect()
      assert(alerts.toSeq == Seq(Alerts.TempAlert("a", 65.0, 80.0)))
    } finally q.stop()
  }

  test("T9: rising-temperature alert fires after sustained rise") {
    implicit val s = spark
    val mem = MemoryStream[SensorReading]
    val q = Alerts.risingTempAlerts(mem.toDS(), riseMs = 10000)
      .writeStream.outputMode("append")
      .format("memory").queryName("rising_out").start()
    try {
      mem.addData(
        SensorReading("a", 0, 60.0), SensorReading("a", 4000, 61.0),
        SensorReading("a", 8000, 62.0), SensorReading("a", 12000, 63.0),
        SensorReading("b", 0, 60.0), SensorReading("b", 12000, 50.0))
      q.processAllAvailable()
      val alerts = spark.table("rising_out").as[Alerts.RisingAlert].collect()
      assert(alerts.toSeq == Seq(Alerts.RisingAlert("a", 0, 12000)))
    } finally q.stop()
  }

  test("T8: count-with-timeout accumulates, then emits and clears on timeout") {
    import org.apache.spark.sql.streaming.TestGroupState
    // accumulate path: two batches of events for the same key
    import org.apache.spark.api.java.Optional
    val s1 = TestGroupState.create[Long](Optional.empty[Long](),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = Optional.empty[Long](),
      hasTimedOut = false)
    assert(Alerts.countWithTimeoutFn(30000)("x", Iterator("a", "b"), s1).isEmpty)
    assert(s1.get == 2L)
    assert(Alerts.countWithTimeoutFn(30000)("x", Iterator("c"), s1).isEmpty)
    assert(s1.get == 3L)
    // timeout path: timer fired → emit (key, count) and drop state
    val s2 = TestGroupState.create[Long](Optional.of(3L),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 61000L, eventTimeWatermarkMs = Optional.empty[Long](),
      hasTimedOut = true)
    val out = Alerts.countWithTimeoutFn(30000)("x", Iterator.empty, s2).toSeq
    assert(out == Seq(Alerts.KeyCount("x", 3L)))
    assert(s2.isRemoved)
  }

  test("T1/T13: sketch-mode streaming pipeline stores coarse UV") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_sketch").toString
    val mem = MemoryStream[(Timestamp, Long)]
    val events = StreamingDashboard.withIngestTime(
      mem.toDF().toDF("ts", "user_id").withColumn("key", lit("s1")))
    assert(events.schema.fieldNames.contains("ingest_ts")) // T1 tagging
    mem.addData((ts(0), 1L), (ts(2), 1L), (ts(3), 2L), (ts(22), 3L))
    val q = StreamingDashboard.runSketch(events, s"$dir/store", s"$dir/ckpt",
      trigger = Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val hour = spark.read.parquet(s"$dir/store/coarse")
      .filter(col("granularity") === "1h")
      .select("pv", "uv").as[(Long, Long)].head()
    assert(hour == ((4L, 3L)), s"pv/uv: $hour") // 4 events, 3 distinct users
  }

  /** Reference form of the coarse rollups: one select and one `group`
    * per granularity, unioned — four scans and four shuffles. */
  private def perGranularity(fiveMin: DataFrame, carry: String*)(
      group: DataFrame => DataFrame): DataFrame =
    StreamingDashboard.Granularities.map { case (name, g) =>
      val offset = if (name == "1d") StreamingDashboard.DayOffsetMs else 0L
      group(fiveMin.select(Seq(col("key"), lit(name).as("granularity"),
        StreamingDashboard.floorWindow(col("window_start_ms"), g, offset)
          .as("window_start_ms")) ++ carry.map(col): _*))
    }.reduce(_ unionByName _)

  test("T3 path equivalence: the one-shuffle rollup, sketch rollup and " +
    "touched-window set equal the four-branch union, pre-epoch and across " +
    "a UTC+8 midnight") {
    val keys = Seq("key", "granularity", "window_start_ms")
    val midnight = 1704124800000L // 2024-01-01 16:00 UTC = 00:00 UTC+8
    val raw = Seq(
      ("a", midnight - 600000L, 1L), ("a", midnight - 1L, 2L),
      ("a", midnight, 1L), ("a", midnight + 180000L, 3L),
      ("b", midnight - 1L, 4L), ("b", midnight + 3660000L, 4L),
      ("c", -1L, 5L), ("c", -300001L, 6L), ("c", -28800001L, 5L),
      ("c", -28800000L, 7L), ("b", -172799877L, 8L)
    ).toDF("key", "ms", "user_id")
    val fine = raw.groupBy(col("key"),
        StreamingDashboard.floorWindow(col("ms"), 300000L, 0L)
          .as("window_start_ms"))
      .agg(count(lit(1)).as("pv"), hll_sketch_agg(col("user_id"))
        .as("uv_sketch"))
    def same(got: DataFrame, ref: DataFrame, what: String): Unit = {
      assert(got.columns.toSeq == ref.columns.toSeq, what)
      val g = got.collect().map(_.toString).sorted.toSeq
      val r = ref.collect().map(_.toString).sorted.toSeq
      assert(g == r, s"$what:\n$g\nvs\n$r")
    }
    Seq(fine, fine.filter(lit(false))).foreach { f =>
      val pvOnly = f.drop("uv_sketch")
      same(StreamingDashboard.rollup(pvOnly),
        perGranularity(pvOnly, "pv")(
          _.groupBy(keys.map(col): _*).agg(sum("pv").as("pv"))), "rollup")
      same(StreamingDashboard.rollupSketch(f),
        perGranularity(f, "pv", "uv_sketch")(
          _.groupBy(keys.map(col): _*).agg(sum("pv").as("pv"),
            hll_sketch_estimate(hll_union_agg(col("uv_sketch"))).as("uv"))),
        "rollupSketch")
      same(StreamingDashboard.touchedCoarseWindows(f),
        perGranularity(f)(identity).distinct(), "touchedCoarseWindows")
    }
    // the input really spans two UTC+8 days on each side of the epoch
    val days = StreamingDashboard.rollup(fine.drop("uv_sketch"))
      .filter(col("granularity") === "1d").select("window_start_ms")
      .as[Long].collect().toSet
    assert(Set(midnight - 86400000L, midnight, -28800000L - 86400000L,
      -28800000L).subsetOf(days), s"1d windows: $days")
  }

  test("T5 work lock: a runSketch trigger computes its micro-batch once " +
    "and scans the fine store once, into one exchange") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler._
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_lock").toString
    val mem = MemoryStream[(Timestamp, Long, String)]
    mem.addData((ts(0), 1L, "a"), (ts(3), 2L, "b"), (ts(7), 1L, "a"),
      (ts(22), 3L, "c"), (ts(41), 2L, "a"))
    // completed stages of the stream's jobs: (batch id, RDD names, names
    // of the SQL metrics the stage's tasks updated, shuffle records
    // written). A stage reading a cache still lists the RDDs behind it,
    // so running the stateful operator shows as its state-row metric.
    val batchOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Seq[String], Set[String], Long)]()
    val fence = "graft-work-lock-fence"
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        p.flatMap(q => Option(q.getProperty("streaming.sql.batchId")))
          .foreach(b => e.stageIds.foreach(batchOf.put(_, b)))
        if (p.exists(_.getProperty("spark.jobGroup.id") == fence))
          fenced = true
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        Option(batchOf.get(i.stageId)).foreach(b => stages.add((b,
          i.rddInfos.map(_.name).toSeq,
          i.accumulables.values.flatMap(_.name).toSet,
          i.taskMetrics.shuffleWriteMetrics.recordsWritten)))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = StreamingDashboard.runSketch(
          mem.toDF().toDF("ts", "user_id", "key"), s"$dir/store",
          s"$dir/ckpt", trigger = Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      // listener events arrive in order: once this job is seen, every
      // stage of the stream before it has been delivered
      spark.sparkContext.setJobGroup(fence, fence)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!fenced && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(fenced)
    } finally spark.sparkContext.removeSparkListener(listener)
    val all = stages.asScala.toSeq
    assert(all.nonEmpty)
    all.groupBy(_._1).foreach { case (b, ss) =>
      val stateful = ss.count(_._3.contains("number of total state rows"))
      assert(stateful == 1,
        s"batch $b ran the stateful aggregation stage $stateful times")
    }
    val scans = all.filter(_._2.contains("FileScanRDD"))
    assert(scans.size == 1, s"fine store scanned by ${scans.size} stages")
    assert(scans.head._4 > 0, "the fine-store scan must feed an exchange")
    val hour = spark.read.parquet(s"$dir/store/coarse")
      .filter(col("granularity") === "1h")
      .select("key", "pv", "uv").as[(String, Long, Long)].collect().toSet
    assert(hour == Set(("a", 3L, 2L), ("b", 1L, 1L), ("c", 1L, 1L)),
      s"key/pv/uv: $hour")
  }

  test("T13 deterministic registers: streamed per-batch HLL store merges " +
    "bit-identically to the one-shot sketch of everything ingested") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_hllstream").toString
    val mem = MemoryStream[Long]
    val events = mem.toDF().toDF("user_id")
    // continuous trigger: each addData below becomes its own micro-batch
    // (AvailableNow would terminate at start — no data pending yet)
    val q = StreamingDashboard.runHllRegisterStore(
      events, s"$dir/store", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime("0 seconds")).start()
    val batches = Seq((1L to 2000L), (1500L to 4500L), (4000L to 6000L))
    // quiesced mid-stream fold after batch 2: MAX-merge is idempotent,
    // so everything asserted below must hold identically across it
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b); q.processAllAvailable()
        if (i == 1) graft.ops.Sketch.compactHllStore(spark, s"$dir/store")
      }
    } finally q.stop()
    // the fold collapsed epochs {0,1} into the reserved baseline; batch 2
    // then appended its own slab
    val epochs = spark.read.parquet(s"$dir/store")
      .select("epoch").distinct().as[Long].collect().sorted
    assert(epochs.toSeq == Seq(graft.ops.Sketch.FoldEpoch, 2L),
      s"epochs: ${epochs.toSeq}")
    val merged = graft.ops.Sketch.mergedHllEstimate(spark, s"$dir/store")
      .as[(Long, Long, Long, Double)].head()
    val oneShot = graft.ops.Sketch.hllEstimate(
        batches.flatten.toDF("user_id"), valueCol = "user_id")
      .as[(Long, Long, Long, Long, Double)].head()
    assert((merged._1, merged._2, merged._3, merged._4) ==
      (oneShot._1, oneShot._3, oneShot._4, oneShot._5),
      s"streamed store $merged != one-shot $oneShot")
    // a duplicate epoch append (the replayed-batch case) changes nothing
    graft.ops.Sketch.appendHllStore(
      (1500L to 4500L).toDF("user_id"), s"$dir/store", epoch = 1L,
      valueCol = "user_id")
    val replayed = graft.ops.Sketch.mergedHllEstimate(spark, s"$dir/store")
      .as[(Long, Long, Long, Double)].head()
    assert(replayed == merged, "replayed epoch must not drift the estimate")
  }

  test("T13d streamed KMV store: per-batch bottom-k epochs union-merge " +
    "bit-identically to the one-shot sketch, replays change nothing") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_kmvstream").toString
    val mem = MemoryStream[Long]
    val events = mem.toDF().toDF("user_id")
    val q = StreamingDashboard.runKmvStore(
      events, s"$dir/store", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime("0 seconds")).start()
    val batches = Seq((1L to 2000L), (1500L to 4500L), (4000L to 6000L))
    // quiesced mid-stream fold: union + re-trim is exactly the merged
    // read, so the estimate must be bit-identical across it
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b); q.processAllAvailable()
        if (i == 1) graft.ops.Sketch.compactKmvStore(spark, s"$dir/store")
      }
    } finally q.stop()
    val epochs = spark.read.parquet(s"$dir/store")
      .select("epoch").distinct().as[Long].collect().sorted
    assert(epochs.toSeq == Seq(graft.ops.Sketch.FoldEpoch, 2L),
      s"epochs: ${epochs.toSeq}")
    val merged = graft.ops.Sketch.mergedKmvEstimate(spark, s"$dir/store")
      .as[(Long, Long, Long, Long)].head()
    val oneShot = graft.ops.Sketch.kmvEstimate(
        batches.flatten.toDF("user_id"), valueCol = "user_id")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(merged == ((oneShot._1, oneShot._2, oneShot._3, oneShot._4)),
      s"streamed store $merged != one-shot $oneShot")
    // a replayed micro-batch (same epoch id, same rows) changes nothing
    graft.ops.Sketch.appendKmvStore(
      (1500L to 4500L).toDF("user_id"), s"$dir/store", epoch = 1L,
      valueCol = "user_id")
    val replayed = graft.ops.Sketch.mergedKmvEstimate(spark, s"$dir/store")
      .as[(Long, Long, Long, Long)].head()
    assert(replayed == merged, "replayed epoch must not drift the estimate")
  }

  test("T13d auto-fold cadence: a runner with compactEvery = 2 keeps the " +
    "epoch count bounded across 4 batches and the estimate bit-identical") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_kmvauto").toString
    val mem = MemoryStream[Long]
    val q = StreamingDashboard.runKmvStore(
      mem.toDF().toDF("user_id"), s"$dir/store", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime("0 seconds"), compactEvery = 2)
      .start()
    val batches = Seq((1L to 1500L), (1000L to 3000L), (2500L to 4000L),
      (3500L to 5000L))
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // folds fired after batches 1 and 3: everything is in the baseline
    val epochs = spark.read.parquet(s"$dir/store")
      .select("epoch").distinct().as[Long].collect().sorted
    assert(epochs.toSeq == Seq(graft.ops.Sketch.FoldEpoch),
      s"epochs: ${epochs.toSeq}")
    val merged = graft.ops.Sketch.mergedKmvEstimate(spark, s"$dir/store")
      .as[(Long, Long, Long, Long)].head()
    val oneShot = graft.ops.Sketch.kmvEstimate(
        batches.flatten.toDF("user_id"), valueCol = "user_id")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(merged == ((oneShot._1, oneShot._2, oneShot._3, oneShot._4)),
      s"auto-folded store $merged != one-shot $oneShot")
  }

  test("T13e streamed KMV overlap stores: the stored-sketch theta row " +
    "after quiesce equals the batch intersection of everything " +
    "ingested; mixed-k stores fail loud") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_kmvoverlap").toString
    val mem = MemoryStream[(Long, String)]
    val events = mem.toDF().toDF("user_id", "kind")
    val q = StreamingDashboard.runKmvOverlapStores(
      events, s"$dir/a", s"$dir/b", s"$dir/ckpt",
      predA = col("kind") === "click", predB = col("kind") === "buy",
      valueCol = "user_id",
      trigger = Trigger.ProcessingTime("0 seconds")).start()
    // clicks 1..3000, buys 2000..5000 per batch thirds — real overlap
    val batches = Seq(
      (1L to 1000L).map(u => (u, "click")) ++
        (2000L to 3000L).map(u => (u, "buy")),
      (1001L to 2500L).map(u => (u, "click")) ++
        (3001L to 4200L).map(u => (u, "buy")),
      (2501L to 3000L).map(u => (u, "click")) ++
        (4201L to 5000L).map(u => (u, "buy")))
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val streamed = graft.ops.Sketch
      .kmvStoreOverlap(spark, s"$dir/a", s"$dir/b")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    val batch = graft.ops.Sketch.kmvIntersection(
        (1L to 3000L).toDF("user_id"), (2000L to 5000L).toDF("user_id"),
        valueCol = "user_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(streamed == ((batch._1, batch._2, batch._3, batch._4,
      batch._5, batch._6)),
      s"streamed stores $streamed != batch intersection $batch")
    // exact overlap for reference: 1001 shared users of 5000
    assert(batch._7 == 1001 && batch._8 == 5000)
    // a store written at a different k cannot overlap — loud, not wrong
    graft.ops.Sketch.writeKmvStore((1L to 100L).toDF("user_id"),
      s"$dir/c", epoch = 0L, valueCol = "user_id", k = 128)
    intercept[IllegalArgumentException] {
      graft.ops.Sketch.kmvStoreOverlap(spark, s"$dir/a", s"$dir/c")
    }
  }

  test("T13f streamed grouped KMV store: the quiesce-time overlap " +
    "MATRIX equals the one-shot grouped matrix of everything ingested, " +
    "for every segment pair at once") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_gkmvstream").toString
    val mem = MemoryStream[(Long, String)]
    val events = mem.toDF().toDF("user_id", "kind")
    val q = StreamingDashboard.runGroupedKmvStore(
      events, s"$dir/store", s"$dir/ckpt", groupCol = "kind",
      valueCol = "user_id",
      trigger = Trigger.ProcessingTime("0 seconds")).start()
    // three segments with planted pairwise overlaps, split over batches
    val all = (1L to 3000L).map(u => (u, "click")) ++
      (2000L to 5000L).map(u => (u, "buy")) ++
      (4500L to 6000L).map(u => (u, "view"))
    // compact mid-stream (quiesced between triggers): the fold must be
    // invisible in the final matrix and collapse the epoch slabs
    try {
      val chunks = all.grouped((all.size + 2) / 3).toSeq
      chunks.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b.toSeq); q.processAllAvailable()
        if (i == 1)
          graft.ops.Sketch.compactGroupedKmvStore(spark, s"$dir/store")
      }
    } finally q.stop()
    assert(spark.read.parquet(s"$dir/store").select("epoch").distinct()
      .count() == 2L,
      "fold must collapse the first two epoch slabs into one")
    val streamed = graft.ops.Sketch
      .groupedKmvStoreOverlapMatrix(spark, s"$dir/store")
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val oneShot = graft.ops.Sketch.thetaOverlapMatrix(
        graft.ops.Sketch.groupedKmvHashes(
          all.toDF("user_id", "kind").select(col("kind"),
            col("user_id").as("item")), "kind"),
        "kind", 256)
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(streamed == oneShot,
      s"streamed matrix $streamed != one-shot $oneShot")
    assert(streamed.map(r => (r._1, r._2)) ==
      Seq(("buy", "click"), ("buy", "view"), ("click", "view")),
      s"all three segment pairs must surface: $streamed")
    // buy∩view is real (4500..5000), click∩view is empty — both rows exist
    val cv = streamed.find(r => r._1 == "click" && r._2 == "view").get
    assert(cv._5 == 0L, s"disjoint pair must estimate zero inter: $cv")
  }

  test("T13b streamed bloom store: per-batch epochs OR-merge " +
    "bit-identically to the one-shot filter, probes never miss, and " +
    "replays cannot drift") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_bloomstream").toString
    val mem = MemoryStream[String]
    val docs = mem.toDF().toDF("text")
    val q = StreamingDedup.runBloomStore(
      docs, s"$dir/store", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime("0 seconds")).start()
    val batches = Seq((1 to 200).map(i => s"doc$i"),
      (150 to 400).map(i => s"doc$i"), (350 to 500).map(i => s"doc$i"))
    // quiesced mid-stream fold: OR-merge is idempotent, so the probe
    // behavior below must be identical across it
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b); q.processAllAvailable()
        if (i == 1) graft.ops.Sketch.compactBloomStore(spark, s"$dir/store")
      }
    } finally q.stop()
    val epochs = spark.read.parquet(s"$dir/store")
      .select("epoch").distinct().as[Long].collect().sorted
    assert(epochs.toSeq == Seq(graft.ops.Sketch.FoldEpoch, 2L),
      s"epochs: ${epochs.toSeq}")
    val merged = graft.ops.Sketch.mergedBloomWords(spark, s"$dir/store")
      .as[(Long, Long)].collect().sorted.toSeq
    val oneShot = graft.ops.Sketch.bloomWords(
        batches.flatten.toDF("item"), "item")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(merged == oneShot, "streamed OR-merge must equal one-shot")
    // every ingested key probes positive over the merged span
    val probes = ((1 to 500).map(i => s"doc$i") ++
      (1 to 100).map(i => s"never$i")).toDF("item")
    val got = graft.ops.Sketch.mergedBloomProbe(spark, s"$dir/store",
        probes).as[(String, Boolean)].collect().toMap
    assert((1 to 500).forall(i => got(s"doc$i")),
      "an ingested key must NEVER probe negative")
    // a replayed epoch appends duplicate rows; OR-merge is unchanged
    graft.ops.Sketch.appendBloomStore(
      (150 to 400).map(i => s"doc$i").toDF("item"), s"$dir/store",
      epoch = 1L)
    val replayed = graft.ops.Sketch.mergedBloomWords(spark, s"$dir/store")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(replayed == merged, "replayed epoch must not drift the filter")
    // mixed-geometry appends fail loud
    intercept[IllegalArgumentException] {
      graft.ops.Sketch.appendBloomStore(
        Seq("x").toDF("item"), s"$dir/store", epoch = 9L, bitsLog2 = 13)
    }
  }

  test("T13c streamed heavy-hitter store: per-batch MG summaries merge " +
    "under the n/(k+1) bound against exact counts over the whole replay") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_topfreqstream").toString
    val mem = MemoryStream[String]
    val k = 8
    val q = StreamingDedup.runTopFreqStore(
      mem.toDF().toDF("text"), s"$dir/store", s"$dir/ckpt", k = k,
      trigger = Trigger.ProcessingTime("0 seconds")).start()
    // skewed replay: hitters h0..h5 at 2^(10-i) per batch, singleton bed
    val batches = (0 until 3).map(b =>
      (0 to 5).flatMap(i => Seq.fill(1 << (10 - i))(s"h$i")) ++
        (1 to 100).map(i => s"s${b}_$i"))
    // quiesced mid-stream fold: epochs below the newest collapse into
    // the reserved baseline, the newest partition stays live (the MG
    // replay contract rides on per-epoch dynamic overwrite), and
    // counter-sum associativity keeps every bound below identical
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b); q.processAllAvailable()
        if (i == 1)
          graft.ops.Scale.compactTopFreqStore(spark, s"$dir/store")
      }
    } finally q.stop()
    val epochs = spark.read.parquet(s"$dir/store")
      .select("epoch").distinct().as[Long].collect().sorted
    assert(epochs.toSeq == Seq(graft.ops.Sketch.FoldEpoch, 1L, 2L),
      s"epochs: ${epochs.toSeq}")
    val est = graft.ops.Scale.mergedHeavyHitters(spark, s"$dir/store")
      .as[(String, Long)].collect().toMap
    val exact = batches.flatten.groupBy(identity)
      .view.mapValues(_.size.toLong)
    val n = batches.map(_.size).sum.toLong
    val budget = n / (k + 1)
    assert(est.forall { case (it, c) => c <= exact(it) },
      "streamed MG counters never overcount")
    assert(est.forall { case (it, c) => exact(it) - c <= budget },
      s"undercount must stay within n/(k+1) = $budget")
    val mustSurvive = exact.filter(_._2 > budget).keySet
    assert(mustSurvive.nonEmpty && mustSurvive.subsetOf(est.keySet),
      s"items above n/(k+1) must survive the streamed merge: " +
        s"missing ${mustSurvive -- est.keySet}")
    // an epoch-span filter reads a strict subset of the summaries
    val spanned = graft.ops.Scale.mergedHeavyHitters(spark, s"$dir/store",
        org.apache.spark.sql.functions.col("epoch") < 2L)
      .as[(String, Long)].collect().toMap
    assert(spanned.values.sum < est.values.sum,
      "a narrower epoch span must carry less mass")
  }

  test("T13g streamed CMS store: merged span estimates are bit-identical " +
    "to the one-shot sketch across a mid-stream fold; below-watermark " +
    "replays fail loud") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft_cmsstream").toString
    val mem = MemoryStream[String]
    val q = StreamingDedup.runCmsStore(
      mem.toDF().toDF("text"), s"$dir/store", s"$dir/ckpt",
      d = 4, w = 32, trigger = Trigger.ProcessingTime("0 seconds")).start()
    val batches = (0 until 3).map(b =>
      (0 to 9).flatMap(i => Seq.fill((i + 1) * (b + 1))(s"it$i")) ++
        (1 to 40).map(i => s"r${b}_$i"))
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b); q.processAllAvailable()
        // quiesced mid-stream fold: epochs below the newest collapse
        // into the baseline, newest stays live (the ADD-family replay
        // contract rides on per-epoch dynamic overwrite)
        if (i == 1)
          graft.ops.Sketch.compactCmsStore(spark, s"$dir/store")
      }
    } finally q.stop()
    val epochs = spark.read.parquet(s"$dir/store")
      .select("epoch").distinct().as[Long].collect().sorted
    assert(epochs.toSeq == Seq(graft.ops.Sketch.FoldEpoch, 1L, 2L),
      s"epochs: ${epochs.toSeq}")
    assert(graft.ops.Sketch.storeFoldedThrough(spark, s"$dir/store")
      == Some(0L), "the fold must record the erased epoch")
    // bit-identity: the merged span == one-shot countMinEstimates over
    // the whole replay (counter addition is exactly re-counting)
    val all = batches.flatten.toDF("item")
    val got = graft.ops.Sketch.mergedCmsEstimates(spark, s"$dir/store",
        all, "item").as[(String, Long)].collect().toMap
    val oneShot = graft.ops.Sketch.countMinEstimates(all, d = 4, w = 32)
      .select("item", "est_cnt").as[(String, Long)].collect().toMap
    assert(got == oneShot,
      "merged store estimates must equal the one-shot sketch bit-for-bit")
    // est >= true for every probe (the CMS one-sided guarantee)
    val exact = batches.flatten.groupBy(identity)
      .view.mapValues(_.size.toLong)
    assert(got.forall { case (it, e) => e >= exact(it) },
      "CMS never undercounts")
    // a replay of the folded-away epoch 0 must fail loud, not double-add
    val err = intercept[IllegalArgumentException] {
      graft.ops.Sketch.appendCmsStore(Seq("x").toDF("item"),
        s"$dir/store", epoch = 0L, d = 4, w = 32)
    }
    assert(err.getMessage.contains("watermark"), err.getMessage)
    // geometry drift fails loud
    intercept[IllegalArgumentException] {
      graft.ops.Sketch.appendCmsStore(Seq("x").toDF("item"),
        s"$dir/store", epoch = 9L, d = 4, w = 64)
    }
    // a windowed read over the erased epoch refuses (fold watermark)
    intercept[IllegalArgumentException] {
      graft.ops.Sketch.mergedCmsEstimates(spark, s"$dir/store", all,
        "item", epochFilter = col("epoch") === 0L).collect()
    }
  }

  test("T14 stream-stream interval join: shuffled two-sided replay " +
    "emits exactly the batch interval-join pairs, once each") {
    implicit val s = spark
    val cMem = MemoryStream[(Long, Long, Timestamp)]
    val vMem = MemoryStream[(Long, Long, Timestamp)]
    val joined = graft.streaming.StreamingAttribution.intervalJoinStream(
      cMem.toDF().toDF("click_id", "user_id", "cts"),
      vMem.toDF().toDF("view_id", "user_id", "vts"),
      lookbackMs = 300000L)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    // user 1: views at :00, :04, :09; clicks at :05, :06.
    //   click :05 matches views :00 (300s back, inclusive) and :04;
    //   click :06 matches :04 only (:00 is 360s back); :09 is after both.
    // user 2: view at :05, click at :05 — same-instant inclusive match.
    val clicks = Seq((101L, 1L, ts(5)), (102L, 1L, ts(6)),
      (201L, 2L, ts(5)))
    val views = Seq((11L, 1L, ts(0)), (12L, 1L, ts(4)), (13L, 1L, ts(9)),
      (21L, 2L, ts(5)))
    try {
      // deliberately disordered, sides interleaved across micro-batches
      vMem.addData(views(2), views(0)); q.processAllAvailable()
      cMem.addData(clicks(1), clicks(2)); q.processAllAvailable()
      vMem.addData(views(3), views(1)); q.processAllAvailable()
      cMem.addData(clicks(0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_out")
      .select("click_id", "view_id").as[(Long, Long)]
      .collect().sorted.toSeq
    val batch = graft.ops.RangeJoin.intervalJoin(
        clicks.toDF("click_id", "user_id", "cts"),
        views.toDF("view_id", "user_id", "vts"),
        Seq("user_id"), "cts", "vts", lowerMs = -300000L, upperMs = 0L)
      .select("click_id", "view_id").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(got == batch, s"streamed $got != batch $batch")
    assert(got == Seq((101L, 11L), (101L, 12L), (102L, 12L),
      (201L, 21L)), s"got $got")
  }

  test("T15 streaming CUSUM: shuffled within-batch replay equals the " +
    "textbook recurrence per key, across micro-batch boundaries") {
    implicit val s = spark
    val mem = MemoryStream[(String, Long, Long)]
    val q = Alerts.cusumMonitor(
        mem.toDF().toDF("key", "ts", "value"), target = 10L, alarmAt = 25L)
      .writeStream.outputMode("append")
      .format("memory").queryName("cusum_out").start()
    val rnd = new scala.util.Random(11)
    val series = Map(
      "a" -> Seq(5L, 8L, 30L, 40L, 35L, 9L, 7L, 50L),
      "b" -> Seq(12L, 12L, 12L, 1L, 1L, 60L, 60L, 2L))
    // three micro-batches; each batch's rows shuffled, but per key the
    // batches carry time-contiguous slices (the documented contract)
    val rows = series.flatMap { case (k, vs) =>
      vs.zipWithIndex.map { case (v, i) => (k, i.toLong, v) } }.toSeq
    val batches = Seq(rows.filter(_._2 < 3), rows.filter(r =>
      r._2 >= 3 && r._2 < 6), rows.filter(_._2 >= 6))
    try {
      batches.foreach { b =>
        mem.addData(rnd.shuffle(b)); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("cusum_out")
      .select("key", "ts", "cusum", "alarm")
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    series.foreach { case (k, vs) =>
      var sExp = 0L
      vs.zipWithIndex.foreach { case (v, i) =>
        sExp = math.max(0L, sExp + (v - 10L))
        assert(got((k, i.toLong)) == ((sExp, sExp > 25L)),
          s"key $k t=$i: ${got((k, i.toLong))} != ($sExp, ${sExp > 25L})")
      }
    }
  }

  test("streaming word count keeps running per-word totals across batches") {
    implicit val s = spark
    val mem = MemoryStream[String]
    val q = Alerts.streamingWordCount(mem.toDF().toDF("line"))
      .writeStream.outputMode("update")
      .format("memory").queryName("wc_out").start()
    try {
      mem.addData("a b a")
      q.processAllAvailable()
      mem.addData("a c")
      q.processAllAvailable()
      val latest = spark.table("wc_out")
        .groupBy("word").agg(max("count").as("c"))
        .as[(String, Long)].collect().toMap
      assert(latest == Map("a" -> 3L, "b" -> 1L, "c" -> 1L), s"got $latest")
    } finally q.stop()
  }

  test("streaming content dedup: first arrival wins across micro-batches, " +
    "watermark bounds the state") {
    implicit val s = spark
    val mem = MemoryStream[(Timestamp, String)]
    val deduped = graft.streaming.StreamingDedup.dedupByContent(
      mem.toDF().toDF("ts", "text"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData((ts(0), "alpha"), (ts(1), "alpha"), (ts(1), "beta"))
      q.processAllAvailable()
      // same content in a later micro-batch, still within the horizon
      mem.addData((ts(2), "alpha"), (ts(3), "gamma"))
      q.processAllAvailable()
      val texts = spark.table("dedup_out").select("text")
        .as[String].collect().sorted
      assert(texts.toSeq == Seq("alpha", "beta", "gamma"),
        s"each content must survive exactly once: ${texts.toSeq}")
    } finally q.stop()
  }

  test("streaming minhash near-dup dedup: union of per-batch emissions " +
    "equals the batch pipeline's pair relation") {
    implicit val s = spark
    import graft.llm.Dedup
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text"))
    val rows = docs.as[(Long, String)].collect().toSeq
    val store = java.nio.file.Files.createTempDirectory("graft_mh_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mh_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Set[(Long, Long)]()
    val q = graft.streaming.StreamingDedup.minHashDedupStream(
        mem.toDF().toDF("doc_id", "text"), store, w = 3, tau = 0.5,
        bands = 32, rowsPerBand = 2) { (pairs, _) =>
      emitted ++= pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    }.option("checkpointLocation", ckpt).start()
    try {
      // three arrival waves — near-dup pairs must be found both within one
      // batch and across the store boundary
      rows.grouped((rows.size + 2) / 3).foreach { g =>
        mem.addData(g); q.processAllAvailable()
      }
    } finally q.stop()
    val batchPairs = graft.core.CacheScope.scoped {
      Dedup.minHashDedupPairs(docs, w = 3, tau = 0.5, bands = 32,
          rowsPerBand = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    assert(batchPairs.nonEmpty, "fixture should contain planted near-dups")
    assert(emitted.toSet == batchPairs,
      s"stream/batch divergence: missing ${batchPairs -- emitted}, " +
        s"extra ${emitted.toSet -- batchPairs}")
  }

  test("streaming URL dedup: union of per-batch survivors equals the " +
    "batch urlCanonicalDedup canonical rows, replays emit nothing new " +
    "(r17 VERDICT #4)") {
    implicit val s = spark
    // messy crawl URLs with deliberate non-canonical noise (the q244
    // synthesis shapes): case, :80, trailing slash, tracking params in
    // BOTH cases, fragments; ids are monotone in arrival order, so
    // first-seen == min-id == the batch group rule
    // host × path has period 15, so each canonical page recurs 4× across
    // the 60 ids — within batches AND across the store boundary
    val docs = (0L until 60L).map { i =>
      val host = s"site${i % 3}"
      val mess = (i % 4) match {
        case 0 => s"HTTP://WWW.$host.COM:80/p/${i % 5}?utm_a=1#f"
        case 1 => s"http://www.$host.com/p/${i % 5}/"
        case 2 => s"http://www.$host.com/p/${i % 5}?UTM_B=2&GCLID=g$i"
        case _ => s"Http://wWw.$host.com/p/${i % 5}"
      }
      (i, mess)
    }
    val store = java.nio.file.Files
      .createTempDirectory("graft_url_store").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_url_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Map[Long, String]()
    var emittedTwice = false
    val q = graft.streaming.StreamingDedup.urlDedupStream(
        mem.toDF().toDF("doc_id", "url"), store) { (fresh, _) =>
      fresh.as[(Long, String)].collect().foreach { case (id, cu) =>
        if (emitted.contains(id)) emittedTwice = true
        emitted(id) = cu
      }
    }.option("checkpointLocation", ckpt).start()
    try {
      docs.grouped(20).foreach { g => mem.addData(g); q.processAllAvailable() }
      // a replayed wave (same pages, later ids): every canonical URL is
      // already in the store, so the anti-join must emit nothing
      mem.addData(docs.take(20).map { case (i, u) => (i + 1000L, u) })
      q.processAllAvailable()
    } finally q.stop()
    assert(!emittedTwice, "a doc id must be emitted at most once")
    val batchTruth = graft.llm.Dedup.urlCanonicalDedup(
        docs.toDF("doc_id", "url").withColumn("text", lit("t")))
      .filter(col("is_canonical"))
      .select("doc_id", "canonical_url").as[(Long, String)]
      .collect().toMap
    assert(batchTruth.nonEmpty && emitted.toMap == batchTruth,
      s"stream/batch divergence: missing ${batchTruth.keySet -- emitted.keySet}, " +
        s"extra ${emitted.keySet -- batchTruth.keySet}")
  }

  test("streaming crawl-delta monitor: per-trigger retained/added " +
    "emissions sum to the batch snapshotDelta twin across a quiesced " +
    "mid-stream arrivals compaction, the roll-forward close equals the " +
    "full q204 relation bit-for-bit, and the store rolls to the new " +
    "snapshot") {
    implicit val s = spark
    import graft.llm.Dedup
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("text"))
    // the q204 snapshot pair: even doc_ids are the OLD crawl, odd the NEW
    val oldDocs = docs.filter(pmod(col("doc_id"), lit(2L)) === 0L)
    val newDocs = docs.filter(pmod(col("doc_id"), lit(2L)) === 1L)
    val store = Files.createTempDirectory("graft_cd_store").toString
    val ckpt = Files.createTempDirectory("graft_cd_ckpt").toString
    graft.streaming.StreamingCrawlDelta.writeSnapshotStore(oldDocs, store)
    val mem = MemoryStream[(String, String)]
    val emissions = scala.collection.mutable.ArrayBuffer[
      (String, Long, Long, Long)]()
    // one MemoryStream + one checkpoint across both query incarnations:
    // stop → compact arrivals → restart resumes from committed offsets
    def runWaves(waves: Seq[Seq[(String, String)]]): Unit = {
      val q = graft.streaming.StreamingCrawlDelta.crawlDeltaStream(
          mem.toDF().toDF("source", "text"), store) { (delta, _) =>
        emissions ++= delta.as[(String, Long, Long, Long)].collect()
      }.option("checkpointLocation", ckpt).start()
      try waves.foreach { g => mem.addData(g); q.processAllAvailable() }
      finally q.stop()
    }
    val rows = newDocs.select("source", "text")
      .as[(String, String)].collect().toSeq
    val waves = rows.grouped((rows.size + 2) / 3).toSeq
    runWaves(waves.take(1))
    // quiesced mid-stream compaction: emissions and the roll-forward
    // close below must come out bit-identical to the uncompacted run
    graft.streaming.StreamingCrawlDelta.compactArrivals(spark, store,
      buckets = 64)
    val cfs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!cfs.exists(new org.apache.hadoop.fs.Path(
      s"$store/arrivals/batch=0")), "folded raw arrival dirs must retire")
    assert(cfs.exists(new org.apache.hadoop.fs.Path(
      s"$store/arrivals_compact/_graft_compact")))
    runWaves(waves.drop(1))
    val twin = Dedup.snapshotDelta(oldDocs, newDocs)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSet
    assert(twin.exists(_._5 > 0L) && twin.exists(_._6 > 0L),
      "fixture should churn both ways (removals and additions)")
    // union of per-trigger emissions == the twin's live-visible columns
    val summed = emissions.groupBy(_._1).map { case (src, rs) =>
      (src, rs.map(_._2).sum, rs.map(_._3).sum, rs.map(_._4).sum)
    }.toSet
    val twinLive = twin.filter(_._3 > 0L) // groups the new crawl touches
      .map(t => (t._1, t._4, t._6, t._8))
    assert(summed == twinLive,
      s"stream/batch divergence: missing ${twinLive -- summed}, " +
        s"extra ${summed -- twinLive}")
    // the quiesce close is the full eight-column relation
    val closed = graft.streaming.StreamingCrawlDelta.rollForward(spark, store)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSet
    assert(closed == twin,
      s"roll-forward/batch divergence: missing ${twin -- closed}, " +
        s"extra ${closed -- twin}")
    // and the store rolled: the frozen snapshot is now the NEW crawl's
    // distinct set, arrivals retired
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/arrivals")),
      "arrival batches must retire at the roll")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/arrivals_compact")),
      "the compacted arrival layout must retire at the roll too")
    val frozen = spark.read.parquet(s"$store/snapshot").count()
    val expect = newDocs.select(col("source"), xxhash64(col("text")))
      .distinct().count()
    assert(frozen == expect,
      s"rolled snapshot must hold the new crawl's set: $frozen vs $expect")
  }

  test("streaming minhash near-dup: a quiesced mid-stream compaction " +
    "preserves the union of emissions, and the probe prunes the compacted " +
    "scan to the batch's bucket groups") {
    implicit val s = spark
    import graft.llm.Dedup
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text"))
    val rows = docs.as[(Long, String)].collect().toSeq
    val store = java.nio.file.Files.createTempDirectory("graft_mh_comp").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mh_cck").toString
    val emitted = scala.collection.mutable.Set[(Long, Long)]()
    // one MemoryStream + one checkpoint across both query incarnations:
    // stop → compact → restart resumes from the committed offsets
    val mem = MemoryStream[(Long, String)]
    def runWaves(waves: Seq[Seq[(Long, String)]]): Unit = {
      val q = graft.streaming.StreamingDedup.minHashDedupStream(
          mem.toDF().toDF("doc_id", "text"), store, w = 3, tau = 0.5,
          bands = 32, rowsPerBand = 2) { (pairs, _) =>
        emitted ++= pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      }.option("checkpointLocation", ckpt).start()
      try waves.foreach { g => mem.addData(g); q.processAllAvailable() }
      finally q.stop()
    }
    val waves = rows.grouped((rows.size + 3) / 4).toSeq
    runWaves(waves.take(2))
    graft.streaming.StreamingDedup.compactMinhashStore(spark, store,
      buckets = 256)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (side <- Seq("bands", "shingles")) {
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/$side/batch=0")),
        s"folded raw $side dirs should be retired")
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$store/${side}_compact/_graft_compact")))
    }
    runWaves(waves.drop(2))
    val batchPairs = graft.core.CacheScope.scoped {
      Dedup.minHashDedupPairs(docs, w = 3, tau = 0.5, bands = 32,
          rowsPerBand = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    assert(batchPairs.nonEmpty, "fixture should contain planted near-dups")
    assert(emitted.toSet == batchPairs,
      s"compaction changed the stream: missing ${batchPairs -- emitted}, " +
        s"extra ${emitted.toSet -- batchPairs}")
    // an idempotent re-run with nothing new folds nothing and breaks nothing
    graft.streaming.StreamingDedup.compactBandStore(spark, store,
      buckets = 256)
    // pruning: a one-doc probe batch touches ≤ 32 of the 256 bucket groups
    // — the probe's compacted scan must carry a partition filter on __bkt
    val oneBands = Dedup.bandedSignatures(
      Dedup.shingles(docs.limit(1), 3).filter(col("shingle").isNotNull),
      32, 2)
    val probe = graft.streaming.StreamingDedup.readBandStore(
      spark, store, before = waves.size.toLong, oneBands, oneBands.schema)
    assert(probe.count() > 0, "probe should hit at least one bucket group")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*__bkt[^\\]]*\\].*"),
      s"compacted probe scan must prune on __bkt:\n$plan")
    // same for the verify side: a two-candidate id set prunes the
    // compacted shingle scan to its id hash-groups
    val oneIds = docs.limit(2).select(col("doc_id"))
    val shSchema = Dedup.shingles(docs.limit(1), 3).schema
    val shProbe = graft.streaming.StreamingDedup.readShingleStore(
      spark, store, before = waves.size.toLong, oneIds, shSchema, "doc_id")
    assert(shProbe.count() > 0, "verify probe should hit stored shingles")
    val shPlan = shProbe.queryExecution.executedPlan.toString
    assert(shPlan.matches("(?s).*PartitionFilters: \\[[^\\]]*__bkt[^\\]]*\\].*"),
      s"compacted shingle scan must prune on __bkt:\n$shPlan")
  }

  test("band-store compaction: crash mid-swap (parked __old, no published " +
    "dir) is repaired on the next run; incremental re-compaction folds " +
    "only newer batches") {
    implicit val s = spark
    val store = java.nio.file.Files.createTempDirectory("graft_mh_crash").toString
    def bandRows(ids: Seq[Long]) =
      ids.flatMap(i => (0 until 4).map(b => (i, b, i * 100 + b)))
        .toDF("doc_id", "band", "bucket")
    bandRows(Seq(1L, 2L)).write.parquet(s"$store/bands/batch=0")
    bandRows(Seq(3L)).write.parquet(s"$store/bands/batch=1")
    graft.streaming.StreamingDedup.compactBandStore(spark, store, buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash window of the NEXT compaction: the current
    // layout was parked to __old but the replacement never published
    graft.sinks.Sinks.renameOrThrow(fs,
      new org.apache.hadoop.fs.Path(s"$store/bands_compact"),
      new org.apache.hadoop.fs.Path(s"$store/bands_compact__old"))
    // a new raw batch arrives, and the re-run must first repair the swap,
    // then fold ONLY batch=2 (upto=1 is recorded in the repaired metadata)
    bandRows(Seq(4L, 5L)).write.parquet(s"$store/bands/batch=2")
    graft.streaming.StreamingDedup.compactBandStore(spark, store, buckets = 4)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/bands_compact__old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/bands/batch=2")),
      "folded raw dir should be retired")
    val schema = bandRows(Seq(1L)).schema
    val got = graft.streaming.StreamingDedup.readBandStore(
        spark, store, before = 3L, bandRows(1L to 5L), schema)
      .as[(Long, Int, Long)].collect().toSet
    val want = bandRows(1L to 5L).as[(Long, Int, Long)].collect().toSet
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
  }

  test("streaming minhash near-dup: checkpoint reset against a surviving " +
    "store fails loud; a crashed write's _temporary-only batch dir reads " +
    "as missing") {
    implicit val s = spark
    val store = java.nio.file.Files.createTempDirectory("graft_mh_reset").toString
    // (1) a crashed write leaves only _temporary under batch=0 — the stream
    // must treat it as no prior store, not fail parquet schema inference
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(store, "bands", "batch=0", "_temporary"))
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft_mh_ck1").toString
    val mem1 = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Set[(Long, Long)]()
    val q1 = graft.streaming.StreamingDedup.minHashDedupStream(
        mem1.toDF().toDF("doc_id", "text"), store, w = 3, tau = 0.5,
        bands = 32, rowsPerBand = 2) { (pairs, _) =>
      emitted ++= pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    }.option("checkpointLocation", ckpt1).start()
    try {
      mem1.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dogs"))
      q1.processAllAvailable()
      // a second micro-batch so the store's max batch id (1) exceeds a
      // fresh checkpoint's restart id (0) — batch=0 alone is
      // indistinguishable from a legitimate at-least-once replay
      mem1.addData((10L, "a completely unrelated document about spark"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(emitted.contains((1L, 2L)),
      s"planted near-dup pair must be emitted despite the stale _temporary dir: $emitted")
    // (2) same store, FRESH checkpoint — batch ids restart at 0 while the
    // store already holds batch=0: must fail loud, not silently overwrite
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_mh_ck2").toString
    val mem2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.StreamingDedup.minHashDedupStream(
        mem2.toDF().toDF("doc_id", "text"), store, w = 3, tau = 0.5,
        bands = 32, rowsPerBand = 2) { (pairs, _) => pairs.count(); () }
      .option("checkpointLocation", ckpt2).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        mem2.addData((3L, "another document entirely"))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists { c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("checkpoint was reset")
    }, s"expected the checkpoint-reset IllegalStateException, got $ex")
  }

  test("SQL entry over the registered catalog joins across tables") {
    graft.core.Catalog.registerAll(spark, sfDir)
    val n = spark.sql(
      """SELECT r_name, COUNT(*) AS n FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin).count()
    assert(n > 0)
    assert(spark.sql("SELECT COUNT(*) FROM events").as[Long].head() > 0)
  }

  test("streaming heavy hitters: the mergeable MG summary runs as a " +
    "streaming aggregate with O(k) state and finds the dominant keys") {
    implicit val s = spark
    import graft.ops.Scale
    val mem = MemoryStream[String]
    // unbalanced token stream over three batches: "hot" dominates, the
    // MG summary must retain it through per-batch reduce + cross-batch
    // state merge (the mergeable-summary property, exercised by Spark's
    // streaming-agg state path, with k counters of state — not the
    // vocabulary)
    val agg = mem.toDS().groupByKey(_ => 0)
      .agg(Scale.topFreqColumn(4).name("top"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hh_out").start()
    try {
      mem.addData(Seq.fill(30)("hot") ++ Seq("a", "b", "c"): _*)
      q.processAllAvailable()
      mem.addData(Seq.fill(25)("hot") ++ Seq("d", "e", "f", "g"): _*)
      q.processAllAvailable()
      mem.addData(Seq.fill(20)("warm") ++ Seq.fill(10)("hot"): _*)
      q.processAllAvailable()
      val top = spark.table("hh_out").select("top")
        .as[Map[String, Long]].head()
      assert(top.size <= 4, s"MG summary must stay bounded at k: $top")
      assert(top.contains("hot") && top.contains("warm"),
        s"dominant keys must survive the summary: $top")
      // MG counts only undercount
      assert(top("hot") <= 65 && top("warm") <= 20, s"overcount: $top")
    } finally q.stop()
  }

  test("streaming embedding dedup: union of emissions equals the batch " +
    "IVF pipeline under the same (batch-0-trained, frozen) quantizers — " +
    "across a quiesced mid-stream cell-store compaction, whose probe " +
    "prunes to the batch's cells") {
    implicit val s = spark
    import graft.llm.Similarity
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val batches = Seq(
      emb.filter(_._1 % 3 == 0), emb.filter(_._1 % 3 == 1),
      emb.filter(_._1 % 3 == 2))
    val mem = MemoryStream[(Long, Array[Float])]
    val store = Files.createTempDirectory("graft_embstream").toString
    val ckpt = Files.createTempDirectory("graft_embstream_ck").toString
    val emitted = scala.collection.mutable.Set[(Long, Long)]()
    def runWaves(ws: Seq[Array[(Long, Array[Float])]]): Unit = {
      val q = graft.streaming.StreamingDedup.embeddingDedupStream(
          mem.toDF().toDF("vec_id", "embedding"), store, tau = 0.45) {
          (pairs, _) =>
            emitted ++= pairs.select("id_a", "id_b")
              .as[(Long, Long)].collect()
        }
        .option("checkpointLocation", ckpt).start()
      try ws.foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
      finally q.stop()
    }
    runWaves(batches.take(2))
    // quiesced compaction between incarnations: asg folds into the
    // exact-cell layout, vecs into id hash-groups; emissions unchanged
    graft.streaming.StreamingDedup.compactEmbeddingStore(spark, store)
    val csFs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (side <- Seq("asg", "vecs"))
      assert(!csFs.exists(new org.apache.hadoop.fs.Path(s"$store/$side/batch=0")),
        s"folded raw $side dirs should be retired")
    runWaves(batches.drop(2))
    // batch twin: candidates under centroids trained on the SAME batch-0
    // rows the stream trained on, exact-verified at the same tau
    val b0df = batches.head.toSeq.toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(b0df, k = 64, tables = 12)
    val allDf = emb.toSeq.toDF("vec_id", "embedding")
    val expected = graft.core.CacheScope.scoped {
      Similarity.ivfCandidatePairs(allDf, cents, probes = 1)
        .join(allDf.select(col("vec_id").as("id_a"),
          col("embedding").as("va")), "id_a")
        .join(allDf.select(col("vec_id").as("id_b"),
          col("embedding").as("vb")), "id_b")
        .filter(Similarity.cosine(col("va"), col("vb")) >= 0.45)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    assert(expected.nonEmpty, "fixture should produce near-dup pairs")
    assert(emitted.toSet == expected,
      s"stream missed ${expected -- emitted}, extra ${emitted.toSet -- expected}")
    // pruning: a small probe batch's cell-store read carries a partition
    // filter on __bkt (the exact probed cells)
    val oneAsg = Similarity.ivfAssignments(
        allDf.limit(1), cents, probes = 1)
      .toDF("vec_id", "tbl", "centroid")
    val probe = graft.streaming.StreamingDedup.readCellStore(
      spark, store, before = batches.size.toLong, oneAsg, oneAsg.schema)
    assert(probe.count() > 0, "probe should hit at least one stored cell")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*__bkt[^\\]]*\\].*"),
      s"compacted cell probe must prune on __bkt:\n$plan")
  }

  test("T10/U3/U4: side-output split and reconnect") {
    val df = Seq(("a", 20.0), ("b", 60.0)).toDF("id", "temperature")
    val (alerts, main) = Alerts.freezingAlertSplit(df)
    assert(alerts.select("id").as[String].collect().toSeq == Seq("a"))
    assert(main.select("id").as[String].collect().toSeq == Seq("b"))
    val merged = Alerts.splitConnect(df, 50.0)
      .as[(String, String, Double)].collect().sorted
    assert(merged.toSeq == Seq(("a", "low", 20.0), ("b", "high", 60.0)))
  }

  test("streaming quality gate: micro-batch buckets union to the batch " +
    "twin under the same frozen LM; bit-identical to the inline q91 path " +
    "when the reference is the scored corpus; OOV scores at max bits") {
    implicit val s = spark
    val corpus = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("text"))
    val frozen = graft.streaming.StreamingQuality.freeze(corpus)
    try {
      val streamDocs = corpus.filter(col("doc_id") < 90)
        .as[(Long, String, String)].collect()
      val mem = MemoryStream[(Long, String, String)]
      val emitted = scala.collection.mutable.Set[(Long, String, Double, String)]()
      val q = graft.streaming.StreamingQuality.surprisalGateStream(
          mem.toDF().toDF("doc_id", "lang", "text"), frozen) { (b, _) =>
        emitted ++= b.as[(Long, String, Double, String)].collect()
      }.option("checkpointLocation",
        Files.createTempDirectory("graft_sq_ckpt").toString).start()
      try {
        streamDocs.grouped(30).foreach { g =>
          mem.addData(g.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      // batch twin on the same rows, same frozen reference
      val twin = graft.streaming.StreamingQuality.bucketBatch(
          corpus.filter(col("doc_id") < 90), frozen)
        .as[(Long, String, Double, String)].collect().toSet
      assert(emitted.toSet == twin)
      // reference == scored corpus → bit-identical to the inline q91 path
      val inline = graft.llm.TextAnalysis.surprisalBuckets(corpus)
        .filter(col("doc_id") < 90)
        .as[(Long, String, Double, String)].collect().toSet
      assert(emitted.toSet == inline && emitted.nonEmpty)
      // an arrival made ONLY of tokens the reference never saw scores at
      // the maximum: every token at c = 1 → floor(log2 n_total) bits
      val nTotal = frozen.totals.head().getLong(0)
      val maxBits = 63 - java.lang.Long.numberOfLeadingZeros(nTotal)
      val oov = graft.streaming.StreamingQuality.bucketBatch(
          Seq((999999L, "en", "zzqx1 zzqx2 zzqx3")).toDF("doc_id", "lang", "text"),
          frozen)
        .as[(Long, String, Double, String)].collect()
      assert(oov.length == 1 && oov.head._3 == maxBits.toDouble &&
        oov.head._4 == "tail")
    } finally frozen.release()
  }

  test("LM store: freeze-from-store equals in-memory freeze bit-for-bit; " +
    "append folds new batch counts; cutoffs stay write-time") {
    implicit val s = spark
    val corpus = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("text"))
    val part1 = corpus.filter(col("doc_id") < 400)
    val part2 = corpus.filter(col("doc_id") >= 400)
    val store = Files.createTempDirectory("graft_lm_store").toString
    graft.streaming.StreamingQuality.writeLmStore(part1, store)
    val mem = graft.streaming.StreamingQuality.freeze(part1)
    val hyd = graft.streaming.StreamingQuality.freezeFromStore(spark, store)
    try {
      val probe = corpus.filter(col("doc_id") < 50)
      val a = graft.streaming.StreamingQuality.bucketBatch(probe, mem)
        .as[(Long, String, Double, String)].collect().toSet
      val b = graft.streaming.StreamingQuality.bucketBatch(probe, hyd)
        .as[(Long, String, Double, String)].collect().toSet
      assert(a == b && a.nonEmpty)
    } finally { mem.release(); hyd.release() }
    // append part2: folded counts equal a fresh lmStats over the union;
    // the cuts artifact is untouched (write-time terciles)
    graft.streaming.StreamingQuality.appendLmStore(part2, store)
    val hyd2 = graft.streaming.StreamingQuality.freezeFromStore(spark, store)
    try {
      val unionCounts = graft.llm.TextAnalysis.lmStats(corpus)._1
        .as[(String, Long)].collect().toMap
      val folded = hyd2.counts.as[(String, Long)].collect().toMap
      assert(folded == unionCounts)
      val memCuts = graft.streaming.StreamingQuality.freeze(part1)
      try assert(hyd2.cuts.collect().toSet == memCuts.cuts.collect().toSet)
      finally memCuts.release()
    } finally hyd2.release()
    // fail-loud on a path that was never written
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingQuality.appendLmStore(part2,
        Files.createTempDirectory("graft_lm_empty").toString)
    }
  }

  test("streaming drift monitor: each micro-batch's per-source divergence " +
    "equals the batch twin on the same rows; reference == scored frame is " +
    "bit-identical to the inline q99 path; an OOV source maxes kl_bits") {
    implicit val s = spark
    val corpus = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("text"))
    val frozen = graft.streaming.StreamingQuality.freeze(corpus,
      groupCol = "source")
    try {
      val streamDocs = corpus.filter(col("doc_id") < 90)
        .as[(Long, String, String)].collect()
      val mem = MemoryStream[(Long, String, String)]
      val emitted = scala.collection.mutable.Map[Long,
        Set[(String, Long, Long, Long, Double, Double, Double)]]()
      val q = graft.streaming.StreamingDrift.driftMonitorStream(
          mem.toDF().toDF("doc_id", "source", "text"), frozen) { (b, id) =>
        emitted(id) = b.as[(String, Long, Long, Long, Double, Double, Double)]
          .collect().toSet
      }.option("checkpointLocation",
        Files.createTempDirectory("graft_drift_ckpt").toString).start()
      val chunks = streamDocs.grouped(30).toSeq
      try {
        chunks.foreach { g => mem.addData(g.toSeq); q.processAllAvailable() }
      } finally q.stop()
      // drift is PER-TRIGGER by design: each batch id's emission equals
      // the batch twin on exactly that chunk's rows
      assert(emitted.size == chunks.size)
      chunks.zipWithIndex.foreach { case (g, i) =>
        val twin = graft.streaming.StreamingDrift.driftBatch(
            g.toSeq.toDF("doc_id", "source", "text"), frozen)
          .as[(String, Long, Long, Long, Double, Double, Double)]
          .collect().toSet
        assert(emitted(i.toLong) == twin, s"batch $i drifted from its twin")
      }
      // reference IS the scored frame → no OOV possible → bit-identical
      // to the inline q99 relation
      val inline = graft.llm.TextAnalysis.sourceDivergence(corpus)
        .as[(String, Long, Long, Long, Double, Double, Double)]
        .collect().toSet
      val monitor = graft.streaming.StreamingDrift.driftBatch(corpus, frozen)
        .as[(String, Long, Long, Long, Double, Double, Double)]
        .collect().toSet
      assert(monitor == inline && monitor.nonEmpty)
      // a source made ONLY of tokens the reference never saw: corpus side
      // scores every token at c = 1 → floor(log2 n_total) bits, its own
      // batch model at floor(log2 3) = 1 bit → kl = max − 1
      val nTotal = frozen.totals.head().getLong(0)
      val maxBits = (63 - java.lang.Long.numberOfLeadingZeros(nTotal)).toDouble
      val oov = graft.streaming.StreamingDrift.driftBatch(
          Seq((999999L, "rogue_feed", "zzqx1 zzqx2 zzqx3"))
            .toDF("doc_id", "source", "text"), frozen)
        .as[(String, Long, Long, Long, Double, Double, Double)].collect()
      assert(oov.length == 1 && oov.head._5 == maxBits &&
        oov.head._7 == maxBits - 1.0)
    } finally frozen.release()
  }

  test("streaming contamination gate: micro-batch flags union to the batch " +
    "twin; never misses an exact hit (one-sided error); store roundtrip " +
    "probes identically") {
    implicit val s = spark
    val corpus = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val split = graft.llm.TextAnalysis.dataSplit(corpus, idCol = "doc_id")
      .select(col("doc_id"), col("split"))
    val evalDocs = corpus.join(split.filter(col("split") =!= "train"),
      Seq("doc_id"))
    val trainDocs = corpus.join(split.filter(col("split") === "train"),
      Seq("doc_id")).select("doc_id", "text")
    val frozen = graft.streaming.StreamingContamination.freeze(evalDocs)
    val streamDocs = trainDocs.as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Set[(Long, Long, Long, Boolean)]()
    val q = graft.streaming.StreamingContamination.contaminationGateStream(
        mem.toDF().toDF("doc_id", "text"), frozen) { (b, _) =>
      emitted ++= b.as[(Long, Long, Long, Boolean)].collect()
    }.option("checkpointLocation",
      Files.createTempDirectory("graft_sc_ckpt").toString).start()
    try {
      streamDocs.grouped(150).foreach { g =>
        mem.addData(g.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    // stateless → the union of micro-batch flags equals the batch twin
    val twin = graft.streaming.StreamingContamination.screenBatch(
        trainDocs, frozen)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(emitted.toSet == twin && twin.nonEmpty)
    // one-sided error vs the exact q102 relation: the gate never misses a
    // true hit — per doc, bloom n_hit >= exact n_hit, and every exactly-
    // contaminated doc is flagged
    val exact = graft.llm.TextAnalysis.decontaminate(corpus)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    val got = twin.map(r => r._1 -> r).toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (id, (_, nGrams, nHit, kept)) =>
      val (_, gGrams, gHit, gKept) = got(id)
      assert(gGrams == nGrams, s"doc $id gram count drifted")
      assert(gHit >= nHit, s"doc $id: bloom missed hits ($gHit < $nHit)")
      if (!kept) assert(!gKept, s"doc $id: exact contamination missed")
    }
    // the fixture's cross-split near-dups must flag at least one arrival
    assert(twin.exists(!_._4))
    // store roundtrip: rehydrated filter probes bit-identically
    val store = Files.createTempDirectory("graft_bloom_store").toString
    graft.streaming.StreamingContamination.writeBloomStore(frozen, store,
      spark)
    val hyd = graft.streaming.StreamingContamination.freezeFromStore(
      spark, store)
    assert(java.util.Arrays.equals(hyd.bloom, frozen.bloom) &&
      hyd.w == frozen.w)
  }

  test("streaming probe scorer: micro-batch emissions union to the batch " +
    "scorer under the same frozen index stats; scores are bit-identical " +
    "to the inline corpus-derived path") {
    implicit val s = spark
    val corpus = graft.core.Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_sr")
      .toString + "/index"
    graft.llm.Retrieval.writeInvertedIndex(corpus, dir)
    // the stream carries a SUBSET of the indexed corpus in three batches
    val streamDocs = corpus.filter(col("doc_id") < 90)
      .select("doc_id", "text")
      .as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val scored = graft.streaming.StreamingRetrieval.probeScoreStream(
      mem.toDF().toDF("doc_id", "text"), dir,
      graft.llm.Retrieval.DefaultQueries)
    val q = scored.writeStream.outputMode("append")
      .format("memory").queryName("probe_out").start()
    try {
      streamDocs.grouped(30).foreach { g =>
        mem.addData(g.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("probe_out")
        .as[(Long, Long, Double)].collect().toSet
      // frozen-stats batch twin on the same subset
      val twin = graft.streaming.StreamingRetrieval.probeScoreStream(
          corpus.filter(col("doc_id") < 90), dir,
          graft.llm.Retrieval.DefaultQueries)
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == twin)
      // the store indexes exactly this corpus, so frozen stats == inline
      // stats and the scores agree bit-for-bit with q80's scorer
      val inline = graft.llm.Retrieval
        .bm25Scores(corpus, graft.llm.Retrieval.DefaultQueries)
        .filter(col("doc_id") < 90)
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == inline)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("gopher battery is a pure stateless projection: runs unchanged on " +
    "a stream, union of micro-batches == batch twin") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 90)
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val gated = graft.llm.TextAnalysis
      .gopherRules(mem.toDF().toDF("doc_id", "text"),
        minWords = 10, maxWords = 1000)
      .select("doc_id", "n_words", "n_stop_present", "keep")
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("gopher_out").start()
    try {
      rows.grouped(30).foreach { g =>
        mem.addData(g.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("gopher_out")
        .as[(Long, Long, Long, Boolean)].collect().toSet
      val twin = graft.llm.TextAnalysis
        .gopherRules(docs, minWords = 10, maxWords = 1000)
        .select("doc_id", "n_words", "n_stop_present", "keep")
        .as[(Long, Long, Long, Boolean)].collect().toSet
      assert(streamed == twin)
      assert(streamed.size == rows.length)
    } finally q.stop()
  }

  test("streaming health ledger: per-source sums over micro-batches equal " +
    "the batch twin (additive columns, frozen vocabulary), and an empty " +
    "vocab store fails loud") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 120)
    val work = java.nio.file.Files
      .createTempDirectory("graft_health").toString
    graft.streaming.StreamingHealth.writeVocabStore(docs, s"$work/vocab")
    val vocab = graft.streaming.StreamingHealth
      .readVocabStore(spark, s"$work/vocab")
    assert(vocab.length == vocab.distinct.length && vocab.nonEmpty)
    // partition the corpus into 3 "micro-batches"; sums must equal twin
    val parts = (0 until 3).map(i =>
      docs.filter(pmod(col("doc_id"), lit(3)) === i))
    val rows = parts.flatMap(b =>
      graft.streaming.StreamingHealth.healthBatch(b, vocab)
        .as[(String, Long, Long, Long, Long, Long)].collect())
    val summed = rows.groupBy(_._1).map { case (s, rs) =>
      (s, rs.map(_._2).sum, rs.map(_._3).sum, rs.map(_._4).sum,
        rs.map(_._5).sum, rs.map(_._6).sum)
    }.toSet
    val twin = graft.streaming.StreamingHealth.healthBatch(docs, vocab)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(summed == twin)
    // OOV against the frozen vocab agrees with the batch q114 operator
    // when the vocab is the same corpus's top-20
    val oovTwin = graft.llm.TextAnalysis.vocabCoverage(docs, topK = 20)
      .agg(sum("n_oov")).as[Long].head()
    assert(twin.toSeq.map(_._6).sum == oovTwin)
    intercept[IllegalArgumentException] {
      spark.emptyDataFrame
      graft.streaming.StreamingHealth.writeVocabStore(
        Seq((1L, "")).toDF("doc_id", "text"), s"$work/empty")
      graft.streaming.StreamingHealth.readVocabStore(spark, s"$work/empty")
    }
  }

  test("streaming journey monitor: cross-batch transition state emits " +
    "boundary-straddling pairs exactly once — union of emissions " +
    "aggregates to the batch q125 relation") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("event_id").cast("long"))
      .as[(Long, String, Long, Long)].collect()
    // three batches split by GLOBAL time terciles: per-user event-time
    // order across batches holds by construction (the replay contract)
    val sorted = ev.sortBy(_._3)
    val batches = Seq(
      sorted.slice(0, ev.length / 3),
      sorted.slice(ev.length / 3, 2 * ev.length / 3),
      sorted.slice(2 * ev.length / 3, ev.length))
    val mem = MemoryStream[(Long, String, Long, Long)]
    val stream = graft.streaming.StreamingJourney.transitions(
      mem.toDF().toDF("user_id", "event_type", "tsu", "event_id")
        .withColumn("ts", expr("timestamp_micros(tsu)")))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("journey_out").start()
    try {
      batches.foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.table("journey_out")
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect().toSet
      val twin = graft.queries.RankQueries
        .eventTransitions(spark, sfDir)
        .as[(String, String, Long)].collect().toSet
      assert(streamed == twin,
        "streamed transition counts must equal the batch matrix")
      // the claim that makes the state real: boundary-straddling pairs
      // exist (some user's consecutive events land in different batches)
      val straddlers = batches.sliding(2).count { case Seq(a, b) =>
        a.map(_._1).toSet.intersect(b.map(_._1).toSet).nonEmpty }
      assert(straddlers > 0, "fixture must exercise the cross-batch state")
    } finally q.stop()
  }

  test("streaming funnel: greedy per-user advance in ts order equals the " +
    "batch min-ts chain across micro-batch boundaries") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("event_id").cast("long"))
      .as[(Long, String, Long, Long)].collect()
    val sorted = ev.sortBy(_._3)
    val batches = Seq(
      sorted.slice(0, ev.length / 3),
      sorted.slice(ev.length / 3, 2 * ev.length / 3),
      sorted.slice(2 * ev.length / 3, ev.length))
    val mem = MemoryStream[(Long, String, Long, Long)]
    val stream = graft.streaming.StreamingJourney.funnel(
      mem.toDF().toDF("user_id", "event_type", "tsu", "event_id")
        .withColumn("ts", expr("timestamp_micros(tsu)")))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try {
      batches.foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      // each advance is emitted once (a user reaches a stage once, ever)
      val adv = spark.table("funnel_out")
        .as[(Long, Long)].collect()
      assert(adv.distinct.length == adv.length)
      val streamedCounts = adv.groupBy(_._2).map { case (k, v) =>
        k -> v.length.toLong }
      val twin = graft.queries.RankQueries.funnel(spark, sfDir)
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> r._3).toMap
      assert((1L to 4L).map(k => streamedCounts.getOrElse(k, 0L)) ==
        (1L to 4L).map(twin), "streamed stage populations == batch funnel")
    } finally q.stop()
  }

  /** Shared fixture for the order-robust monitor tests: the events table
    * split into three batches with SEEDED DISORDER — events within R/8 of
    * a time-tercile boundary hop to the adjacent batch, so some users'
    * events arrive out of event-time order across batches (the exact
    * condition that breaks the plain monitors' replay contract), while
    * every event stays within the R/2 watermark delay of its arrival
    * batch (nothing is genuinely late). Returns (batches, delayString,
    * sentinel timestamps) plus asserts the disorder is real. */
  private def disorderedEventBatches()
  : (Seq[Seq[(Long, String, Long, Long)]], String, Long) = {
    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("event_id").cast("long"))
      .as[(Long, String, Long, Long)].collect()
    val sorted = ev.sortBy(_._3)
    val minTs = sorted.head._3
    val maxTs = sorted.last._3
    val range = maxTs - minTs
    val (cut1, cut2, hop) =
      (minTs + range / 3, minTs + 2 * range / 3, range / 8)
    val rnd = new scala.util.Random(5)
    val batches = Array.fill(3)(
      scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]())
    sorted.foreach { e =>
      val home = if (e._3 < cut1) 0 else if (e._3 < cut2) 1 else 2
      val b = home match {
        case 0 if e._3 > cut1 - hop && rnd.nextBoolean() => 1
        case 1 if e._3 < cut1 + hop && rnd.nextBoolean() => 0
        case 1 if e._3 > cut2 - hop && rnd.nextBoolean() => 2
        case 2 if e._3 < cut2 + hop && rnd.nextBoolean() => 1
        case h => h
      }
      batches(b) += e
    }
    // the disorder is real: some user has a later-batch event that is
    // EARLIER in event time than one of their earlier-batch events —
    // exactly what the unbuffered monitors mis-fold
    val inversions = (for {
      i <- 0 until 2; j <- (i + 1) until 3
      (u, tsI) <- batches(i).map(e => (e._1, e._3))
      if batches(j).exists(e => e._1 == u && e._3 < tsI)
    } yield 1).size
    assert(inversions > 0, "fixture must contain cross-batch disorder")
    val delaySec = range / 2 / 1000000L + 1
    (batches.map(b => rnd.shuffle(b.toSeq)).toSeq,
      s"$delaySec seconds", maxTs + (delaySec + 10) * 1000000L)
  }

  test("order-robust journey monitor: watermark-buffered state converges " +
    "to the batch q125 matrix under cross-batch disorder, and drops a " +
    "genuinely late event instead of mis-folding it") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (batches, delay, tFar) = disorderedEventBatches()
    val mem = MemoryStream[(Long, String, Long, Long)]
    val stream = graft.streaming.StreamingJourney.transitionsBuffered(
      mem.toDF().toDF("user_id", "event_type", "tsu", "event_id")
        .withColumn("ts", expr("timestamp_micros(tsu)")), delay)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("journey_buf_out").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      // two far-future sentinel users advance the watermark past every
      // buffered event and trigger the event-time timers that drain it
      mem.addData(Seq((-1L, "zz", tFar, -1L))); q.processAllAvailable()
      mem.addData(Seq((-2L, "zz", tFar + 1000000L, -2L)))
      q.processAllAvailable()
      val twin = graft.queries.RankQueries.eventTransitions(spark, sfDir)
        .as[(String, String, Long)].collect().toSet
      def streamed(): Set[(String, String, Long)] = spark
        .table("journey_buf_out")
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect().toSet
      assert(streamed() == twin,
        "buffered monitor must converge to the batch matrix under disorder")
      // a genuinely late event — older than the drained users' flush
      // frontier — is dropped, not folded out of order
      val u = batches.head.head._1
      mem.addData(Seq((u, "view", batches.head.head._3 - 1L, -3L)))
      q.processAllAvailable()
      mem.addData(Seq((-4L, "zz", tFar + 2000000L, -4L)))
      q.processAllAvailable()
      assert(streamed() == twin, "late event must be dropped at the frontier")
    } finally q.stop()
  }

  test("order-robust funnel: watermark-buffered greedy advance equals the " +
    "batch min-ts chain under cross-batch disorder") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (batches, delay, tFar) = disorderedEventBatches()
    val mem = MemoryStream[(Long, String, Long, Long)]
    val stream = graft.streaming.StreamingJourney.funnelBuffered(
      mem.toDF().toDF("user_id", "event_type", "tsu", "event_id")
        .withColumn("ts", expr("timestamp_micros(tsu)")), delay)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("funnel_buf_out").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      mem.addData(Seq((-1L, "zz", tFar, -1L))); q.processAllAvailable()
      mem.addData(Seq((-2L, "zz", tFar + 1000000L, -2L)))
      q.processAllAvailable()
      val adv = spark.table("funnel_buf_out").as[(Long, Long)].collect()
      assert(adv.distinct.length == adv.length,
        "each (user, stage) advance must be emitted exactly once")
      val streamedCounts = adv.groupBy(_._2)
        .map { case (k, v) => k -> v.length.toLong }
      val twin = graft.queries.RankQueries.funnel(spark, sfDir)
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> r._3).toMap
      assert((1L to 4L).map(k => streamedCounts.getOrElse(k, 0L)) ==
        (1L to 4L).map(twin),
        "streamed stage populations == batch funnel under disorder")
    } finally q.stop()
  }

  test("streaming sessionizer: closed sessions under cross-batch " +
    "disorder equal the batch q137 relation minus each user's open tail") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (batches, delay, tFar) = disorderedEventBatches()
    val mem = MemoryStream[(Long, String, Long, Long)]
    val stream = graft.streaming.StreamingJourney.sessions(
      mem.toDF().toDF("user_id", "event_type", "tsu", "event_id")
        .withColumn("ts", expr("timestamp_micros(tsu)")), delay)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      mem.addData(Seq((-1L, "zz", tFar, -1L))); q.processAllAvailable()
      mem.addData(Seq((-2L, "zz", tFar + 1000000L, -2L)))
      q.processAllAvailable()
      val closed = spark.table("sessions_out")
        .as[(Long, Long, Long, Long)].collect().toSet
      // batch twin: every session except each user's LAST (still open on
      // the stream — it could grow; the sentinels' own 1-event sessions
      // are open tails too, so they emit nothing)
      val expected = graft.queries.RankQueries.sessionDetail(spark, sfDir)
        .as[(Long, Long, Long, Long, Long)].collect()
        .groupBy(_._1).toSeq.flatMap { case (_, ss) =>
          val open = ss.map(_._2).max
          ss.filter(_._2 != open).toSeq
        }.map(r => (r._1, r._3, r._4, r._5)).toSet
      assert(expected.nonEmpty, "fixture must close sessions")
      assert(closed == expected,
        s"missing ${(expected -- closed).take(3)}, " +
          s"extra ${(closed -- expected).take(3)}")
    } finally q.stop()
  }

  test("blocklist-density filter is a pure stateless projection: runs " +
    "unchanged on a stream, union of micro-batches == batch twin") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 90)
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val gated = graft.llm.TextAnalysis
      .blocklistFilter(mem.toDF().toDF("doc_id", "text"))
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("blocklist_out").start()
    try {
      rows.grouped(30).foreach { g =>
        mem.addData(g.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("blocklist_out")
        .as[(Long, Long, Long, Long, Boolean)].collect().toSet
      val twin = graft.llm.TextAnalysis.blocklistFilter(docs)
        .as[(Long, Long, Long, Long, Boolean)].collect().toSet
      assert(streamed == twin)
      assert(streamed.size == rows.length)
    } finally q.stop()
  }
}
