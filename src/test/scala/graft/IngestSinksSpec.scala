package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Sentinels
import graft.sinks.Sinks
import graft.sources.Ingest

/** Source parse specs (S-ops, P2) and sink contracts (K-ops). */
class IngestSinksSpec extends SparkSpecBase {
  import spark.implicits._

  test("P2: sentinel-tolerant action-log parse drops and fills per spec") {
    val lines = Seq(
      """{"sceneId":"635","userId":"u1","itemId":"i1","action":"show","contextExist":"1","actionTime":"1700000000000.0"}""",
      """{"userId":"u2","contextExist":"1"}""", // missing fields → sentinels
      """{"sceneId":"x","itemId":"i","action":"show","contextExist":"1"}""", // no userId → drop
      """{"sceneId":"x","userId":"u3","contextExist":"0"}""", // contextExist≠1 → drop
      """not json at all""" // parse failure → drop
    ).toDF("line")
    val got = Ingest.parseActionLog(lines).collect()
    assert(got.length == 2)
    val byUser = got.map(r => r.getAs[String]("userId") -> r).toMap
    assert(byUser("u1").getAs[Long]("actionTime") == 1700000000000L)
    assert(byUser("u2").getAs[String]("sceneId") == Sentinels.Invalid)
    assert(byUser("u2").getAs[String]("action") == Sentinels.Invalid)
  }

  test("S9/K2: custom-delimiter CSV roundtrip with fixed parallelism") {
    val dir = Files.createTempDirectory("graft_csv").toString + "/out"
    val df = Seq(("s1", "u1"), ("s2", "u2")).toDF("yesSceneId", "yesUserId")
    Sinks.writeCsv(df, dir, sep = "/", parallelism = 3)
    val schema = StructType(Seq(StructField("yesSceneId", StringType),
      StructField("yesUserId", StringType)))
    val back = Ingest.csv(spark, dir, schema, sep = "/")
    assert(back.as[(String, String)].collect().toSet ==
      Set(("s1", "u1"), ("s2", "u2")))
  }

  test("S2: recursive directory scan reads nested files") {
    val root = Files.createTempDirectory("graft_rec")
    Files.writeString(root.resolve("a.txt"), "top\n")
    val sub = Files.createDirectory(root.resolve("sub"))
    Files.writeString(sub.resolve("b.txt"), "nested\n")
    val got = Ingest.textLinesRecursive(spark, root.toString)
      .as[String].collect().toSet
    assert(got == Set("top", "nested"))
  }

  test("S4: existence probe filters missing paths") {
    val root = Files.createTempDirectory("graft_probe")
    Files.writeString(root.resolve("h1.txt"), "x")
    val got = Ingest.existingPaths(spark,
      Seq(s"$root/h1.txt", s"$root/h2.txt"))
    assert(got == Seq(s"$root/h1.txt"))
  }

  test("K7: metric store upsert overwrites by key and keeps others") {
    val dir = Files.createTempDirectory("graft_ms").toString + "/store"
    Sinks.upsertMetricStore(spark, dir,
      Seq(("k1", 0L, 5L), ("k2", 0L, 7L)).toDF("key", "w", "pv"), Seq("key", "w"))
    Sinks.upsertMetricStore(spark, dir,
      Seq(("k1", 0L, 9L)).toDF("key", "w", "pv"), Seq("key", "w"))
    val got = spark.read.parquet(dir).as[(String, Long, Long)].collect().toSet
    assert(got == Set(("k1", 0L, 9L), ("k2", 0L, 7L)))
  }

  test("K7: metric store swap is crash-recoverable — a parked __old copy " +
    "is restored when the rename-into-place never happened") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_msr").toString + "/store"
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.upsertMetricStore(spark, dir,
      Seq(("k1", 5L)).toDF("key", "pv"), Seq("key"))
    // simulate a crash between "park dst as __old" and "rename tmp→dst":
    // the store dir is gone, only the parked history remains
    fs.rename(new Path(dir), new Path(dir + "__old"))
    assert(!fs.exists(new Path(dir)))
    // the next upsert must first restore the parked copy, then merge onto
    // the FULL history — k1 survives even though this batch only has k2
    Sinks.upsertMetricStore(spark, dir,
      Seq(("k2", 7L)).toDF("key", "pv"), Seq("key"))
    val got = spark.read.parquet(dir).as[(String, Long)].collect().toSet
    assert(got == Set(("k1", 5L), ("k2", 7L)))
    assert(!fs.exists(new Path(dir + "__old")))

    // partitioned form: same protocol per day= dir, __old parked OUTSIDE
    // the store root so it can never read back as a partition value
    val pdir = Files.createTempDirectory("graft_msrp").toString + "/store"
    Sinks.upsertMetricStorePartitioned(spark, pdir,
      Seq(("k1", 1L, 5L)).toDF("key", "day", "pv"), Seq("key", "day"))
    fs.mkdirs(new Path(pdir + "__old"))
    fs.rename(new Path(pdir, "day=1"), new Path(pdir + "__old/day=1"))
    Sinks.upsertMetricStorePartitioned(spark, pdir,
      Seq(("k2", 1L, 7L)).toDF("key", "day", "pv"), Seq("key", "day"))
    val pgot = spark.read.parquet(pdir).select("key", "day", "pv")
      .as[(String, Long, Long)].collect().toSet
    assert(pgot == Set(("k1", 1L, 5L), ("k2", 1L, 7L)))
    assert(!fs.exists(new Path(pdir + "__old")))
  }

  test("K7: partitioned upsert keeps the caller's cache, releases its own, " +
    "returns the touched days and writes one file per day") {
    import org.apache.spark.storage.StorageLevel
    val dir = Files.createTempDirectory("graft_msc").toString + "/store"
    val callers = (1 to 40).map(i => (s"k$i", 1L + i % 2, i.toLong))
      .toDF("key", "day", "pv").repartition(4).persist()
    try {
      val days = Sinks.upsertMetricStorePartitioned(spark, dir, callers,
        Seq("key", "day"))
      assert(days.sorted == Seq(1L, 2L))
      assert(callers.storageLevel != StorageLevel.NONE,
        "the sink released a cache the caller made")
    } finally callers.unpersist()
    val own = Seq(("k1", 2L, 9L)).toDF("key", "day", "pv")
    assert(Sinks.upsertMetricStorePartitioned(spark, dir, own,
      Seq("key", "day")) == Seq(2L))
    assert(own.storageLevel == StorageLevel.NONE,
      "the sink left its own cache behind")
    assert(Sinks.upsertMetricStorePartitioned(spark, dir,
      own.filter(lit(false)), Seq("key", "day")).isEmpty)
    val got = spark.read.parquet(dir).select("key", "day", "pv")
      .as[(String, Long, Long)].collect()
    assert(got.length == 40 && got.contains(("k1", 2L, 9L)))
    Seq(1, 2).foreach { d =>
      val parts = new java.io.File(s"$dir/day=$d").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"day=$d holds ${parts.length} files")
    }
  }

  test("K4: list publishing honors the Redis contract through InMemoryKv") {
    val kv = new Sinks.InMemoryKv
    val df = Seq(("item1", Seq("a:0.9", "b:0.8"))).toDF("key", "values")
    Sinks.publishLists(df, kv)
    assert(kv.lists.get("item1") == Seq("a:0.9", "b:0.8"))
  }

  test("K6: upsert foreach delivers rows to the callback") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    IngestSinksSpec.seenQueue = seen
    val df = Seq(("k1", 1), ("k2", 2)).toDF("key", "v")
    Sinks.upsertForeach(df)(() => (k, rest) => {
      IngestSinksSpec.seenQueue.add(s"$k=${rest.head}")
      ()
    })
    assert(seen.toArray.map(_.toString).toSet == Set("k1=1", "k2=2"))
  }

  test("A8/W5: countStat parse honors min-length and cap") {
    val good = "item1_" + (1 to 25).map(i => s"n$i:0.5").mkString(",")
    val short = "item2_a:1.0,b:0.9"
    val lines = Seq(good, short).toDF("line")
    val got = Ingest.parseCountStat(lines, minLen = 20, cap = 22)
      .as[(String, Seq[String])].collect()
    assert(got.length == 1)
    assert(got.head._1 == "item1")
    assert(got.head._2.length == 22 && got.head._2.head == "n1:0.5")
  }

  test("T13 sketch rollup: HLL coarse UV matches exact within tolerance") {
    import graft.streaming.StreamingDashboard
    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("ts"), col("user_id"), col("event_type").as("key"))
    val fine = StreamingDashboard.fiveMinAggSketch(ev, "key", "ts", "user_id")
    val coarse = StreamingDashboard.rollupSketch(fine)
      .filter(col("granularity") === "1h")
      .select(col("key"), col("window_start_ms"), col("uv"))
    val exact = ev
      .select(col("key"),
        (expr("unix_millis(ts) div 3600000") * 3600000L).as("window_start_ms"),
        col("user_id"))
      .groupBy("key", "window_start_ms")
      .agg(countDistinct("user_id").as("uv_exact"))
    val joined = coarse.join(exact, Seq("key", "window_start_ms"))
      .select(col("uv").cast("double"), col("uv_exact").cast("double"))
      .as[(Double, Double)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (est, ex) =>
      assert(math.abs(est - ex) / math.max(ex, 1.0) < 0.05,
        s"sketch uv $est vs exact $ex") }
  }

  test("K5: hash publishing delivers HSET-shaped writes") {
    val kv = new Sinks.InMemoryKv
    val df = Seq(("sensor_1", 60.5), ("sensor_2", 61.0)).toDF("id", "value")
    Sinks.publishHashes(df, kv, "sensor")
    assert(kv.hashes.get("sensor/sensor_1") == "60.5")
    assert(kv.hashes.get("sensor/sensor_2") == "61.0")
  }

  test("S6: socket source streams lines from a live TCP server") {
    val server = new java.net.ServerSocket(0)
    val feeder = new Thread(() => {
      val s = server.accept()
      val w = new java.io.PrintWriter(s.getOutputStream, true)
      w.println("hello"); w.println("socket world")
      // keep the connection open; closing would end the stream early
      Thread.sleep(30000)
    })
    feeder.setDaemon(true); feeder.start()
    val q = Ingest.socketStream(spark, "127.0.0.1", server.getLocalPort)
      .writeStream.format("memory").queryName("sock_out")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      def rows() = spark.table("sock_out").as[String].collect().toSet
      while (rows().size < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(rows() == Set("hello", "socket world"))
    } finally { q.stop(); server.close() }
  }

  test("S8/K6: real JDBC roundtrip + upsert through embedded Derby") {
    val db = Files.createTempDirectory("graft_derby").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    // S8 sink+source: write a table through Spark JDBC, read it back.
    // Uppercase names: Spark quotes identifiers on write and Derby resolves
    // unquoted query references to uppercase, so they must agree.
    Seq((1L, "a"), (2L, "b")).toDF("ID", "NAME")
      .write.format("jdbc").option("url", url).option("dbtable", "t1").save()
    val back = Ingest.jdbc(spark, url, "SELECT ID, NAME FROM t1")
      .as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (2L, "b")))
    // K6 upsert: try-update-else-insert through the generic callback
    // against a real connection (the reference's MyJdbcSink shape)
    val updates = Seq(("1", "A"), ("3", "c")).toDF("ID", "NAME")
    Sinks.upsertForeach(updates) { () =>
      val conn = java.sql.DriverManager.getConnection(url)
      (key: String, rest: Seq[Any]) => {
        val upd = conn.prepareStatement("UPDATE t1 SET NAME = ? WHERE ID = ?")
        upd.setString(1, rest.head.toString); upd.setLong(2, key.toLong)
        if (upd.executeUpdate() == 0) {
          val ins = conn.prepareStatement("INSERT INTO t1 VALUES (?, ?)")
          ins.setLong(1, key.toLong); ins.setString(2, rest.head.toString)
          ins.executeUpdate()
        }
      }
    }
    val after = Ingest.jdbc(spark, url, "SELECT ID, NAME FROM t1")
      .as[(Long, String)].collect().toSet
    assert(after == Set((1L, "A"), (2L, "b"), (3L, "c")))
  }

  test("S3: compressed text is auto-decoded by the codec infrastructure") {
    val root = Files.createTempDirectory("graft_gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(root.resolve("part.txt.gz")))
    gz.write("line one\nline two\n".getBytes("UTF-8"))
    gz.close()
    val got = Ingest.textLines(spark, root.toString).as[String].collect().toSet
    assert(got == Set("line one", "line two"))
  }

  test("S3: hadoop-snappy framed text decodes through the same autodetect " +
    "path (the reference's raw-snappy edge, framed variant)") {
    val root = Files.createTempDirectory("graft_sn")
    val codec = new org.apache.hadoop.io.compress.SnappyCodec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val out = codec.createOutputStream(
      java.nio.file.Files.newOutputStream(root.resolve("part.txt.snappy")))
    out.write("alpha beta\ngamma\n".getBytes("UTF-8"))
    out.close()
    val got = Ingest.textLines(spark, root.toString).as[String].collect().toSet
    assert(got == Set("alpha beta", "gamma"))
  }

  test("S3: raw (unframed) snappy reads whole-file-per-split, ordered " +
    "lines, multiple files — the reference's unsplittable custom format") {
    val root = Files.createTempDirectory("graft_rawsn")
    // raw snappy block bytes — NOT the framed/codec container: the
    // autodetect text path cannot read this, which is why the dedicated
    // reader exists (as in the reference)
    Files.write(root.resolve("a.snappy"),
      org.xerial.snappy.Snappy.compress("r1\nr2\nr3".getBytes("UTF-8")))
    Files.write(root.resolve("b.snappy"),
      org.xerial.snappy.Snappy.compress("s1\ns2".getBytes("UTF-8")))
    val got = Ingest.textLinesRawSnappy(spark, root.toString)
      .as[String].collect().toSet
    assert(got == Set("r1", "r2", "r3", "s1", "s2"))
    // one row per file in the scan = unsplittable contract
    val files = Ingest.textLinesRawSnappy(spark, root.toString)
      .rdd.getNumPartitions
    assert(files >= 1)
  }

  test("W2: topKPerGroup keeps k rows per key in order") {
    import graft.ops.Ranking
    val df = Seq(("a", 3.0), ("a", 1.0), ("a", 2.0), ("b", 9.0))
      .toDF("k", "v")
    val got = Ranking.topKPerGroup(df, Seq(col("k")),
        Seq(col("v").desc), k = 2)
      .as[(String, Double)].collect().toSet
    assert(got == Set(("a", 3.0), ("a", 2.0), ("b", 9.0)))
  }

  test("S1/S7 shapes: text lines + deterministic sensor stream schema") {
    val root = Files.createTempDirectory("graft_txt")
    Files.writeString(root.resolve("w.txt"), "hello world\n")
    assert(Ingest.textLines(spark, root.toString).as[String].collect()
      .sameElements(Array("hello world")))
    val sensor = Ingest.sensorStream(spark)
    assert(sensor.schema.fieldNames.toSeq ==
      Seq("id", "timestamp", "temperature"))
    assert(sensor.isStreaming)
  }
}

object IngestSinksSpec {
  // static hop for the foreachPartition closure (test JVM == executor JVM)
  @volatile var seenQueue: java.util.concurrent.ConcurrentLinkedQueue[String] = _
}
