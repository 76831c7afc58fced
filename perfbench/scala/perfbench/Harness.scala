package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.core.{CacheScope, HostProbe, Sessions}
import graft.sources.Ingest
import graft.streaming.StreamingDashboard

/** One benchmark run inside one JVM: set up (session + warm-up pass,
  * timed from JVM start), measure one workload for a fixed wall time, dump
  * the outputs the checker compares, and write every raw timing to
  * `<work>/result.json`. All metric arithmetic happens in `run.py`.
  *
  * Usage: `perfbench.Harness <config.json>` (written by `run.py`).
  */
object Harness {
  private def num(v: JValue): Double = v match {
    case JInt(i) => i.toDouble
    case JDouble(d) => d
    case JLong(l) => l.toDouble
    case JDecimal(d) => d.toDouble
    case other => sys.error(s"not a number: $other")
  }
  private def str(v: JValue): String = v.asInstanceOf[JString].s

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val conf = parse(new String(Files.readAllBytes(Paths.get(args(0))), UTF_8))
    val workload = str(conf \ "workload")
    val work = str(conf \ "work")
    val seconds = num(conf \ "seconds")
    val trace = (conf \ "trace") == JBool(true)
    val cores = num(conf \ "cores").toInt

    val wl: Workload = workload match {
      case "stream_dashboard" => new StreamDashboard(conf)
      case "registry_mix" => new RegistryMix(conf)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: JVM start → session → one warm-up pass
    val spark = Sessions.builder(s"perfbench-$workload", cores)
      .master(s"local[$cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.currentTimeMillis()
    wl.warmUp(spark)
    val t2 = System.currentTimeMillis()
    val setup = JObject("session_s" -> JDouble((t1 - jvmStartMs) / 1e3),
      "warmup_s" -> JDouble((t2 - t1) / 1e3),
      "total_s" -> JDouble((t2 - jvmStartMs) / 1e3))

    // the host stamp is taken outside set-up and the measured region
    val probeStart = (HostProbe.loadavg(), HostProbe.spinProbe(),
      HostProbe.ioProbe(16L << 20, work))
    val tracer = wl.tracer(spark.sparkContext, trace, s"$workload-$jvmStartMs")
    val measured = wl.measure(spark, tracer, seconds)
    tracer.detach()
    val checks = wl.dumpForChecks(spark)

    val probeEnd = (HostProbe.loadavg(), HostProbe.spinProbe(),
      HostProbe.ioProbe(16L << 20, work))
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

    val spans = tracer.spans.map { s =>
      val c = tracer.counters.getOrElse(s.id.toLong, new Counters)
      JObject("run" -> JString(s.run), "id" -> JInt(s.id),
        "name" -> JString(s.name), "parent" -> JInt(s.parent),
        "start_s" -> JDouble(s.start / 1e9), "end_s" -> JDouble(s.end / 1e9),
        "self_s" -> JDouble(tracer.selfSeconds(s)),
        "counters" -> countersJson(c))
    }
    val out = JObject(
      "workload" -> JString(workload),
      "cores" -> JInt(cores),
      "setup" -> setup,
      "measured" -> measured,
      "checks" -> checks,
      "peak_rss_mb" -> JDouble(rssMb),
      "spans" -> JArray(spans.toList),
      "counters" -> JArray(tracer.counters.toList.sortBy(_._1).map {
        case (k, c) => JObject("key" -> JLong(k), "counters" -> countersJson(c))
      }),
      "host" -> JObject(
        "start" -> probeJson(probeStart), "end" -> probeJson(probeEnd)))
    Files.write(Paths.get(s"$work/result.json"),
      compact(render(out)).getBytes(UTF_8))
    spark.stop()
  }

  def countersJson(c: Counters): JValue = JObject(
    "jobs" -> JInt(c.jobs), "tasks" -> JInt(c.tasks),
    "executor_cpu_s" -> JDouble(c.cpuNs / 1e9),
    "shuffle_write_bytes" -> JInt(c.shuffleWriteBytes),
    "shuffle_write_records" -> JInt(c.shuffleWriteRecords),
    "spill_bytes" -> JInt(c.spillBytes))

  private def probeJson(p: (Seq[Double], Double, Double)): JValue = JObject(
    "loadavg" -> JArray(p._1.map(JDouble(_)).toList),
    "spin_probe_s" -> JDouble(p._2), "io_probe_s" -> JDouble(p._3))

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File])
        .foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Wall seconds of `body`. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

trait Workload {
  def warmUp(spark: SparkSession): Unit
  /** The tracer of a traced run; by default it attributes Spark work to
    * the innermost open span. */
  def tracer(sc: SparkContext, trace: Boolean, run: String): Tracer =
    new Tracer(sc, trace, run)
  def measure(spark: SparkSession, tracer: Tracer, seconds: Double): JValue
  def dumpForChecks(spark: SparkSession): JValue
}

/** A closed loop over a fixed list of registry queries, in the order the
  * seed fixed: each query is constructed (`fn(spark, dir)`, with its eager
  * jobs) and collected; passes repeat while one more fits in the measuring
  * time. A traced run makes at least two passes and traces every other
  * query, the other half in the next pass: each query runs traced and
  * untraced in the same JVM, half of them traced first, so the tracing
  * overhead is not mixed up with warming up. */
final class RegistryMix(conf: JValue) extends Workload {
  import Harness._
  private val input = (conf \ "input").asInstanceOf[JString].s
  private val work = (conf \ "work").asInstanceOf[JString].s
  private val trace = (conf \ "trace") == JBool(true)
  private val order = (conf \ "queries").asInstanceOf[JArray].arr
    .map(_.asInstanceOf[JString].s)
  private val registry = graft.SparkEntry.queries

  // the rows of each query's latest run, written out for the checker
  private val results = mutable.Map.empty[String,
    (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]

  /** One pass over the measured tables: a smaller input leaves the JIT
    * with other profiles, and the first measured pass ~25% slow. */
  def warmUp(spark: SparkSession): Unit =
    order.foreach(q => CacheScope.scoped(registry(q)(spark, input).collect()))

  def measure(spark: SparkSession, tr: Tracer, seconds: Double): JValue = {
    val passes = mutable.ArrayBuffer.empty[JValue]
    val t0 = System.nanoTime()
    var k = 0
    var cachedPeak = 0L
    var last = 0.0
    while (k < 1 || (trace && k < 2) ||
      (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      val tp = System.nanoTime()
      val qs = order.zipWithIndex.map { case (q, i) =>
        val traced = trace && (k + i) % 2 == 1
        if (traced) tr.attach() else tr.detach()
        CacheScope.scoped(tr.span(s"queries.$q") {
          val (df, c) = timed(tr.span(s"queries.$q.construct")(
            registry(q)(spark, input)))
          val (rows, a) = timed(tr.span(s"queries.$q.action")(df.collect()))
          results(q) = (df.schema, rows)
          if (traced) cachedPeak = math.max(cachedPeak,
            spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
          JObject("query" -> JString(q), "traced" -> JBool(traced),
            "construct_s" -> JDouble(c), "action_s" -> JDouble(a),
            "rows" -> JInt(rows.length))
        })
      }
      passes += JObject("pass" -> JInt(k), "queries" -> JArray(qs))
      last = (System.nanoTime() - tp) / 1e9
      k += 1
    }
    tr.detach()
    JObject("passes" -> JArray(passes.toList),
      "cached_bytes_peak" -> JInt(cachedPeak))
  }

  def dumpForChecks(spark: SparkSession): JValue = {
    val oracles = graft.SparkEntry.oracleSql
    order.foreach { q =>
      val (schema, rows) = results(q)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/check/$q")
    }
    // the layout tools/check.py reads: one parquet dir per query plus
    // the oracle SQL by query name
    Files.write(Paths.get(s"$work/check/oracle_sql.json"), compact(render(
      JObject(order.map(q => q -> JString(oracles(q)))))).getBytes(UTF_8))
    JObject("dir" -> JString(s"$work/check"))
  }
}

/** The reference's `ActionLogJobSecond`: action-log JSON files land in a
  * watched directory on a fixed schedule (one generator thread, atomic
  * renames), and the file stream is parsed and fed to the sketch-mode
  * multi-resolution dashboard with a short processing-time trigger. */
final class StreamDashboard(conf: JValue) extends Workload {
  import Harness._
  private val planPath = Paths.get((conf \ "plan").asInstanceOf[JString].s)
  private val plan = parse(new String(Files.readAllBytes(planPath), UTF_8))
  private val work = (conf \ "work").asInstanceOf[JString].s
  private def s(v: JValue) = v.asInstanceOf[JString].s
  private def l(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(x) => x
    case other => sys.error(s"not an integer: $other")
  }
  private def dir(key: String) = planPath.getParent.resolve(s(plan \ key))
    .toString
  private val staged = dir("staged_dir")
  private val watch = dir("watch_dir")
  private val warmDir = dir("warm_dir")
  private val triggerMs = l(plan \ "trigger_ms")
  private val scenes = (plan \ "scenes").asInstanceOf[JArray].arr.map(s)

  final case class Landing(name: String, dueMs: Long, late: Boolean,
                           burst: Boolean, rows: Long, lateWindowEndMs: Long)
  private val files = (plan \ "files").asInstanceOf[JArray].arr.map { f =>
    Landing(s(f \ "name"), l(f \ "due_ms"), (f \ "late") == JBool(true),
      (f \ "burst") == JBool(true), l(f \ "lines"),
      l(f \ "late_window_end_ms"))
  }

  /** `Ingest.fileStream` → `Ingest.parseActionLog` → the dashboard's input
    * columns: one key per (scene, action), event time from `actionTime`. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    Ingest.parseActionLog(Ingest.fileStream(spark, dir))
      .filter(col("sceneId").isin(scenes: _*))
      .select(concat_ws(":", col("sceneId"), col("action")).as("key"),
        timestamp_millis(col("actionTime")).as("ts"),
        col("userId").as("user_id"))

  def warmUp(spark: SparkSession): Unit = {
    val base = s"$work/warm"
    StreamingDashboard.runSketch(events(spark, warmDir), s"$base/store",
      s"$base/ckpt", trigger = Trigger.AvailableNow())
      .start().awaitTermination()
    deleteRecursively(new File(base))
  }

  /** A traced run counts the Spark work of even-numbered micro-batches
    * only, through the batch-id property the stream sets on its jobs. The
    * odd ones run beside them in the same phase of the stream, so the
    * trigger times of the two sets give the tracing overhead. */
  override def tracer(sc: SparkContext, trace: Boolean, run: String): Tracer =
    new Tracer(sc, trace, run, p =>
      Option(p.getProperty("streaming.sql.batchId")).map(_.toLong)
        .filter(_ % 2 == 0))

  def measure(spark: SparkSession, tr: Tracer, seconds: Double): JValue = {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var watermarkMs = 0L
    @volatile var rowsIn = 0L
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(p.json)
        rowsIn += p.numInputRows
        Option(p.eventTime.get("watermark")).foreach { w =>
          watermarkMs = java.time.Instant.parse(w).toEpochMilli
        }
      }
    }
    spark.streams.addListener(listener)
    tr.attach()
    val store = s"$work/store"
    val ckpt = s"$work/ckpt"
    val query = StreamingDashboard.runSketch(events(spark, watch), store, ckpt,
      trigger = Trigger.ProcessingTime(triggerMs)).start()

    // the generator: lands each staged file at its due time by atomic
    // rename. A late file also waits until the reported watermark has
    // passed its newest window, so its rows are dropped for certain; it
    // waits aside, without holding up the files due after it.
    val landed = mutable.ArrayBuffer.empty[JValue]
    val t0 = System.currentTimeMillis()
    def land(f: Landing): Unit = {
      Files.move(Paths.get(staged, f.name), Paths.get(watch, f.name),
        StandardCopyOption.ATOMIC_MOVE)
      landed += JObject("name" -> JString(f.name),
        "due_ms" -> JLong(t0 + f.dueMs),
        "landed_ms" -> JLong(System.currentTimeMillis()),
        "late" -> JBool(f.late), "burst" -> JBool(f.burst),
        "lines" -> JLong(f.rows))
    }
    val gen = new Thread(() => {
      val waiting = mutable.Queue.empty[Landing]
      def landPassedLate(): Unit =
        while (waiting.nonEmpty && watermarkMs >= waiting.head.lateWindowEndMs)
          land(waiting.dequeue())
      files.sortBy(_.dueMs).foreach { f =>
        val due = t0 + f.dueMs
        while (System.currentTimeMillis() < due) {
          landPassedLate()
          Thread.sleep(math.max(1L, math.min(5L, due - System.currentTimeMillis())))
        }
        if (f.late) waiting.enqueue(f) else land(f)
        landPassedLate()
      }
      val deadline = System.currentTimeMillis() + 60000L
      while (waiting.nonEmpty && System.currentTimeMillis() < deadline) {
        landPassedLate(); Thread.sleep(5)
      }
      waiting.foreach(land) // never passed: the checker will count them
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    // wait until every landed line went through a committed batch
    val totalLines = files.map(_.rows).sum
    val deadline = System.currentTimeMillis() + 120000L
    while (rowsIn < totalLines && System.currentTimeMillis() < deadline &&
      query.exception.isEmpty) Thread.sleep(20)
    query.stop()
    spark.streams.removeListener(listener)
    tr.detach()
    query.exception.foreach(e => throw e)

    val storeFiles = Seq("fine", "coarse").map(d => new File(store, d))
      .map(countFiles).sum
    import scala.jdk.CollectionConverters._
    JObject("t0_ms" -> JLong(t0),
      "progress" -> JArray(progress.asScala.toList.map(p => parse(p))),
      "landed" -> JArray(landed.toList),
      "lines_total" -> JLong(totalLines), "lines_seen" -> JLong(rowsIn),
      "store_files" -> JLong(storeFiles),
      "checkpoint" -> JString(ckpt), "store" -> JString(store))
  }

  private def countFiles(f: File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).map(countFiles).sum
    else if (f.exists()) 1L else 0L

  def dumpForChecks(spark: SparkSession): JValue = JObject()
}
