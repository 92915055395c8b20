package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs one workload in this process and writes its raw record (op
  * timings, check results, and in traced runs the spans and listener
  * events) as JSON for `perfbench/run.py`, which does the arithmetic.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE, plus for star_queries --data DIR and either
  *   --fingerprints FILE or --record 1 (fingerprint all 64 queries and
  *   stop). Sizes are constants of each workload; the session runs on
  *   local[N] with N the processors this process may use.
  *
  * `--workload classes` only starts the session and runs the calibration
  * job: run.py runs it once per build to record a class-data-sharing
  * archive of the classes a session loads, which later runs map instead
  * of loading and verifying each class again.
  */
object Main {

  final case class OpRecord(
      idx: Int, kind: String, start: Double, end: Double,
      traced: Boolean, error: Option[String], pinsBefore: Int, pinsAfter: Int,
      extras: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val work = Paths.get(args("work")).toAbsolutePath
    val out = Paths.get(args("out"))
    val record = args.get("record").contains("1")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoint").toString)
    if (workload == "classes") {
      try calibrate(spark, cpus) finally spark.stop()
      return
    }
    val spans = new Spans
    val sessionReady = spans.nowMs
    val log = new EventLog
    val loadStart = loadAvg()

    val tag = s"${ProcessHandle.current().pid()}_${System.nanoTime() % 1000000L}"
    val w: Workload = workload match {
      case "refresh_ticks" => new RefreshTicks(spark, spans, seed, work, tag)
      case "star_queries" => new StarQueries(spark, spans, seed, args("data"),
        args.get("fingerprints").map(readFingerprints).getOrElse(Map.empty), record)
      case "graph_fixpoints" => new GraphFixpoints(spark, spans, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val ops = ArrayBuffer.empty[OpRecord]
    var setupFailures = Seq.empty[String]
    var firstTimed = Double.NaN
    try {
      setupFailures = w.setup()
      if (record) {
        w match {
          case s: StarQueries => Files.writeString(out, json.writeValueAsString(
            Map("fingerprints" -> s.recorded.map { case (n, (rows, h)) =>
              n -> Map("rows" -> rows, "hash" -> h) })))
          case _ => throw new IllegalArgumentException("--record is for star_queries")
        }
        return
      }
      // Closed loop: whole rounds until the measured op time reaches
      // `seconds`, and at least the workload's minimum rounds. A traced
      // run mixes untraced and traced rounds in blocks of four (U T T U)
      // until each kind has run for `seconds`, so both ops/s figures come
      // from one run and each kind gets the same round positions. The
      // listener is attached only for traced rounds and drained before
      // it is removed.
      firstTimed = spans.nowMs
      val sc = spark.sparkContext
      var untracedS = 0.0
      var tracedS = 0.0
      var r = 0
      while (r < w.minRounds || untracedS < seconds ||
        (trace && (tracedS < seconds || r % 4 != 0))) {
        val traced = trace && (r % 2 == 1) != ((r / 2) % 2 == 1)
        if (traced) {
          log.startRound()
          sc.addSparkListener(log)
        }
        spans.recording = traced
        w.round(r).foreach { op =>
          val idx = ops.size
          spans.currentOp = idx
          val pinsBefore = if (traced) sc.getPersistentRDDs.size else 0
          val t0 = spans.nowMs
          var extras = Map.empty[String, Double]
          var error = try { spans("op") { extras = op.run() }; None }
          catch { case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
          val t1 = spans.nowMs
          val pinsAfter = if (traced) sc.getPersistentRDDs.size else 0
          if (error.isEmpty) error = try op.check()
            catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
          ops += OpRecord(idx, op.kind, t0, t1, traced, error, pinsBefore, pinsAfter, extras)
          if (traced) tracedS += (t1 - t0) / 1000 else untracedS += (t1 - t0) / 1000
        }
        spans.recording = false
        if (traced) {
          org.apache.spark.PerfbenchBridge.drainListeners(sc)
          sc.removeSparkListener(log)
        }
        r += 1
      }
      val calib = calibrate(spark, cpus)
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      val setupSplit = Map(
        "session_s" -> (sessionReady - jvmStart) / 1000,
        "workload_setup_s" -> (firstTimed - sessionReady) / 1000)
      writeResult(out, workload, seed, cpus, firstTimed, loadStart, loadAvg(), calib,
        w.info ++ setupSplit, w.minRounds * w.opsPerRound, setupFailures, ops.toSeq,
        spans.all, log)
    } finally {
      try w.close() finally spark.stop()
    }
  }

  /** Fixed generated work (CPU plus one shuffle), min of two runs: a
    * machine-speed reference stamped on every result.
    */
  def calibrate(spark: SparkSession, cpus: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      Workloads.consume(spark.range(0L, 1000000L, 1L, cpus * 2)
        .select((col("id") % 8191).as("k"), xxhash64(col("id")).as("h"))
        .groupBy("k").agg(sum(col("h").cast("decimal(38,0)")).as("sh")))
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Throwable => -1.0 }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeResult(
      out: Path, workload: String, seed: Long, cpus: Int, firstTimed: Double,
      loadStart: Double, loadEnd: Double, calib: Double, info: Map[String, Any],
      minOps: Int, setupFailures: Seq[String], ops: Seq[OpRecord], spans: Seq[Span],
      log: EventLog): Unit = {
    val rt = Runtime.getRuntime
    val doc = Map(
      "workload" -> workload,
      "seed" -> seed,
      "first_timed_ms" -> firstTimed,
      "peak_rss_mb" -> peakRssMb(),
      "stamp" -> Map(
        "cpus" -> cpus,
        "master" -> s"local[$cpus]",
        "jvm_max_heap_mb" -> rt.maxMemory() / (1024 * 1024),
        "load_avg_1m_start" -> loadStart,
        "load_avg_1m_end" -> loadEnd,
        "calibration_s" -> calib),
      "info" -> info,
      "min_timed_ops" -> minOps,
      "setup_failures" -> setupFailures,
      "ops" -> ops.map(o => Map(
        "idx" -> o.idx, "kind" -> o.kind,
        "start_ms" -> o.start, "end_ms" -> o.end, "traced" -> o.traced,
        "error" -> o.error, "pins_before" -> o.pinsBefore,
        "pins_after" -> o.pinsAfter, "extras" -> o.extras)),
      "spans" -> spans.map(s => Seq(s.id, s.name, s.parent, s.op, s.start, s.end)),
      "jobs" -> log.jobs.map { case (id, s, e) => Seq(id, s, e) },
      "stages" -> log.stages.map { case (id, s, e, n) => Seq(id, s, e, n) },
      "tasks" -> log.tasks.map(_.toSeq),
      "blocks" -> log.blocks.map { case (t, b) => Seq(t, b) })
    Files.writeString(out, json.writeValueAsString(doc))
  }

  /** Reads perfbench/star_fingerprints.json: query name to row count and
    * hash; a null hash means a row-count check only.
    */
  def readFingerprints(path: String): Map[String, (Long, Option[String])] =
    json.readValue(new java.io.File(path), classOf[Map[String, Map[String, Any]]])
      .map { case (n, fp) => n -> (fp("rows").toString.toLong, Option(fp("hash")).map(_.toString)) }
}
