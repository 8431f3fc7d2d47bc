package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs, the span
  * recorder and the sample recorder. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val data: String,
    val work: String, val params: JsonNode, val fixtures: String,
    val corrupt: Boolean, val cores: Int) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def count(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v
  def check(name: String, ok: Boolean): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) System.err.println(s"perfbench: check FAILED: $name")
  }
  def int(k: String): Int = params.get(k).asInt()
  def dbl(k: String): Double = params.get(k).asDouble()

  /** A fresh directory under the run's work dir. */
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Util.deleteTree(p)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** One benchmark workload: repeated set-up, then closed-loop cycles. */
trait Workload {
  /** Build the state the loop runs against, from scratch. Called several
    * times; the loop uses the state of the last call. */
  def setup(rep: Int): Unit
  /** Once, after the set-ups: run the workload's code paths untimed so
    * that JIT and caches are warm when the loop starts. */
  def warmup(): Unit
  /** One closed-loop cycle of the workload's traffic. */
  def cycle(i: Int): Unit
  /** Output checks, after the loop. */
  def verify(): Unit
  /** Traced runs only: extra per-layer probes after the loop. */
  def probe(): Unit = ()
}

object Util {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(f => Files.delete(f))
    finally s.close()
  }

  /** Bytes and data files under a directory (hidden and marker files excluded). */
  def footprint(dir: String): (Long, Int) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0)
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter { f => val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
        .toSeq
      (files.map(Files.size).sum, files.length)
    } finally s.close()
  }

  /** Order-independent digest of rendered rows. */
  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** One value as the checks compare it: doubles to 9 significant digits,
    * since a cross-partition double sum may differ in its last bits from
    * one execution to the next. */
  def renderValue(v: Any): String = v match {
    case null => "␀"
    case d: Double => new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros().toPlainString
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case v => v.toString
  }

  def render(row: org.apache.spark.sql.Row): String = row.toSeq.map(renderValue).mkString("|")
}

object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val cores = opt.getOrElse("cores", "4").toInt
    val params = new ObjectMapper().readTree(opt("params"))
    val work = opt("work")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", params.path("shuffle_partitions").asInt(cores))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    // contention bracket: the engine's own serial and n-way probes, run
    // once to warm them, then timed before set-up and after the loop
    graft.Bench.calibrate(spark)
    graft.Bench.calibratePar(spark, cores)
    val calStart = (graft.Bench.calibrate(spark), graft.Bench.calibratePar(spark, cores))

    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, opt("data"), work, params,
      opt.getOrElse("fixtures", ""), opt.getOrElse("corrupt", "0") == "1", cores)
    val wl: Workload = workload match {
      case "ufc_dashboard" => new UfcDashboard(ctx)
      case "corpus_pipeline" => new CorpusPipeline(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = (0 until ctx.int("setup_reps")).map { rep =>
      if (traced) tracer.attach()
      val s = System.nanoTime()
      tracer.span("setup")(wl.setup(rep))
      tracer.detach()
      (System.nanoTime() - s) / 1e9
    }
    val setupSamples = ctx.samples.clone()
    if (traced) tracer.attach()
    val w0 = System.nanoTime()
    tracer.span("warmup")(wl.warmup())
    tracer.detach()
    val warmupS = (System.nanoTime() - w0) / 1e9
    ctx.samples.clear()
    ctx.counters.clear()
    ctx.attempted = 0

    // the loop starts from a collected heap, so that what set-up and
    // warm-up left behind is gone before the loop's live-memory marks; the
    // pause lets Spark's cleaner release the state that collection freed
    System.gc()
    Thread.sleep(1000)

    // closed loop, one client. A traced run traces cycles in the order
    // untraced, traced, traced, untraced (at least those four), so the same
    // run also gives the untraced wall the tracing overhead is measured
    // against, with warm-up drift cancelled.
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    val minCycles = if (traced) 4 else 1
    var i = 0
    var gcMs, jitMs = 0L
    var failure: Option[Throwable] = None
    while (failure.isEmpty && (i < minCycles || System.nanoTime() < deadline)) {
      val tracedCycle = traced && Set(1, 2).contains(i % 4)
      if (tracedCycle) tracer.attach()
      val (gc0, jit0) = (JvmCounters.gcMs, JvmCounters.jitMs)
      tracer.op = i
      val s = System.nanoTime()
      try tracer.span("cycle")(wl.cycle(i))
      catch { case e: Throwable =>
        ctx.failed += 1
        ctx.attempted += 1
        failure = Some(e)
        e.printStackTrace()
      }
      val ms = (System.nanoTime() - s) / 1e6
      ctx.sample(if (tracedCycle) "traced_cycle_ms" else "untraced_cycle_ms", ms)
      if (tracedCycle) {
        tracer.detach()
        gcMs += JvmCounters.gcMs - gc0
        jitMs += JvmCounters.jitMs - jit0
      }
      i += 1
    }
    JvmCounters.markLive() // what the loop left live, before the checks run
    val loopS = (System.nanoTime() - loopStart - JvmCounters.markNs) / 1e9
    tracer.op = -1
    if (failure.isEmpty) {
      if (traced) { tracer.attach(); wl.probe(); tracer.detach() }
      wl.verify()
    }
    val calEnd = (graft.Bench.calibrate(spark), graft.Bench.calibratePar(spark, cores))

    val l = tracer.listener
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "cores" -> cores,
      "session_s" -> sessionS,
      "setup_rep_s" -> setupS,
      "warmup_s" -> warmupS,
      "loop_s" -> loopS,
      "cycles" -> i,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "correct" -> (failure.isEmpty && ctx.checks.nonEmpty && ctx.checks.values.forall(identity)),
      "checks" -> ctx.checks,
      "samples" -> ctx.samples,
      "setup_samples" -> setupSamples,
      "counters" -> ctx.counters,
      "notes" -> ctx.notes,
      "peak_live_mb" -> JvmCounters.peakLiveMb,
      "live_mark_s" -> JvmCounters.markNs / 1e9,
      "calibration" -> Map(
        "serial_start_s" -> calStart._1, "par_start_s" -> calStart._2,
        "serial_end_s" -> calEnd._1, "par_end_s" -> calEnd._2,
        "serial_envelope_s" -> graft.Bench.CalEnvelopeSec,
        "par_envelope_s" -> graft.Bench.CalParEnvelopeSec))
    if (traced) out("trace") = Map(
      "clock_offset_ns" -> tracer.clockOffsetNs,
      "gc_ms" -> gcMs, "jit_ms" -> jitMs,
      "spans" -> tracer.spans.map { s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs,
        "jobs" -> (s.jobs1 - s.jobs0), "stages" -> (s.stages1 - s.stages0),
        "tasks" -> (s.tasks1 - s.tasks0), "heap_mb" -> s.heapMb,
        "live_rdds" -> s.liveRdds, "cached_bytes" -> s.cachedBytes) },
      "jobs" -> l.jobs.map(j => Map("start_ms" -> j.start, "end_ms" -> j.end)),
      "stages" -> l.stages.map(s => Map("tasks" -> s.tasks, "submitted_ms" -> s.submitted,
        "completed_ms" -> s.completed, "run_ms" -> s.runMs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite)),
      "actions" -> l.actions.map(a => Map("name" -> a.name, "analysis_ms" -> a.analysisMs,
        "optimization_ms" -> a.optimizationMs, "planning_ms" -> a.planningMs,
        "planned_ms" -> a.plannedMs)))
    val w = new PrintWriter(new File(opt("out")), "UTF-8")
    try w.write(new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    finally w.close()
    spark.stop()
  }
}
