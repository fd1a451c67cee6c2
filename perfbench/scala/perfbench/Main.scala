package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark operation's outcome. A failed or wrong op keeps no
  * latency: `s` is NaN once `fail` is called, and nothing resets it. */
final class OpRec(val kind: String, val phase: String) {
  var s: Double = Double.NaN
  var err: String = null
  var traceOp: Int = -1
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def ok: Boolean = err == null
  def fail(msg: String): Unit = {
    if (err == null) err = msg
    s = Double.NaN
  }
  def record: Map[String, Any] =
    Map("kind" -> kind, "phase" -> phase, "ok" -> ok, "s" -> s, "err" -> Option(err),
      "trace_op" -> traceOp, "extra" -> extra)
}

/** What every workload shares: the session, its run directory, the seed,
  * the tracer and the op log. */
final class Harness(val spark: SparkSession, val dir: String, val seed: Long,
    val tracer: Tracer) {
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  var phase: String = "setup"

  /** Run `body` as one operation: its wall time is the op's latency, an
    * exception fails the op. In the traced phase it is the op's root span. */
  def op[T](kind: String)(body: => T): (OpRec, Option[T]) = {
    val rec = new OpRec(kind, phase)
    ops += rec
    val out = tracer.op(kind) {
      rec.traceOp = tracer.currentOp
      val t0 = System.nanoTime()
      try {
        val r = body
        rec.s = (System.nanoTime() - t0) / 1e9
        Some(r)
      } catch {
        case NonFatal(e) =>
          rec.fail(s"${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }
    (rec, out)
  }

  def check(rec: OpRec, cond: Boolean, msg: => String): Unit = if (!cond) rec.fail(msg)
}

/** A closed-loop workload with one client. */
trait Workload {
  /** Write the program's input files from the seed (the benchmark's own
    * work: timed apart from set-up, as `datagen_s`). */
  def generate(): Unit
  /** Build what the program needs from the generated files and warm up.
    * Runs `SetupReps` times, from scratch each time; the run reports the
    * median as `setup_s`, and only the last repetition's state is used. */
  def setup(rep: Int): Unit
  /** Untimed ground truth, computed once after set-up. */
  def prepare(): Unit = ()
  /** One step of the closed loop (one or more ops). */
  def step(i: Int): Unit
  /** Traced-only stage breakdown, run once after the traced phase. */
  def breakdown(): Unit = ()
  /** Workload-specific values for the result file. */
  def extras: Map[String, Any] = Map.empty
}

/** Entry point: `Main <workload> <seed> <seconds> <trace 0|1> <run dir>`.
  * Writes `<run dir>/result.json`; perfbench/run.py turns it into metrics. */
object Main {
  private val SetupReps = 3
  private val WarmupSeconds = 10.0

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    require(args.length == 5, "usage: Main <workload> <seed> <seconds> <trace> <runDir>")
    val Array(workload, seedArg, secondsArg, traceArg, dir) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val canaryStart = Canary.ms()
    val t0 = System.nanoTime()
    val spark = session(dir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "session_s" -> sessionS)
    try {
      val tracer = new Tracer(spark.sparkContext)
      val h = new Harness(spark, dir, seed, tracer)
      val w: Workload = workload match {
        case "probe_join"   => new ProbeJoin(h)
        case "ingest"       => new Ingest(h)
        case "dedup_corpus" => new DedupCorpus(h)
        case other          => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val g0 = System.nanoTime()
      w.generate()
      result("datagen_s") = (System.nanoTime() - g0) / 1e9
      // a traced run also traces set-up: the bulk index build happens there
      if (trace) tracer.enable()
      val setupS = (0 until SetupReps).map { r =>
        val t0 = System.nanoTime()
        w.setup(r)
        (System.nanoTime() - t0) / 1e9
      }
      tracer.disable()
      w.prepare()
      def loop(phase: String, seconds: Double): Unit = {
        h.phase = phase
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        var i = 0
        while (System.nanoTime() < deadline) { w.step(i); i += 1 }
      }
      // the loop's own code paths keep compiling for many ops after set-up;
      // these untimed steps let the measured ones start warm
      loop("warmup", WarmupSeconds)
      loop("measure", seconds)
      // read before anything clears it: what the measured ops left cached
      result("cached_mb") =
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
      if (trace) {
        tracer.enable()
        loop("traced", seconds)
        h.phase = "breakdown"
        w.breakdown()
      }
      val (spans, jobs) = tracer.records
      result("setup_s") = setupS
      result("ops") = h.ops.map(_.record)
      result("spans") = spans
      result("jobs") = jobs
      result ++= w.extras
    } finally spark.stop()
    result("canary_ms") = Seq(canaryStart, Canary.ms())
    Files.write(new File(dir, "result.json").toPath,
      Json.encode(result).getBytes(StandardCharsets.UTF_8))
  }

  /** A local session confined to the run directory. */
  private def session(dir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.graft.storagePath", s"$dir/store")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.catalog.GraftJoinRule
    spark
  }
}

/** Ambient-load canary: a fixed single-thread integer loop, median of five
  * timings in ms. Recorded at the start and end of every run beside the
  * metrics, so a loaded machine shows in the result itself. */
object Canary {
  def ms(): Double = {
    val t = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 0L) println("unreachable")
      (System.nanoTime() - t0) / 1e6
    }.sorted
    t(2)
  }
}
