package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the inputs, the
  * tracer and work counter, and everything recorded for the result
  * file. Workloads append to `ops` (one sample per timed operation) and,
  * on traced operations, to `layers`. */
final class Ctx(val spark: SparkSession, val data: String, val out: String,
    val plan: JsonNode, val traceRun: Boolean) {
  val tracer = new Tracer
  val counter = new WorkCounter
  val cores: Int = spark.sparkContext.defaultParallelism

  /** (key, milliseconds, traced) per timed operation. */
  val ops = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  /** Seconds of each repetition of the workload's set-up. */
  val setupReps = mutable.ArrayBuffer.empty[Double]
  var workDone = 0.0 // units of work completed in `workSeconds`
  var workSeconds = 0.0
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Per-layer samples: name -> (aggregation, samples). */
  val layers = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def layer(name: String, agg: String, v: Double): Unit = synchronized {
    layers.getOrElseUpdate(name, (agg, mutable.ArrayBuffer.empty))._2 += v
  }

  def fail(what: String): Unit = synchronized(failures += what)

  /** Count one attempted operation. */
  def attempt(): Unit = synchronized(attempted += 1)

  /** Count one checked operation; `ok = false` records a failure. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) fail(what)
  }

  /** Time one operation; on a traced one also record the span tree and
    * the scheduler work it caused, attributed through the operation's
    * local property and collected after draining the listener bus.
    * Returns the body's value, the wall ms and, when traced, the work
    * (else null). */
  def timed[T](key: String, opId: String, traced: Boolean)(body: => T)
      : (T, Double, WorkCounter.Acc) = {
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(WorkCounter.OpKey, opId)
    val (cg0, cgMs0) = (Codegen.compiles, Codegen.compileMs)
    val t0 = System.nanoTime()
    val r = try tracer.op(opId, traced)(tracer.span("op")(body))
      finally if (traced) sc.setLocalProperty(WorkCounter.OpKey, null)
    val ms = (System.nanoTime() - t0) / 1e6
    synchronized(ops += ((key, ms, traced)))
    if (!traced) (r, ms, null)
    else {
      counter.drain(sc)
      val w = counter.take(opId)
      synchronized {
        work(w, ms)
        layer("codegen.compiles", "mean", Codegen.compiles - cg0)
        layer("codegen.compile_s", "mean", (Codegen.compileMs - cgMs0) / 1e3)
      }
      (r, ms, w)
    }
  }

  /** Per-layer samples for scheduler work `w` done over `ms` of wall
    * time by `n` operations. */
  def work(w: WorkCounter.Acc, ms: Double, n: Int = 1): Unit = {
    layer("scheduler.jobs", "mean", w.jobs.toDouble / n)
    layer("scheduler.stages", "mean", w.stages.toDouble / n)
    layer("scheduler.tasks", "mean", w.tasks.toDouble / n)
    w.stageMs.foreach(x => layer("scheduler.stage_ms", "median", x))
    layer("scheduler.task_s", "mean", w.taskMs / 1e3 / n)
    layer("scheduler.busy_ratio", "ratio", w.taskMs.toDouble)
    layer("scheduler.busy_ratio.den", "ratio", ms * cores)
    layer("scheduler.shuffle_read_mb", "mean", w.shuffleRead / 1e6 / n)
    layer("scheduler.shuffle_write_mb", "mean", w.shuffleWrite / 1e6 / n)
    layer("tables.input_mb", "mean", w.input / 1e6 / n)
  }

  /** Run `body` with the job phase property set, so its jobs are
    * attributed to that phase. */
  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(WorkCounter.PhaseKey, name)
    try body finally sc.setLocalProperty(WorkCounter.PhaseKey, null)
  }

  /** Time a named call inside an operation: a span, and on traced
    * operations a per-layer sample of its wall time. */
  def call[T](name: String, traced: Boolean)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    if (traced) layer(name, "mean", (System.nanoTime() - t0) / 1e9)
    r
  }
}

/** Benchmark harness entry point.
  *
  * {{{
  * Main --workload <name> --data <dir> --plan <plan.json> --out <dir>
  *      --trace <0|1>
  * }}}
  * Runs one workload against the generated inputs in `--data`, following
  * the seeded plan, and writes `result.json` (and, when traced,
  * `spans.jsonl`) to `--out`. Turning the raw samples into metrics is
  * the caller's job (run.py).
  */
object Main {
  def session(out: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run one workload in `spark` and write its raw result to `out`. */
  def runWorkload(spark: SparkSession, workload: String, data: String,
      plan: String, out: String, trace: Boolean,
      sessionStart: Double, t0: Long): Unit = {
    val ctx = new Ctx(spark, data, out, Json.read(plan), trace)
    spark.sparkContext.addSparkListener(ctx.counter)
    try {
      workload match {
        case "batch_suite" => BatchSuite.run(ctx)
        case "stream_sessions" => StreamSessions.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.fail(s"run aborted: $e")
    } finally spark.sparkContext.removeSparkListener(ctx.counter)
    val runSec = (System.nanoTime() - t0) / 1e9
    if (ctx.traceRun) ctx.tracer.write(s"$out/spans.jsonl")
    val w = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
    try w.println(Json.obj(
      "cores" -> ctx.cores,
      "session_start_s" -> sessionStart,
      "run_s" -> runSec,
      "setup_reps_s" -> ctx.setupReps,
      "ops" -> ctx.ops.map { case (k, ms, tr) =>
        Map("key" -> k, "ms" -> ms, "traced" -> tr) },
      "work_done" -> ctx.workDone,
      "work_seconds" -> ctx.workSeconds,
      "attempted" -> ctx.attempted,
      "failures" -> ctx.failures,
      "peak_heap_mb" -> HeapPeak.peakMb,
      "layers" -> ctx.layers.map { case (k, (agg, xs)) =>
        k -> Map("agg" -> agg, "samples" -> xs) },
      "extra" -> ctx.extra))
    finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val spark = session(opts("out"), cores)
    spark.range(1000L).selectExpr("sum(id)").collect()
    val sessionStart = (System.nanoTime() - t0) / 1e9
    runWorkload(spark, opts("workload"), opts("data"), opts("plan"),
      opts("out"), opts("trace") == "1", sessionStart, t0)
    spark.stop()
  }
}
