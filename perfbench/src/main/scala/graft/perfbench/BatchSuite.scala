package graft.perfbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `batch_suite`: closed loop, one client. A fixed number of passes
  * over the plan's declared queries, each pass in its own seeded order,
  * every query built with `SparkEntry.queries`, planned, and its result
  * collected into the JVM. Set-up warms the session with queries outside
  * the measured set. Correctness: outside the timed region, each query's
  * collected rows (from its first run) are written to parquet, which
  * the caller compares with the DuckDB oracle. */
object BatchSuite {
  private def noop(c: Ctx, name: String): Unit =
    SparkEntry.queries(name)(c.spark, c.data)
      .write.format("noop").mode("overwrite").save()

  def run(c: Ctx): Unit = {
    val names = Json.strings(c.plan.get("queries"))
    val passes = Json.items(c.plan.get("passes")).map(Json.strings)
    val warmups = Json.strings(c.plan.get("warmup"))
    val setupReps = c.plan.get("setup_reps").asInt

    for (_ <- 1 to setupReps) {
      val t0 = System.nanoTime()
      // a parquet write, so the result writes after the pass start warm
      c.spark.read.parquet(s"${c.data}/lineitem.parquet").limit(1000)
        .write.mode("overwrite").parquet(s"${c.out}/setup_write")
      warmups.foreach(noop(c, _))
      c.setupReps += (System.nanoTime() - t0) / 1e9
    }
    HeapPeak.sample()

    // The plan fixes how many passes are timed, so every build times the
    // same mix of first and repeated runs of each query. A traced run
    // makes at least two passes and traces each query in alternate
    // passes, half of the queries from the first pass and half from the
    // second, so every query is timed both traced and untraced and the
    // first pass's extra cost falls on both sides alike.
    val timedPasses = math.max(c.plan.get("timed_passes").asInt,
      if (c.traceRun) 2 else 1)
    require(timedPasses <= passes.size, "plan holds fewer query orders than passes")
    val start = System.nanoTime()
    val results = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]
    for (p <- 0 until timedPasses) {
      passes(p).foreach { name =>
        val traced = c.traceRun && (names.indexOf(name) + p) % 2 == 1
        c.attempt()
        try {
          val (out, _, w) = c.timed(name, s"p$p/$name", traced) {
            val df = c.phase("build") {
              c.call("queries.build_s", traced) {
                SparkEntry.queries(name)(c.spark, c.data)
              }
            }
            c.call("catalyst.plan_s", traced)(df.queryExecution.executedPlan)
            val rows = c.call("scheduler.exec_s", traced)(df.collect())
            (df.schema, rows)
          }
          if (!results.contains(name)) results(name) = out
          if (traced) c.layer("queries.build_jobs", "mean", w.buildJobs)
        } catch {
          case e: Exception => c.fail(s"$name: ${e.getMessage}")
        }
      }
    }
    c.workDone = timedPasses * names.size
    c.workSeconds = (System.nanoTime() - start) / 1e9

    val sql = SparkEntry.oracleSql
    // one small write job per query, all submitted at once so their
    // fixed per-job costs overlap
    val pool = Executors.newFixedThreadPool(math.max(1, results.size))
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val writes = results.toSeq.map { case (name, (schema, rows)) =>
        Future {
          c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .write.mode("overwrite").parquet(s"${c.out}/results/$name")
        }
      }
      Await.result(Future.sequence(writes), Duration.Inf)
    } finally pool.shutdown()
    // the collected rows are the harness's, not the engine's: let them go
    // before sampling the heap
    results.clear()
    HeapPeak.sample()
    c.extra("oracle_sql") = names.flatMap(n => sql.get(n).map(n -> _)).toMap
  }
}
