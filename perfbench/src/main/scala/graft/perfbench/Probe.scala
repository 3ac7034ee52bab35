package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one query, request, batch or
  * trigger share `op`; `parent` is the enclosing span's id (0 = none). */
final case class Span(id: Long, parent: Long, op: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder, written out once when the run ends. Spans
  * are recorded only inside an operation opened with `on = true`;
  * everywhere else a span is a plain pass-through. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val opId = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }
  private val recording = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  /** Run `body` as operation `id`: its spans share that id. */
  def op[T](id: String, on: Boolean)(body: => T): T = {
    val (prevId, prevOn) = (opId.get, recording.get)
    opId.set(id)
    recording.set(on)
    try body finally { opId.set(prevId); recording.set(prevOn) }
  }

  def span[T](name: String)(body: => T): T =
    if (!recording.get) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), opId.get, name,
          t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Record a span whose interval was measured elsewhere, in epoch
    * milliseconds (for example from a query's progress report). */
  def record(name: String, startMs: Long, endMs: Long,
      parent: Long = 0L): Long =
    if (!recording.get) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, opId.get, name, startMs * 1000000L - epochOffsetNs,
        endMs * 1000000L - epochOffsetNs))
      id
    }

  /** Epoch nanoseconds minus `System.nanoTime`, fixed at creation. */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> (s.startNs + epochOffsetNs),
        "end_ns" -> (s.endNs + epochOffsetNs)))
    } finally w.close()
  }
}

/** Scheduler-side work counts, read from outside through a
  * [[SparkListener]]. Work is attributed to the operation named by the
  * submitting thread's `OpKey` local property; while `oddBatches` is
  * set, the work of odd-numbered streaming micro-batches (Spark's
  * `streaming.sql.batchId` property) counts under the key "*", so a
  * stream's traced and untraced triggers alternate. Everything else is
  * ignored, so untraced operations pay a property lookup or two per
  * event. */
final class WorkCounter extends SparkListener {
  import WorkCounter._

  @volatile var oddBatches = false
  private val byOp = new ConcurrentHashMap[String, Acc]()
  private val stageOp = new ConcurrentHashMap[Integer, String]()

  private def opOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty(OpKey)).orElse(
        if (!oddBatches) None
        else Option(p.getProperty(BatchIdKey)).filter(_.toLong % 2 == 1).map(_ => "*"))
    }

  private def acc(op: String): Acc = byOp.computeIfAbsent(op, _ => new Acc)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    opOf(j.properties).foreach { op =>
      val a = acc(op)
      a.synchronized {
        a.jobs += 1
        if (j.properties != null && j.properties.getProperty(PhaseKey) == "build")
          a.buildJobs += 1
      }
    }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    opOf(s.properties).foreach(op => stageOp.put(s.stageInfo.stageId, op))

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageOp.remove(s.stageInfo.stageId)).foreach { op =>
      val i = s.stageInfo
      val a = acc(op)
      a.synchronized {
        a.stages += 1
        a.tasks += i.numTasks
        for (x <- i.submissionTime; y <- i.completionTime) a.stageMs += y - x
        val m = i.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.input += m.inputMetrics.bytesRead
        }
      }
    }

  /** Remove and return what was counted for `op`. Call after [[drain]]. */
  def take(op: String): Acc = Option(byOp.remove(op)).getOrElse(new Acc)

  /** Block until every event posted before this call has reached the
    * listener: run a one-task sentinel job and wait for its end event.
    * The bus delivers events to the listeners of one queue in order, so
    * the sentinel's end arrives after every earlier event. */
  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    val sentinel = new SparkListener {
      @volatile private var id = -1
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty(SentinelKey) == token)
          id = j.jobId
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == id) latch.countDown()
    }
    val prevOp = sc.getLocalProperty(OpKey)
    sc.addSparkListener(sentinel)
    sc.setLocalProperty(SentinelKey, token)
    sc.setLocalProperty(OpKey, SentinelKey)
    try {
      sc.parallelize(Seq(1), 1).count()
      require(latch.await(30, TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job within 30 s")
    } finally {
      sc.setLocalProperty(SentinelKey, null)
      sc.setLocalProperty(OpKey, prevOp)
      sc.removeSparkListener(sentinel)
      byOp.remove(SentinelKey)
    }
  }
}

object WorkCounter {
  val SentinelKey = "perfbench.sentinel"
  /** Local property naming the traced operation a job belongs to. */
  val OpKey = "perfbench.op"
  /** Local property naming the phase of an operation; jobs started
    * while it reads "build" count as construction jobs. */
  val PhaseKey = "perfbench.phase"
  /** Local property Spark sets to the id of the micro-batch a streaming
    * job belongs to. */
  val BatchIdKey = "streaming.sql.batchId"

  final class Acc {
    var jobs, buildJobs, stages, tasks, taskMs = 0L
    var shuffleRead, shuffleWrite, input = 0L
    val stageMs = mutable.ArrayBuffer.empty[Long]
  }
}

/** Whole-stage codegen compilations and their compile time. Spark's
  * `CodeGenerator` records each compile in milliseconds (it divides the
  * nanosecond timer by 1e6 before updating the histogram). */
object Codegen {
  private def hist = CodegenMetrics.METRIC_COMPILATION_TIME

  def compiles: Long = hist.getCount

  /** Total compile milliseconds so far. Exact while the histogram's
    * 1028-sample reservoir still holds every compile; beyond that it
    * falls back to mean × count. */
  def compileMs: Double = {
    val snap = hist.getSnapshot
    val n = hist.getCount
    if (n <= snap.size) snap.getValues.map(_.toDouble).sum
    else snap.getMean * n
  }
}

/** Peak JVM heap after a full collection, sampled at the ends of
  * set-up and of the timed phase (outside any timed region). Sampling
  * after a forced collection measures what the session retains, not when
  * the collector last happened to run. */
object HeapPeak {
  private var peak = 0L

  def sample(): Unit = synchronized {
    // Spark's ContextCleaner drops broadcast and shuffle blocks only after
    // a collection has queued their owners, on its own thread: collect,
    // give it a moment, collect again.
    System.gc()
    Thread.sleep(300)
    System.gc()
    peak = math.max(peak,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = synchronized(peak / (1024.0 * 1024.0))
}
