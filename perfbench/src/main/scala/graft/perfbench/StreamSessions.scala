package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.{AudioChunk, TranscriptEvent}
import graft.streaming.{SessionLogic, SessionProcessor}

/** `stream_sessions`: the sessionizer (`SessionProcessor.attach`) over a
  * parquet file source, RocksDB state with changelog checkpointing.
  *
  *  - Drain: a fixed staged backlog read `filesPerTrigger` files at a
  *    time (AvailableNow); each trigger's rows and duration give the
  *    caller the drain rate.
  *  - Open loop: a generator thread moves the seeded chunk files into
  *    the source directory at their due times, whatever the query's
  *    progress; the query triggers back to back. Each file's move time,
  *    each trigger's end, and the source log's file-to-batch map let
  *    the caller time every event from its scheduled creation.
  *
  * Set-up stages the backlog and warms the streaming path with a short
  * run over warm-up files. Correctness: each session's emitted events
  * must equal `SessionLogic.step` over that session's chunks in offset
  * order. */
object StreamSessions {
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** Copy staged files in name order with one-second-apart modification
    * times: the file source reads files oldest first, and equal times
    * would leave the order of a backlog to chance. */
  private def copyDir(from: String, to: String): Unit = {
    new File(to).mkdirs()
    val files = new File(from).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val t0 = System.currentTimeMillis() - 1000L * files.length
    files.zipWithIndex.foreach { case (f, i) =>
      val dst = new File(to, f.getName).toPath
      Files.copy(f.toPath, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + 1000L * i))
    }
  }

  private def start(c: Ctx, name: String, src: String, trigger: Trigger,
      filesPerTrigger: Option[Int], traced: Boolean): StreamingQuery = {
    val reader = c.spark.readStream
      .schema(Encoders.product[AudioChunk].schema)
    val chunks = filesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
      .parquet(src).as[AudioChunk](Encoders.product[AudioChunk])
    val events = c.call("SessionProcessor.attach", traced) {
      SessionProcessor.attach(chunks, timeoutMs = 0L)
    }
    events.toDF().writeStream
      .queryName(name)
      .format("memory")
      .outputMode("append")
      .option("checkpointLocation", s"${c.out}/stream/ckpt_$name")
      .trigger(trigger)
      .start()
  }

  private def emitted(c: Ctx, name: String): Seq[TranscriptEvent] =
    c.spark.table(name).as[TranscriptEvent](Encoders.product[TranscriptEvent])
      .collect().toSeq

  private def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  private def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L)

  /** File name -> batch id, from the file source's metadata log. */
  private def fileBatches(c: Ctx, name: String): Map[String, Long] = {
    val dir = new File(s"${c.out}/stream/ckpt_$name/sources/0")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    dir.listFiles().filter(f => !f.getName.startsWith(".")).flatMap { f =>
      Files.readAllLines(f.toPath).asScala.drop(1).filter(_.startsWith("{"))
        .map { l =>
          val n = mapper.readTree(l)
          new File(new java.net.URI(n.get("path").asText)).getName ->
            n.get("batchId").asLong
        }
    }.toMap
  }

  /** Compare each session's emitted events with the pure session
    * logic over its chunks; one check per chunk. */
  private def verify(c: Ctx, phase: String, srcDir: String,
      out: Seq[TranscriptEvent]): Unit = {
    val chunks = c.spark.read.schema(Encoders.product[AudioChunk].schema)
      .parquet(srcDir).as[AudioChunk](Encoders.product[AudioChunk])
      .collect().toSeq
    val got = out.groupBy(_.sessionId)
    chunks.groupBy(_.sessionId).foreach { case (sid, cs) =>
      val (_, want) = SessionLogic.step(sid, cs.sortBy(_.offsetMs),
        SessionLogic.empty)
      val ok = got.getOrElse(sid, Seq.empty).sortBy(_.resultOffsetMs) ==
        want.sortBy(_.resultOffsetMs)
      cs.foreach(_ => c.check(ok, s"$phase session $sid: emitted events differ"))
    }
    val extra = got.keySet -- chunks.map(_.sessionId).toSet
    extra.foreach(sid => c.check(false, s"$phase: events for unknown session $sid"))
  }

  private def phaseLayers(c: Ctx, ps: Seq[StreamingQueryProgress]): Unit = {
    def d(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.getOrDefault(k, 0L).toDouble
    c.layer("streaming.triggers", "value", ps.size)
    ps.foreach { p =>
      c.layer("streaming.rows_per_trigger", "median", p.numInputRows)
      c.layer("streaming.trigger_ms", "median", d(p, "triggerExecution"))
      Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
        "commitOffsets", "addBatch").foreach { k =>
        c.layer(s"streaming.${k}_ms", "median", d(p, k))
      }
      p.stateOperators.headOption.foreach { s =>
        c.layer("statestore.update_ms", "median", s.allUpdatesTimeMs)
        c.layer("statestore.commit_ms", "median", s.commitTimeMs)
        c.layer("statestore.rows_updated", "median", s.numRowsUpdated)
        c.layer("statestore.rows_total", "max", s.numRowsTotal)
        c.layer("statestore.memory_mb", "max", s.memoryUsedBytes / 1e6)
      }
    }
  }

  def run(c: Ctx): Unit = {
    val plan = c.plan
    val staged = s"${c.data}/stream"
    val work = s"${c.out}/stream"
    val openFiles = Json.items(plan.get("open_files"))
    val filesPerTrigger = plan.get("drain_files_per_trigger").asInt
    c.spark.conf.set(ProviderKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    c.spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    c.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    c.spark.conf.set("spark.sql.shuffle.partitions",
      plan.get("state_partitions").asInt.toLong)

    // Set-up: stage the drain backlog, warm the streaming path.
    for (rep <- 1 to plan.get("setup_reps").asInt) {
      val t0 = System.nanoTime()
      rm(new File(work))
      copyDir(s"$staged/drain", s"$work/drain_src")
      copyDir(s"$staged/warm", s"$work/warm_src")
      new File(s"$work/open_src").mkdirs()
      val q = start(c, s"warm$rep", s"$work/warm_src",
        Trigger.AvailableNow(), Some(filesPerTrigger), traced = false)
      q.awaitTermination()
      c.setupReps += (System.nanoTime() - t0) / 1e9
    }
    HeapPeak.sample()

    // Drain the fixed backlog. It runs before the open loop: its triggers
    // carry on the set-up's JIT warm-up, and without them the open loop's
    // trigger times were still falling through its last second.
    val drainQ = start(c, "drain", s"$work/drain_src", Trigger.AvailableNow(),
      Some(filesPerTrigger), traced = false)
    drainQ.awaitTermination()
    val drainProgress = progressOf(drainQ)
    c.extra("drain_triggers") = drainProgress.map { p =>
      Map("rows" -> p.numInputRows,
        "ms" -> p.durationMs.getOrDefault("triggerExecution", 0L))
    }

    // Open loop. A traced run traces its odd-numbered triggers, so traced
    // and untraced triggers alternate under the same load. The listener
    // bus is drained first, so no late event of the drain's counts.
    if (c.traceRun) {
      c.counter.drain(c.spark.sparkContext)
      c.counter.oddBatches = true
    }
    val t0Ms = System.currentTimeMillis()
    val openQ = start(c, "open", s"$work/open_src",
      Trigger.ProcessingTime(0L), None, traced = c.traceRun)
    val moved = mutable.ArrayBuffer.empty[(String, Long)]
    val gen = new Thread(() => try {
      openFiles.foreach { f =>
        val due = t0Ms + f.get("due_ms").asLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = f.get("name").asText
        val from = new File(s"$staged/open/$name").toPath
        val tmp = new File(s"$work/open_tmp_$name").toPath
        Files.copy(from, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(tmp,
          FileTime.fromMillis(System.currentTimeMillis()))
        Files.move(tmp, new File(s"$work/open_src/$name").toPath,
          StandardCopyOption.ATOMIC_MOVE)
        moved.synchronized { moved += name -> (System.currentTimeMillis() - t0Ms) }
      }
    } catch {
      case e: Exception => c.synchronized(c.fail(s"generator: $e"))
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    openQ.processAllAvailable()
    if (c.traceRun) {
      c.counter.drain(c.spark.sparkContext)
      c.counter.oddBatches = false
    }
    openQ.stop()
    val openProgress = progressOf(openQ)
    val batches = fileBatches(c, "open")
    c.extra("open_files") = moved.map { case (n, at) =>
      Map("name" -> n, "moved_ms" -> at, "batch" -> batches.getOrElse(n, -1L))
    }
    c.extra("open_batches") = openProgress.map { p =>
      Map("batch" -> p.batchId, "end_ms" -> (endMs(p) - t0Ms),
        "rows" -> p.numInputRows)
    }

    HeapPeak.sample()

    if (c.traceRun) {
      phaseLayers(c, openProgress)
      // Scheduler work of the traced triggers, per trigger.
      val traced = openProgress.filter(_.batchId % 2 == 1)
      c.work(c.counter.take("*"), traced.map(
        _.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum,
        math.max(1, traced.size))
      // Spark reports each phase's duration, not its start, so the
      // phase spans are laid end to end in execution order.
      traced.foreach { p =>
        c.tracer.op(s"trigger/${p.batchId}", on = true) {
          val start = endMs(p) - p.durationMs.getOrDefault("triggerExecution", 0L)
          val id = c.tracer.record("streaming.trigger", start, endMs(p))
          var t = start
          Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
            "addBatch", "commitOffsets").foreach { k =>
            val d = p.durationMs.getOrDefault(k, 0L).toLong
            c.tracer.record(s"streaming.$k", t, t + d, id)
            t += d
          }
        }
      }
    }

    verify(c, "open", s"$work/open_src", emitted(c, "open"))
    verify(c, "drain", s"$work/drain_src", emitted(c, "drain"))
  }
}
