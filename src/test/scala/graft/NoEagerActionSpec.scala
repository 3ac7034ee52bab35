package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Guard against the q61 regression class: declaring a query must not
  * launch hidden Spark jobs. Scalar thresholds belong in the plan as
  * `crossJoin(broadcast(agg))` (the q13/q108/q61 pattern, whose 1-row
  * build side the BNLJ plan guard proves) — never a driver-side
  * `.head()`/`.collect()` inside the constructor, which costs an extra
  * job per declaration and hides an action behind a lazy-looking API.
  *
  * The declared exceptions are derived from the code, not listed here:
  * a construction-time job is accepted iff it carries the
  * [[Materialize.Key]] local property, i.e. it runs inside a
  * `Materialize` verb (a checkpoint, a bounded collect, or a scoped
  * driver loop such as the connected-components fixpoint).
  *
  * Mechanics: a listener counts untagged `onJobStart`s; after each
  * constructor we run a 1-partition sentinel action and wait for its
  * event. The listener bus is FIFO, so once the sentinel's event has
  * been counted, every job the constructor might have launched has
  * been counted too — the total must then equal the sentinel count
  * exactly.
  */
class NoEagerActionSpec extends SparkSpec {

  /** (name, untagged job count, their descriptions) per constructor,
    * each built (construction + analysis, no execution) in turn. */
  private def untaggedConstructionJobs(
      builds: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, Int, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    val jobs = new AtomicInteger(0)
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val name = j.stageInfos.map(_.name).mkString("|")
        val tagged = Option(j.properties)
          .exists(_.getProperty(Materialize.Key) != null)
        // DataFrameReader.parquet launches bounded metadata jobs (footer
        // schema reads / file listing) whose callsite IS the reader call
        // ("parquet at Tables.scala:N"). Those are declaration cost, not
        // hidden actions — a q61-class violation surfaces as
        // "head at ..."/"collect at ..." instead, and stays counted.
        if (!tagged && !name.startsWith("parquet at ")) {
          descs.add(name)
          jobs.incrementAndGet(); ()
        }
      }
    }

    var sentinels = 0
    def syncAfterSentinel(): Int = {
      spark.sparkContext.parallelize(Seq(1), 1).count()
      sentinels += 1
      val deadline = System.currentTimeMillis() + 30000
      while (jobs.get() < sentinels && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      jobs.get()
    }

    spark.sparkContext.addSparkListener(listener)
    try {
      // Drain any in-flight events from earlier specs, then rebase the
      // counter on a clean sentinel.
      syncAfterSentinel()
      Thread.sleep(200)
      jobs.set(0)
      sentinels = 0

      builds.map { case (name, fn) =>
        val before = sentinels
        fn(spark, sf0001).schema
        val seen = syncAfterSentinel()
        val culprits =
          descs.asScala.filterNot(_.contains("NoEagerActionSpec")).toSeq
        descs.clear()
        // rebase so each count stays per-constructor accurate
        jobs.set(sentinels)
        (name, seen - before - 1, culprits)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("query construction launches only Materialize-tagged Spark jobs") {
    for ((name, n, culprits) <-
        untaggedConstructionJobs(SparkEntry.queries.toSeq.sortBy(_._1)))
      assert(n == 0,
        s"$name launched $n untagged Spark job(s) during construction — " +
          "use crossJoin(broadcast(agg)) for scalars, and route a " +
          "deliberate materialization through graft.Materialize " +
          s"[jobs: ${culprits.mkString("; ")}]")
  }

  test("an untagged action in a constructor fails the check; a tagged one passes") {
    val found = untaggedConstructionJobs(Seq(
      "untagged" -> { (s: SparkSession, d: String) =>
        val docs = Tables.documents(s, d)
        docs.count()
        docs
      },
      "tagged" -> { (s: SparkSession, d: String) =>
        Materialize.once("NoEagerActionSpec.tagged", Tables.documents(s, d))
      })).map { case (name, n, _) => name -> n }.toMap
    assert(found("untagged") > 0, s"untagged count() not caught: $found")
    assert(found("tagged") == 0, s"tagged checkpoint flagged: $found")
  }

  test("Materialize.local over maxRows + 1 rows throws and names the site") {
    val df = spark.range(4).toDF("id")
    assert(Materialize.local("NoEagerActionSpec.fits", df, 4).count() == 4)
    val e = intercept[IllegalStateException](
      Materialize.local("NoEagerActionSpec.over", df, 3))
    assert(e.getMessage.contains("NoEagerActionSpec.over") &&
      e.getMessage.contains("4 rows"), e.getMessage)
    // the scope restores the caller's (absent) tag even on the throw path
    assert(spark.sparkContext.getLocalProperty(Materialize.Key) == null)
  }
}
