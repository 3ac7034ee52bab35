package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one vocabulary for Spark jobs that run while a query or an index
  * call is being CONSTRUCTED — everything else in the engine stays a
  * lazy plan. Two verbs, both built on [[scope]]:
  *
  *   - [[once]]: a frame referenced several times, whose subtrees
  *     Spark would otherwise re-execute per reference (their
  *     projections differ, so exchange reuse cannot unify them), is
  *     evaluated once into executor-local blocks (`localCheckpoint`);
  *   - [[local]]: a frame bounded by the workload, never by the corpus,
  *     is collected once and re-enters the plan as a local relation.
  *     Where the site states its bound, it is a CHECK here, not a
  *     comment: a collect past `maxRows` fails with the site's name.
  *     The check runs AFTER the collect, so it catches a data property
  *     that has drifted (more sources, more label cells); it does not
  *     shield the driver's memory from an oversized frame.
  *
  * Every job a verb launches carries the Spark local property [[Key]]
  * naming its site. Local properties travel with the job: AQE stage
  * and broadcast jobs run on threads that copy the caller's properties
  * (`SQLExecution.withThreadLocalCaptured`), so they carry the tag too.
  * NoEagerActionSpec reads it: a construction-time job with the tag is
  * a declared materialization, any other one is a hidden action. */
object Materialize {

  /** The Spark local property every construction-time job carries. */
  val Key = "graft.materialize"

  /** Run `body` with [[Key]] set to `name` on `s`'s context for the
    * calling thread; the previous value (or its absence) is restored
    * afterwards, so scopes nest. */
  def scope[T](s: SparkSession, name: String)(body: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** `df` evaluated once, eagerly, into executor-local blocks. */
  def once(name: String, df: DataFrame): DataFrame =
    scope(df.sparkSession, name)(df.localCheckpoint())

  /** `df` collected once (failing past `maxRows` rows) and re-entered
    * as a local relation. */
  def local(name: String, df: DataFrame, maxRows: Long): DataFrame =
    localRows(name, df, maxRows)._1

  /** [[local]], also giving back the collected rows for sites that
    * read them on the driver (IN-lists, bucket sizing). A plain
    * `collect()` followed by the length check — a `limit(maxRows + 1)`
    * would plan a CollectLimit, whose incremental take jobs change the
    * job count and the plan. Sites whose row count is set by their
    * caller's input (the index serving legs) omit `maxRows`: the
    * caller's batch is the bound, and it is not this layer's to cap. */
  def localRows(name: String, df: DataFrame, maxRows: Long = Long.MaxValue)
      : (DataFrame, Seq[Row]) = {
    val s = df.sparkSession
    val rows = scope(s, name)(df.collect()).toSeq
    if (rows.size > maxRows)
      throw new IllegalStateException(s"Materialize.local '$name' " +
        s"collected ${rows.size} rows, over its bound of $maxRows")
    import scala.jdk.CollectionConverters._
    (s.createDataFrame(rows.asJava, df.schema), rows)
  }
}
