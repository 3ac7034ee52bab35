package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col

/** COMPACTION for the bucketed snapshot indexes — the file-count half
  * of index lifecycle (the audits' `*_due` flags are the row-count
  * half). Every `append()` lands a refresh batch as NEW files inside
  * the same buckets, so after many refreshes a bucket is dozens of
  * small files and the "bucket-pruned scan" claim pays per-file open
  * cost instead of sequential reads — the same rolling-log problem the
  * reference handles with XTRIM retention on its stream
  * (src/queue/redis_queue.py:124-130). `compact` rewrites the table
  * IN THE SAME bucket layout (count, columns, sort), repartitioned so
  * each bucket lands in one file, then swaps it in place. Verdicts,
  * plans, and the exchange-free admit claims are unchanged —
  * BucketedIndexMaintenanceSpec proves verdict parity and the
  * post-compact file collapse.
  *
  * The swap is write-tmp → rename-live-aside → rename-tmp-in →
  * drop-aside: the live data is never deleted before its replacement
  * is fully written, so a crash at any point leaves a complete copy
  * on disk (worst case — between the two renames — the table name
  * dangles but both `<t>_compact_old` and `<t>_compact_tmp` hold full
  * copies; rename either back). Not atomic against a concurrent
  * reader of the SAME SparkSession catalog — production would run
  * this under a real catalog's table lock or as a new snapshot
  * version; the data path — one full read + one bucketed write, cost
  * ∝ index size, no joins — is what this operator pins. */
object BucketedIndexMaintenance {

  /** Pin bucketed scans ON for an eagerly-executed lookup stage:
    * Spark's DisableUnnecessaryBucketedScan drops bucketed reading for
    * a filter-only subplan (nothing downstream wants the
    * partitioning), which silently forfeits the BUCKET PRUNING the
    * index layouts exist for — an In-filter would fall back to opening
    * every bucket file's footer. Scoped and restored, never leaked —
    * but the toggle is SESSION-scoped (runtime SQLConf), so a query
    * running CONCURRENTLY on the same SparkSession inside this window
    * would see bucketed scans pinned on too (behavior, not results: the
    * flag never changes answers). Serving fronts that multiplex one
    * session across threads should issue lookups from a
    * `spark.newSession()` clone, which snapshots its own conf. */
  private[operators] def withBucketedScan[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try f finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Rewrite `table` compacted: same bucket spec, one file per bucket.
    * Also compacts a companion table's worth of appended files for
    * indexes that keep one (callers pass each table separately). */
  def compact(s: SparkSession, table: String): Unit = {
    val meta = s.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
      s"$table is not a bucketed index table"))
    val bcols = spec.bucketColumnNames
    val tmp = table + "_compact_tmp"
    // align partitions with the bucket id so every bucket lands whole
    // in one task → one file per bucket. NOT repartition(n, bucketCols):
    // Spark elides a repartition that matches the table's bucket spec
    // even when it then plans the scan un-bucketed (multiple files per
    // bucket), which would re-write the mixed input layout verbatim.
    // pmod(hash(cols), n) IS Spark's bucket-id function, and as a
    // derived expression it always forces the exchange.
    val bucketId = org.apache.spark.sql.functions
      .pmod(org.apache.spark.sql.functions.hash(bcols.map(col): _*),
        org.apache.spark.sql.functions.lit(spec.numBuckets))
    val df = s.table(table).repartition(spec.numBuckets, bucketId)
    val w0 = df.write.bucketBy(spec.numBuckets, bcols.head, bcols.tail: _*)
    val w = spec.sortColumnNames match {
      case head +: tail => w0.sortBy(head, tail: _*)
      case _ => w0
    }
    w.mode("overwrite").saveAsTable(tmp)
    val old = table + "_compact_old"
    s.sql(s"DROP TABLE IF EXISTS $old")
    s.sql(s"ALTER TABLE $table RENAME TO $old")
    // rename moves the managed directory aside; make sure the live
    // location is actually clear before renaming the replacement in
    // (DROP/RENAME can leave stray files with the local catalog)
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    s.sql(s"ALTER TABLE $tmp RENAME TO $table")
    val oldMeta = s.sessionState.catalog
      .getTableMetadata(TableIdentifier(old))
    s.sql(s"DROP TABLE $old")
    val oldLoc = new org.apache.hadoop.fs.Path(oldMeta.location)
    if (fs.exists(oldLoc)) fs.delete(oldLoc, true)
  }
}
