package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.Materialize

/** MATERIALIZED video clip-match snapshot index (VERDICT r16 #5): the
  * [[PerceptualDedupIndex]] treatment for q214's inverted frame-hash
  * relation. Round 16's clip matching re-derived and re-banded the
  * WHOLE corpus's frame hashes per run; this operator materializes
  * them ONCE as a bucketed table, so a refresh batch pays its own
  * frame-hash pass plus an equi-join whose snapshot side is a
  * pre-bucketed scan with NO exchange, and the index ADVANCES WITHOUT
  * A REBUILD via [[append]].
  *
  * Semantics are q214's verbatim (temporal-alignment voting — the
  * Shazam/Haitsma block-alignment trick): two videos match when ≥
  * [[MinMatch]] frames share a fingerprint at one CONSISTENT temporal
  * offset. The equi-join key is the frame hash; the vote is a groupBy
  * on (batch vid, snapshot vid, offset); `countDistinct(pos)` keeps a
  * static video whose frames all collide from inflating its own vote.
  * [[DfCap]] is the stop-hash discipline q214's ×4 ScaleTrend forced
  * (a frame hash shared by many videos — a blank frame — matches
  * everything and identifies nothing; uncapped, the join measured
  * exponent 3.0): the SOURCE of both constants is here, and
  * PerceptualQueries imports them, so the one-shot query, this index,
  * and any streaming front can never drift apart.
  *
  * Tables:
  *   - `<t>`    — (fhash, vid, pos) frame rows, bucketed+sorted by
  *     fhash (the join key — the [[DeltaDedupIndex]] layout trick);
  *   - `<t>_df` — the stop-hash sidecar: per-generation (fhash, df =
  *     DISTINCT vids contributing fhash in that generation). A batch's
  *     admit reads ONLY its own hashes' sidecar rows (bucket-pruned)
  *     and sums generations — batch-sized, never a snapshot scan.
  *     Summing distinct-vid counts across generations stays exact
  *     because of the append contract below: appended vids are NEW
  *     vids, so generations never share a vid.
  *
  * Caller contract (the delta-index rules):
  *   - the batch is checked against the SNAPSHOT only, never against
  *     itself (batch-local clip dedup is a separate pass);
  *   - [[append]] only frames of vids that [[admit]] ADMITTED, and a
  *     vid appears in at most one append (what keeps the sidecar's
  *     per-generation distinct-vid sums equal to a rebuild's).
  *
  * At 100 TB: the index holds one 24-byte row per sampled frame
  * (~1e10 rows per billion videos at 8 frames each), refresh cost ∝
  * |batch| · frames, and the snapshot is never re-hashed and never
  * shuffled.
  */
object VideoClipIndex {

  /** Stop-hash cap: max distinct videos per frame hash before the
    * hash stops being identifying (q214's measured trade: exponent
    * 3.0 → 0.56 at sf0.01 for 26/500 planted clips lost). */
  val DfCap = 16L

  /** Alignment vote threshold: frames that must share a fingerprint
    * at one consistent offset (q214). */
  val MinMatch = 4

  private def bucketCountOf(s: SparkSession, table: String): Int =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(
        s"$table is not a bucketed index table"))

  /** Sizing rule: ≤ ~2^18 frame rows per bucket (the DeltaDedupIndex
    * constant), floor 8, power of two. */
  private[graft] def bucketsFor(frameRows: Long): Int = {
    val target = (frameRows + (1L << 18) - 1) >> 18
    math.max(8, Integer.highestOneBit(math.max(1, target - 1).toInt) * 2)
  }

  /** Sidecar generation: (fhash, df) — distinct vids per hash in THIS
    * build/append's rows. */
  private def dfRows(rows: DataFrame): DataFrame =
    rows.groupBy(col("fhash")).agg(countDistinct(col("vid")).as("df"))

  /** Write the snapshot's frame index (+ stop-hash sidecar) as
    * bucketed tables. `frames` must have `vid`, `pos`, `fhash`. */
  def build(frames: DataFrame, table: String, buckets: Int = 0): Unit = {
    val rows = frames.select(col("fhash"), col("vid"), col("pos"))
    val nb = if (buckets > 0) buckets else bucketsFor(rows.count())
    rows.write.bucketBy(nb, "fhash").sortBy("fhash")
      .mode("overwrite").saveAsTable(table)
    // sidecar re-derived from the WRITTEN table (one bucket-local
    // aggregation) so it can never drift from what actually landed
    dfRows(rows.sparkSession.table(table))
      .write.bucketBy(nb, "fhash").sortBy("fhash")
      .mode("overwrite").saveAsTable(table + "_df")
  }

  /** Advance the snapshot WITHOUT a rebuild: append `admittedFrames`'
    * rows and a new sidecar df generation in the existing bucket
    * layout. The rows are pinned with an eager [[graft.Materialize.once]] before
    * either write (the ADVICE r16 rule from [[PerceptualDedupIndex
    * .append]]): index rows and their sidecar generation must come
    * from the SAME execution. */
  def append(admittedFrames: DataFrame, table: String): Unit = {
    val s = admittedFrames.sparkSession
    val nb = bucketCountOf(s, table)
    val rows = Materialize.once("VideoClipIndex.append",
      admittedFrames.select(col("fhash"), col("vid"), col("pos")))
    rows.write.bucketBy(nb, "fhash").sortBy("fhash")
      .mode("append").saveAsTable(table)
    dfRows(rows).write.bucketBy(nb, "fhash").sortBy("fhash")
      .mode("append").saveAsTable(table + "_df")
  }

  /** The alignment relation of a batch (`vid`, `pos`, `fhash`) against
    * the snapshot: one row per (vid, match_vid, offset) with ≥
    * [[MinMatch]] distinct aligned frames. `offset` = match_pos − pos
    * (where in the SNAPSHOT video the batch's frame 0 sits — a clip
    * excerpted from source frame k reads offset = +k). Stop hashes are
    * dropped at the CURRENT df — all snapshot generations plus the
    * batch's own contribution, q214's union-df semantics. */
  def matches(batch: DataFrame, table: String): DataFrame = {
    val s = batch.sparkSession
    val inc = batch.select(col("fhash"), col("vid"), col("pos"))
    val bdf = inc.groupBy(col("fhash"))
      .agg(countDistinct(col("vid")).as("df_b"))
    // this batch's hashes' snapshot df: bucket-pruned sidecar read +
    // a batch-sized sum across generations
    val sdf = s.table(table + "_df")
      .join(bdf.select(col("fhash")), Seq("fhash"))
      .groupBy(col("fhash")).agg(sum(col("df")).as("df_s"))
    val hot = bdf.join(sdf, Seq("fhash"), "left")
      .filter(col("df_b") + coalesce(col("df_s"), lit(0L)) > DfCap)
      .select(col("fhash"), lit(true).as("hot"))
    val probes = inc.join(hot, Seq("fhash"), "left")
      .filter(col("hot").isNull)
      .select(col("fhash"), col("vid"), col("pos"))
    val snap = s.table(table)
      .select(col("fhash"), col("vid").as("match_vid"),
        col("pos").as("match_pos"))
    probes.join(snap, Seq("fhash"))
      .groupBy(col("vid"), col("match_vid"),
        (col("match_pos") - col("pos")).as("offset"))
      .agg(countDistinct(col("pos")).as("n_matched"))
      .filter(col("n_matched") >= MinMatch)
  }

  /** Admit a batch against the snapshot: one verdict row per incoming
    * vid — distinct snapshot videos matched (at any offset), first
    * (min-vid) match, best aligned span, `admitted` = no match. */
  def admit(batch: DataFrame, table: String): DataFrame = {
    val m = matches(batch, table)
    val v = m.groupBy(col("vid"))
      .agg(countDistinct(col("match_vid")).as("n_matches"),
        min(col("match_vid")).as("first_match"),
        max(col("n_matched")).as("best_span"))
    batch.select(col("vid")).distinct()
      .join(v, Seq("vid"), "left")
      .select(col("vid"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("first_match"), lit(-1L)).as("first_match"),
        coalesce(col("best_span"), lit(0L)).as("best_span"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("admitted"))
  }

  /** Layout audit — the band-index lifecycle shape: appends grow the
    * fixed bucket set, so rows/bucket walking past 2× the sizing
    * target flags the next snapshot cut for a re-bucketing [[build]].
    * Joins [[IndexCatalog]] as kind `vclip`. */
  def layoutAudit(s: SparkSession, table: String,
      targetRowsPerBucket: Long = 1L << 18): DataFrame = {
    val deployed = bucketCountOf(s, table)
    s.table(table).agg(count(lit(1)).as("n_frame_rows"))
      .select(col("n_frame_rows"), lit(deployed.toLong).as("buckets"),
        expr(s"n_frame_rows div ${deployed.toLong}L").as("rows_per_bucket"),
        lit(targetRowsPerBucket).as("target_rows_per_bucket"),
        (col("n_frame_rows") > lit(2L * targetRowsPerBucket) * deployed)
          .as("rebucket_due"))
  }
}
