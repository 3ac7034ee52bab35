package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.Materialize

/** MATERIALIZED perceptual-fingerprint snapshot index — the
  * [[DeltaDedupIndex]] treatment for the multimodal dedup family
  * (VERDICT r15 #2): round 15 shipped image/audio near-dup as one-shot
  * queries, so a 100 TB multimodal REFRESH re-fingerprinted and
  * re-banded the whole corpus per batch. This operator materializes
  * the corpus's fingerprints ONCE as a bucketed block index; each
  * refresh batch then pays its own fingerprint pass plus a join whose
  * snapshot side is a pre-bucketed scan with NO exchange, and the
  * index ADVANCES WITHOUT A REBUILD via [[append]] (same contract and
  * spec discipline as the text/embedding delta indexes).
  *
  * One [[Layout]] serves both modalities (the reference has neither —
  * it reprocesses every submission, `src/workers/ocr_worker.py:118-190`):
  *   - [[ImageLayout]]: the [[WidePhash]] production split verbatim —
  *     252-bit 4-lane dHash, 12 blocks × 21 bits, hd ≤ 11,
  *     distinct-fingerprint df cap 32 (constants IMPORTED from
  *     WidePhash, so index, batch query, and streaming gate can never
  *     drift apart);
  *   - [[AudioLayout]]: the 63-bit Haitsma-Kalker fingerprint in lane
  *     0, 4 blocks × 16 bits (the q210 split), hd ≤ 3. Its cap (4096)
  *     is a backstop that never fires at measured bucket populations
  *     (the audio fingerprint is high-entropy — min cross-doc hd 12)
  *     but bounds the degenerate silent-clip bucket at 1e9 clips.
  *
  * Index rows: one per (distinct fingerprint, block) plus ONE IDENTITY
  * row per fingerprint (bidx = layout.blocks, key = a lane-fold hash).
  * The identity row is what keeps exact duplicates cap-EXEMPT — q207's
  * semantics: a fingerprint whose every block bucket is degenerate-hot
  * still matches its exact copies through the identity key. All rows
  * share the single folded join column `bkey = bidx·2^blockBits +
  * bval`, which is what lets `bucketBy` line up with the join exactly
  * (the DeltaDedupIndex trick).
  *
  * Hot-bucket discipline at admit time: bucket dfs live in a SIDECAR
  * table `<table>_df` (bkey, df), bucketed by the same key — [[build]]
  * writes the initial counts, [[append]] appends the batch's counts as
  * a new generation. A batch's admit reads ONLY its own keys' sidecar
  * rows (bucket-pruned scan) and sums generations per key — a
  * batch-sized aggregation, never a snapshot scan. Appending only
  * ADMITTED fingerprints (the documented caller contract, below) keeps
  * row-counting equal to distinct-fingerprint counting, which is what
  * makes append ≡ rebuild hold for the cap too.
  *
  * Caller contract (the DeltaDedupIndex rules):
  *   - the batch is checked against the SNAPSHOT only, never against
  *     itself — dedup-within-batch (q208's clusters over the batch) is
  *     a separate batch-local pass run before this gate;
  *   - [[append]] only fingerprints [[admit]] ADMITTED — appending a
  *     rejected near-dup would make the snapshot self-contradictory,
  *     and (because admitted ⇒ no hd ≤ hdMax match ⇒ new distinct
  *     fingerprint) it is also what keeps the sidecar's df counts
  *     equal to a rebuild's distinct-fingerprint counts.
  *
  * At 100 TB: the index holds blocks+1 rows per distinct fingerprint
  * (40 bytes of lanes each — ~1e9 fingerprints per PB of images is
  * 13e9 skinny rows), refresh cost ∝ |batch|, and the snapshot is
  * never re-fingerprinted and never shuffled.
  */
object PerceptualDedupIndex {

  /** blocksPerLane × blockBits splits of up to 4 fingerprint lanes;
    * `lanes` is how many lane columns carry bits (the rest are stored
    * as 0 and XOR to 0 in the verify). */
  final case class Layout(lanes: Int, blocksPerLane: Int, blockBits: Int,
      hdMax: Int, dfCap: Long) {
    val blocks: Int = lanes * blocksPerLane
    val blockMod: Long = 1L << blockBits
    /** identity rows ride bidx = blocks (one past the block range). */
    val idBidx: Int = blocks
  }

  val ImageLayout: Layout = Layout(4, WidePhash.Blocks / 4,
    WidePhash.BlockBits, WidePhash.HdMax, WidePhash.DfCap)
  val AudioLayout: Layout = Layout(1, 4, 16, 3, 4096L)

  private def laneCols = (0 until 4).map(l => col(s"l$l"))

  /** Block value b (0..blocks−1) as a Column over lane columns —
    * integer div/mod, mirroring [[WidePhash.block]]. */
  private def bval(lo: Layout, b: Int): Column = {
    val lane = s"l${b / lo.blocksPerLane}"
    val shift = lo.blockBits * (b % lo.blocksPerLane)
    if (shift == 0) expr(s"$lane % ${lo.blockMod}")
    else expr(s"($lane div ${1L << shift}) % ${lo.blockMod}")
  }

  /** The identity key: a 31-multiplier fold of the four lanes into the
    * block-value range — each lane reduced mod the range FIRST so the
    * fold stays far from Long overflow under ANSI arithmetic (a raw
    * 63-bit lane times 31 overflows). Collisions are verified away by
    * the exact-equality check at admit time. */
  private def idVal(lo: Layout): Column = {
    val m = lo.blockMod
    expr(s"pmod((((l0 % $m) * 31 + l1 % $m) * 31 + l2 % $m) * 31 + l3 % $m, $m)")
  }

  /** (bkey, bidx, id, l0..l3) block+identity rows of DISTINCT
    * fingerprints in `sig` (id, l0..l3); min id represents a group. */
  private def indexRows(lo: Layout, sig: DataFrame): DataFrame = {
    val dh = sig.groupBy(laneCols: _*).agg(min(col("id")).as("id"))
    val keys = (0 until lo.blocks).map(b =>
      struct(lit(b).as("bidx"), bval(lo, b).as("bv"))) :+
      struct(lit(lo.idBidx).as("bidx"), idVal(lo).as("bv"))
    dh.select(col("id") +: laneCols :+
        explode(array(keys: _*)).as("k"): _*)
      .select((col("k.bidx") * lo.blockMod + col("k.bv")).as("bkey"),
        col("k.bidx").as("bidx"), col("id"),
        col("l0"), col("l1"), col("l2"), col("l3"))
  }

  /** Sidecar generation: (bkey, df) — row counts per key of THIS
    * build/append's index rows (= distinct fingerprints per bucket
    * under the append-only-admitted contract). */
  private def dfRows(rows: DataFrame): DataFrame =
    rows.groupBy(col("bkey")).agg(count(lit(1)).as("df"))

  /** Sizing rule: blocks+1 rows per fingerprint, ≤ ~2^18 rows per
    * bucket (the DeltaDedupIndex constant), floor 8, power of two. */
  private[graft] def bucketsFor(lo: Layout, fingerprints: Long): Int = {
    val target = ((lo.blocks + 1).toLong * fingerprints + (1L << 18) - 1) >> 18
    math.max(8, Integer.highestOneBit(math.max(1, target - 1).toInt) * 2)
  }

  private def bucketCountOf(s: SparkSession, table: String): Int =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(
        s"$table is not a bucketed index table"))

  /** Write the snapshot's fingerprint index (+ df sidecar) as bucketed
    * tables. `sig` must have `id` and lane columns `l0..l3` (audio
    * callers put the 63-bit fingerprint in l0 and 0L in l1..l3). */
  def build(lo: Layout, sig: DataFrame, table: String,
      buckets: Int = 0): Unit = {
    val nb = if (buckets > 0) buckets
      else bucketsFor(lo, sig.select(laneCols: _*).distinct().count())
    val rows = indexRows(lo, sig)
    rows.write.bucketBy(nb, "bkey").sortBy("bkey")
      .mode("overwrite").saveAsTable(table)
    // counts re-read from the WRITTEN table (one bucket-local pass) so
    // the sidecar can never drift from what actually landed
    dfRows(rows.sparkSession.table(table))
      .write.bucketBy(nb, "bkey").sortBy("bkey")
      .mode("overwrite").saveAsTable(table + "_df")
  }

  /** Advance the snapshot WITHOUT a rebuild: append `admittedSig`'s
    * block rows and a new sidecar df generation in the existing bucket
    * layout. */
  def append(lo: Layout, admittedSig: DataFrame, table: String): Unit = {
    val s = admittedSig.sparkSession
    val nb = bucketCountOf(s, table)
    // The index rows and their sidecar generation must come from the
    // SAME execution (ADVICE r16 #3): build() guarantees that by
    // re-reading the written table, but an append cannot isolate its
    // own generation from the table afterwards — so the batch's rows
    // are pinned with an eager checkpoint (Materialize.once) BEFORE
    // either write. A retried non-deterministic upstream re-executing
    // between the two writes can then never land a sidecar that
    // disagrees with the rows. Batch-sized (blocks+1 rows per admitted fingerprint).
    val rows =
      Materialize.once("PerceptualDedupIndex.append", indexRows(lo, admittedSig))
    rows.write.bucketBy(nb, "bkey").sortBy("bkey")
      .mode("append").saveAsTable(table)
    dfRows(rows).write.bucketBy(nb, "bkey").sortBy("bkey")
      .mode("append").saveAsTable(table + "_df")
  }

  /** Admit a batch (`id`, `l0..l3`) against the snapshot: one verdict
    * row per incoming fingerprint — match count (distinct snapshot
    * ids), first (min-id) snapshot match, best (min) Hamming distance,
    * `admitted` = no match. Matching semantics are q207's: identical
    * fingerprints always match (identity key, cap-exempt); hd ≤ hdMax
    * matches require some shared block whose CURRENT bucket df (all
    * sidecar generations summed) is ≤ the cap. */
  def admit(lo: Layout, batch: DataFrame, table: String): DataFrame = {
    val s = batch.sparkSession
    // probe per DISTINCT incoming fingerprint (two batch images with
    // one fingerprint get one probe and share the verdict — the batch
    // is never checked against itself, so their verdicts are equal by
    // construction); verdicts re-attach to every batch id by lanes.
    val bb = indexRows(lo, batch.select(col("id") +: laneCols: _*))
      .withColumnRenamed("l0", "i0").withColumnRenamed("l1", "i1")
      .withColumnRenamed("l2", "i2").withColumnRenamed("l3", "i3")
      .drop("id")
    // current df per key this batch touches: bucket-pruned sidecar
    // read + a batch-sized sum across generations
    val hot = s.table(table + "_df")
      .join(bb.select(col("bkey")).distinct(), Seq("bkey"))
      .groupBy(col("bkey")).agg(sum(col("df")).as("df_now"))
      .filter(col("df_now") > lo.dfCap)
      .select(col("bkey"), lit(true).as("hot"))
    val probes = bb.join(hot, Seq("bkey"), "left")
      .filter(col("bidx") === lo.idBidx || col("hot").isNull)
      .select(col("bkey"), col("bidx"),
        col("i0"), col("i1"), col("i2"), col("i3"))
    val snap = s.table(table)
      .select(col("bkey"), col("id").as("snap_id"),
        col("l0"), col("l1"), col("l2"), col("l3"))
    val hd = (0 until 4)
      .map(l => bit_count(col(s"i$l").bitwiseXOR(col(s"l$l"))))
      .reduce(_ + _)
    val verified = probes.join(snap, Seq("bkey"))
      .withColumn("hd", hd)
      .filter(when(col("bidx") === lo.idBidx, col("hd") === 0)
        .otherwise(col("hd") <= lo.hdMax))
    val verdicts = verified
      .groupBy(col("i0"), col("i1"), col("i2"), col("i3"))
      .agg(countDistinct(col("snap_id")).as("n_matches"),
        min(col("snap_id")).as("first_match"),
        min(col("hd")).as("min_hd"))
    batch.select(col("id") +: laneCols: _*)
      .join(verdicts
          .withColumnRenamed("i0", "l0").withColumnRenamed("i1", "l1")
          .withColumnRenamed("i2", "l2").withColumnRenamed("i3", "l3"),
        Seq("l0", "l1", "l2", "l3"), "left")
      .select(col("id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("first_match"), lit(-1L)).as("first_match"),
        coalesce(col("min_hd"), lit(-1)).as("min_hd"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("admitted"))
  }

  /** Layout audit — the band-index lifecycle shape: appends grow the
    * fixed bucket set, so rows/bucket walking past 2× the sizing
    * target flags the next snapshot cut for a re-bucketing [[build]].
    * Joins [[IndexCatalog]] as kind `phash`. */
  def layoutAudit(s: SparkSession, table: String,
      targetRowsPerBucket: Long = 1L << 18): DataFrame = {
    val deployed = bucketCountOf(s, table)
    s.table(table).agg(count(lit(1)).as("n_fp_rows"))
      .select(col("n_fp_rows"), lit(deployed.toLong).as("buckets"),
        expr(s"n_fp_rows div ${deployed.toLong}L").as("rows_per_bucket"),
        lit(targetRowsPerBucket).as("target_rows_per_bucket"),
        (col("n_fp_rows") > lit(2L * targetRowsPerBucket) * deployed)
          .as("rebucket_due"))
  }
}
