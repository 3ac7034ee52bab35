package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** PRODUCTION-WIDTH perceptual-hash banding — the layout the narrow
  * (63-bit / 16-bit-block) image pipeline's own header promised and
  * round 15's ScaleTrend proved necessary: with 16-bit blocks of a
  * 63-bit hash, within-bucket candidate pairs grow ~n²/65k and the
  * measured ×4 wall exponent hit 1.64-1.69 (PLANS.md r15). This
  * operator is the wide form: a 252-bit dHash over a 16×16 cell grid
  * ([[graft.functions.ImageOps.dHashWide]], four 63-bit lanes), split
  * into **12 blocks of 21 bits**, with a **distinct-fingerprint df cap
  * on block buckets** (the q214 stop-hash discipline — a block value
  * shared by more than [[DfCap]] distinct fingerprints matches
  * everything and identifies nothing, so its bucket is dropped and the
  * recall price is MEASURED, q216).
  *
  * Why the candidate volume is linear now: banding runs over DISTINCT
  * fingerprints only (D of them), each contributes 12 block rows, and
  * a kept bucket holds ≤ [[DfCap]] rows — so candidate pairs ≤
  * Σ_buckets df² ≤ DfCap · 12 · D, LINEAR in distinct fingerprints
  * regardless of corpus skew. That bound is also what makes the
  * post-verify `dropDuplicates` affordable (the narrow pipeline needed
  * a first-matching-block rule to avoid a distinct on a potentially
  * quadratic relation; here the capped relation cannot be quadratic).
  *
  * Pigeonhole: hd ≤ 11 over 252 bits with 12 blocks guarantees at
  * least one block matches exactly — the equi-join misses nothing the
  * cap didn't deliberately drop. Identical fingerprints (hd = 0) never
  * ride the banding at all: they pair inside their fingerprint GROUP
  * (one groupBy on the four lanes), so even an all-hot fingerprint
  * keeps its exact duplicates.
  *
  * Reference scope: the reference processes every submitted image
  * unconditionally (`src/workers/ocr_worker.py:118-190`) — this is
  * curation-front machinery it has in no form, sized for the 1e9+
  * image corpora a multimodal build actually dedups.
  */
object WidePhash {

  /** 16×16 cell grid → 252 comparisons in 4 lanes of 63 bits. */
  val Grid = 16
  val Lanes = 4
  val LaneBits = 63
  /** 12 blocks × 21 bits: block b covers bits 21·(b%3)..21·(b%3)+20 of
    * lane b/3. 21-bit buckets (2M values) keep block entropy high; the
    * df cap below is what bounds the degenerate ones (the all-flat
    * gradient block every near-white image shares). */
  val Blocks = 12
  val BlockBits = 21
  val BlockMask: Long = (1L << BlockBits) - 1
  /** hd ≤ 11 is the pigeonhole-exact threshold for 12 blocks; on the
    * 252-bit hash that is ~4.4% of bits — the same relative radius as
    * the narrow gate's 3/63. */
  val HdMax = 11
  /** Measured at sf0.01 (round 16, /tmp cap sweep): cap 32 recovers
    * 7540 bp of planted ~2%-noise degradations vs 7620 uncapped-ish
    * (cap 64 identical — no bucket sits in (32, 64]) and 6100 at cap
    * 16; candidates stay ≤ 12·32·D. q216 pins the trade in integers. */
  val DfCap = 32

  /** Block b of a 4-lane wide hash — the ONE split definition shared
    * by the batch queries, the streaming gate, and the snapshot index
    * (a drifted copy of these constants is how banding silently stops
    * matching its own state). */
  def block(lanes: Array[Long], b: Int): Long =
    (lanes(b / 3) >>> (BlockBits * (b % 3))) & BlockMask

  /** Hamming distance between two 4-lane wide hashes. */
  def hd(a: Array[Long], b: Array[Long]): Int = {
    var d = 0
    var i = 0
    while (i < Lanes) {
      d += java.lang.Long.bitCount(a(i) ^ b(i))
      i += 1
    }
    d
  }

  private def laneCols(prefix: String) =
    (0 until Lanes).map(l => col(s"$prefix$l"))

  /** Column form of [[block]] over lane columns `l0..l3` (integer
    * div/mod so the DuckDB oracle mirrors it literally). */
  private def blockExpr(b: Int): org.apache.spark.sql.Column = {
    val lane = s"l${b / 3}"
    b % 3 match {
      case 0 => expr(s"$lane % ${BlockMask + 1}")
      case 1 => expr(s"($lane div ${BlockMask + 1}) % ${BlockMask + 1}")
      case _ => expr(s"$lane div ${(BlockMask + 1) * (BlockMask + 1)}")
    }
  }

  private def hdExpr = (0 until Lanes)
    .map(l => bit_count(col(s"l${l}a").bitwiseXOR(col(s"l${l}b"))))
    .reduce(_ + _)

  /** Distinct-fingerprint frame of `sig` (`id`, `l0..l3`): one row per
    * distinct wide hash with its min-id representative and group
    * size. */
  def distinctHashes(sig: DataFrame): DataFrame =
    sig.groupBy(laneCols("l"): _*)
      .agg(min(col("id")).as("rep"), count(lit(1)).as("grp_n"))

  /** Cross-fingerprint near-dup pairs at REPRESENTATIVE level:
    * `dh` (rep, l0..l3) → (rep_a, rep_b, hd, l0a..l3a, l0b..l3b) with
    * rep_a < rep_b and 1 ≤ hd ≤ [[HdMax]]. Plan: explode 12 block
    * rows per distinct hash → bucket df → drop buckets over `dfCap` →
    * equi-join on (bidx, bval) → XOR+popcount verify → dropDuplicates
    * on the (provably ≤ 12·dfCap·D-row) verified relation. */
  def repPairs(dh: DataFrame, dfCap: Int = DfCap): DataFrame = {
    val bl = dh.select(
      (col("rep") +: laneCols("l")) :+
        posexplode(array((0 until Blocks).map(blockExpr): _*))
          .as(Seq("bidx", "bval")): _*)
    val dfc = bl.groupBy(col("bidx"), col("bval"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select(col("bidx"), col("bval"))
    val kept = bl.join(dfc, Seq("bidx", "bval"))
    val x = kept.select(
      col("bidx") +: col("bval") +: col("rep").as("rep_a") +:
        (0 until Lanes).map(l => col(s"l$l").as(s"l${l}a")): _*)
    val y = kept.select(
      col("bidx") +: col("bval") +: col("rep").as("rep_b") +:
        (0 until Lanes).map(l => col(s"l$l").as(s"l${l}b")): _*)
    x.join(y, Seq("bidx", "bval"))
      .filter(col("rep_a") < col("rep_b"))
      .withColumn("hd", hdExpr)
      .filter(col("hd") <= HdMax)
      .dropDuplicates("rep_a", "rep_b")
      .drop("bidx", "bval")
  }

  // Both entry points below take `sig` through Materialize.once (the
  // minLabel-edges pattern): [[pairs]]/[[clusterLabels]] reference it
  // through many join/aggregate subtrees whose exchanges never unify
  // (measured: q207's uncheckpointed plan re-ran the scan + codec-UDF
  // subtree 12×, zero reused exchanges), and the production analog IS
  // a materialized fingerprint table (PerceptualDedupIndex) — 5 longs
  // per doc, executor-local.

  /** Member-level verified pairs of `sig` (`id`, `l0..l3`):
    * (id_a, id_b, hd) with id_a < id_b — identical-fingerprint pairs
    * (hd = 0, paired inside their lane-group, which bypasses the cap)
    * plus the [[repPairs]] relation expanded to members. The pair LIST
    * is the audit form and is output-bound quadratic in exact-dup
    * group size; cluster construction ([[clusterLabels]]) never
    * expands those groups. */
  def pairs(sigIn: DataFrame, dfCap: Int = DfCap): DataFrame = {
    val sig = Materialize.once("WidePhash.pairs", sigIn)
    val dh = distinctHashes(sig)
    val members = sig.join(
      dh.select(laneCols("l") :+ col("rep"): _*), (0 until Lanes).map(l => s"l$l"))
    val clique = members.select(col("rep"), col("id").as("id_a"))
      .join(members.select(col("rep"), col("id").as("id_b")), Seq("rep"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hd"))
    val cross = repPairs(dh, dfCap)
    val ma = members.select(col("rep").as("rep_a"), col("id").as("ma"))
    val mb = members.select(col("rep").as("rep_b"), col("id").as("mb"))
    val crossMembers = cross.select(col("rep_a"), col("rep_b"), col("hd"))
      .join(ma, Seq("rep_a")).join(mb, Seq("rep_b"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("hd"))
    clique.union(crossMembers)
  }

  /** (node, label) connected-component membership of the verified-pair
    * graph over `sig` (`id`, `l0..l3`), clique-free: STAR edges within
    * each identical-fingerprint group (1 edge/member) plus rep-level
    * cross edges, labeled by min-label propagation — components equal
    * [[pairs]]'s graph's because stars connect within groups and a
    * member cross pair exists iff its representative pair does. */
  def clusterLabels(sigIn: DataFrame, dfCap: Int = DfCap): DataFrame = {
    val sig = Materialize.once("WidePhash.clusterLabels", sigIn)
    val dh = distinctHashes(sig)
    val members = sig.join(
      dh.select(laneCols("l") :+ col("rep"): _*), (0 until Lanes).map(l => s"l$l"))
    val stars = members.filter(col("id") =!= col("rep"))
      .select(col("id").as("src"), col("rep").as("dst"))
    val cross = repPairs(dh, dfCap)
      .select(col("rep_a").as("src"), col("rep_b").as("dst"))
    val half = stars.union(cross)
    val edges = half.union(
      half.select(col("dst").as("src"), col("src").as("dst")))
    val (labels, _) = ConnectedComponents.minLabel(edges)
    labels
  }
}
