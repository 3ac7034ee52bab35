package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.BucketedIndexMaintenance.withBucketedScan
import graft.queries.RetrievalQueries

/** The PRODUCTION shape of q188's fuzzy "did you mean" matching: the
  * SymSpell deletion-neighborhood dictionary (Garbe's indexing — the
  * only per-word state a distance ≤ 2 suggester needs) MATERIALIZED as
  * two vocabulary-sized tables:
  *
  *   - `<t>_vocab` (w, df): per-build/append APPEND-ONLY document-
  *     frequency slices, bucketed+sorted by w. Docs partition across
  *     slices, so per-slice df contributions SUM exactly to the corpus
  *     df — readers aggregate by w (exchange-free under the bucketing)
  *     and [[append]] never read-modifies state (the InvertedTextIndex
  *     meta-table contract applied to the dictionary).
  *   - `<t>_keys` (k, w): the GUARDED d≤2 deletion-neighborhood pairs
  *     {w} ∪ del₁(w) ∪ (len ≥ MinD2Len: del₂(w)) —
  *     [[RetrievalQueries.delKeys2Expr]], one generator shared with
  *     q192's measured-recall oracle — bucketed+sorted by k, so a
  *     probe batch prunes to its own key lists. [[append]] emits key
  *     pairs only for words NEW to the dictionary (anti-join against
  *     the indexed vocabulary), so `_keys` growth tracks real
  *     vocabulary growth and [[layoutAudit]]'s rebucket trigger never
  *     inflates on refresh churn.
  *
  * Explosion guards, ENFORCED in code (q192 measures their cost):
  * distance-2 keys exist only for strings of length ≥
  * [[RetrievalQueries.MinD2Len]] (no generated key below 2 chars, on
  * both the vocabulary and the probe side), and probes shorter than
  * [[RetrievalQueries.MinProbeLen]] are served EXACT-ONLY — a 1-char
  * probe can never fan into a vocabulary-sized candidate set.
  *
  * At 100 TB both tables are VOCABULARY-sized (Heaps-law sublinear in
  * the corpus), the probes collect once (workload-bounded, the
  * InvertedTextIndex serving-seam contract) to drive key-bucket
  * pruning, and the one corpus-sized job is [[build]]/[[append]]'s
  * word-df aggregation — one token shuffle with map-side combine.
  * FuzzyVocabIndexSpec pins result parity with q188 (maxDist = 1) and
  * with q192's d = 2 verdicts, append ≡ rebuild, the pruned key scan,
  * and the short-probe guard. */
object FuzzyVocabIndex {

  private def vocabTable(table: String): String = table + "_vocab"

  private def keysTable(table: String): String = table + "_keys"

  /** Deletion-key rows stay small (two short strings); reuse the
    * ≤ ~2²⁰-rows-per-bucket sizing rule on the key count Σ(len(w)+1). */
  private def bucketsFor(nRows: Long): Int = {
    val target = (nRows + (1L << 20) - 1) >> 20
    math.max(8, Integer.highestOneBit(math.max(1, target - 1).toInt) * 2)
  }

  private def bucketCountOf(s: SparkSession, table: String): Int =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(
        s"$table is not a bucketed index table"))

  /** (w, df): the slice's word → containing-doc count. */
  private def vocabRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))

  private def keyRows(vocab: DataFrame): DataFrame =
    vocab.select(col("w"),
      explode(expr(RetrievalQueries.delKeys2Expr("w"))).as("k"))

  /** Build the dictionary from a corpus (`doc_id`, `text`). One sizing
    * aggregate (vocab count + key count), then the two table writes —
    * the key table derives from the WRITTEN vocab table, so the corpus
    * is tokenized twice, never three times. */
  def build(docs: DataFrame, table: String, buckets: Int = 0): Unit = {
    val s = docs.sparkSession
    val vocab = vocabRows(docs)
    // key-count sizing: 1 identity + len d1 keys + (len ≥ MinD2Len)
    // len·(len−1)/2 d2 keys per word — the d≤2 neighborhood's size
    val sizes = vocab
      .agg(count(lit(1)).as("n_vocab"),
        sum(lit(1L) + length(col("w")).cast("long") +
          when(length(col("w")) >= RetrievalQueries.MinD2Len,
            expr("cast(length(w) as bigint) * " +
              "(cast(length(w) as bigint) - 1L) div 2L")).otherwise(0L))
          .as("n_keys"))
      .collect().head
    val vb =
      if (buckets > 0) buckets else bucketsFor(sizes.getAs[Long]("n_vocab"))
    val kb =
      if (buckets > 0) buckets else bucketsFor(sizes.getAs[Long]("n_keys"))
    vocab.withColumn("batch_id", lit(InvertedTextIndex.BaseBatchId))
      .write.bucketBy(vb, "w").sortBy("w")
      .mode("overwrite").saveAsTable(vocabTable(table))
    keyRows(s.table(vocabTable(table)).select(col("w")))
      .withColumn("batch_id", lit(InvertedTextIndex.BaseBatchId))
      .write.bucketBy(kb, "k").sortBy("k")
      .mode("overwrite").saveAsTable(keysTable(table))
  }

  /** Advance the dictionary WITHOUT a rebuild: the slice's (w, df)
    * rows append into `_vocab` (readers SUM by w) and the deletion
    * pairs of words NEW to the dictionary into `_keys` — an anti-join
    * against the already-indexed vocabulary, so a word re-observed by
    * every refresh cycle contributes its neighborhood exactly once and
    * `_keys` (and [[layoutAudit]]'s rebucket trigger) grows with real
    * vocabulary growth, not churn. Same admitted-docs contract as
    * [[InvertedTextIndex.append]]: only docs new to the index, so
    * slice dfs add to exact corpus dfs.
    *
    * `batchId`/`skipExisting` are [[InvertedTextIndex.append]]'s
    * idempotent-replay contract (rows stamped with their batch's
    * provenance; `skipExisting = true` footer-probes each table and
    * re-appends only what a crash left behind) — what lets
    * [[graft.streaming.StreamingIndexFreshness]] advance the fuzzy
    * dictionary in the same exactly-once-served cut as the text/ANN
    * indexes. */
  def append(admittedDocs: DataFrame, table: String,
      batchId: Long = InvertedTextIndex.BaseBatchId,
      skipExisting: Boolean = false): Unit = {
    val s = admittedDocs.sparkSession
    val vocab = vocabRows(admittedDocs)
    def need(t: String): Boolean =
      !skipExisting || !InvertedTextIndex.hasBatch(s, t, batchId)
    // the keys write runs FIRST: its anti-join must see the
    // PRE-append vocabulary (written after, the lazy scan would
    // anti-join the slice against itself and emit nothing). A batch
    // with no new words appends zero key rows — its replay probe then
    // re-runs this empty append, which is harmless by construction.
    if (need(keysTable(table))) {
      val newWords = vocab.join(
        s.table(vocabTable(table)).select(col("w")).distinct(),
        Seq("w"), "left_anti")
      keyRows(newWords)
        .withColumn("batch_id", lit(batchId))
        .write.bucketBy(bucketCountOf(s, keysTable(table)), "k")
        .sortBy("k").mode("append").saveAsTable(keysTable(table))
    }
    if (need(vocabTable(table)))
      vocab.withColumn("batch_id", lit(batchId))
        .write.bucketBy(bucketCountOf(s, vocabTable(table)), "w")
        .sortBy("w").mode("append").saveAsTable(vocabTable(table))
  }

  /** Layout audit — rows-per-bucket vs the sizing target on the key
    * table (the one that grows a deletion neighborhood per new word),
    * `rebucket_due` at 2× — the lifecycle trigger every graft index
    * carries. */
  def layoutAudit(s: SparkSession, table: String,
      targetRowsPerBucket: Long = 1L << 20): DataFrame = {
    val deployed = bucketCountOf(s, keysTable(table))
    s.table(keysTable(table)).agg(count(lit(1)).as("n_keys"))
      .select(col("n_keys"), lit(deployed.toLong).as("buckets"),
        expr(s"n_keys div ${deployed.toLong}L").as("rows_per_bucket"),
        lit(targetRowsPerBucket).as("target_rows_per_bucket"),
        (col("n_keys") > lit(2L * targetRowsPerBucket) * deployed)
          .as("rebucket_due"))
  }

  /** Fuzzy-match a probe batch (`q_doc`, `probe`) against the
    * dictionary — q188's frame (q_doc, probe, n_matches, best_word,
    * best_df, best_dist), row-for-row identical on q188's workload at
    * the default `maxDist = 1`, and verdict-for-verdict q192's d = 2
    * math at `maxDist = 2` (FuzzyVocabIndexSpec pins both). Two
    * driver-side steps, both workload- or match-bounded: the probes'
    * deletion keys (they prune the key-table scan) and the key-join
    * survivors (the candidate pairs the exact-distance verify runs on
    * — they prune the vocab scan, whose df aggregation is then
    * exchange-free under the w bucketing).
    *
    * Guards, enforced here (not upstream prose): probe-side d2 keys
    * only for probes of length ≥ [[RetrievalQueries.MinD2Len]] (the
    * [[RetrievalQueries.delKeys2Expr]] floor), and probes shorter than
    * [[RetrievalQueries.MinProbeLen]] are verified at distance 0 —
    * EXACT-ONLY — so a degenerate 1-char probe cannot fan into a
    * vocabulary-sized candidate set. Each probe's distance cap rides
    * the collected probe rows, so one batch may mix lengths freely.
    * The best-pick window partitions by (q_doc, probe) — a q_doc
    * submitting several probes gets each probe's own best suggestion
    * (q188's one-probe-per-doc workload is the special case). */
  def search(probes: DataFrame, table: String, maxDist: Int = 1,
      maxInList: Int = 4096): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2, got $maxDist")
    val s = probes.sparkSession
    val keysExpr = if (maxDist >= 2) RetrievalQueries.delKeys2Expr("probe")
      else RetrievalQueries.delKeysExpr("probe")
    val pkPlan = probes.select(col("q_doc"), col("probe"),
      explode(expr(keysExpr)).as("k"))
    val (pkLocal, pkRows) = withBucketedScan(s)(Materialize.localRows(
      "FuzzyVocabIndex.probeKeys", pkPlan))
    val keyList = pkRows.map(_.getAs[String]("k")).distinct
    val matchedKeys =
      if (keyList.size <= maxInList)
        s.table(keysTable(table)).filter(col("k").isin(keyList: _*))
      else s.table(keysTable(table))
        .join(broadcast(pkLocal.select(col("k")).distinct()), Seq("k"),
          "left_semi")
    val candPlan = matchedKeys.join(broadcast(pkLocal), "k")
      .select(col("q_doc"), col("probe"), col("w")).distinct()
    val (candLocal, candRows) = withBucketedScan(s)(Materialize.localRows(
      "FuzzyVocabIndex.candidates", candPlan))
    val candWords = candRows.map(_.getAs[String]("w")).distinct
    val prunedVocab =
      if (candWords.size <= maxInList)
        s.table(vocabTable(table)).filter(col("w").isin(candWords: _*))
      else s.table(vocabTable(table))
        .join(broadcast(candLocal.select(col("w")).distinct()), Seq("w"),
          "left_semi")
    // per-word df = SUM over the append slices' contributions
    val dfw = prunedVocab.groupBy(col("w")).agg(sum(col("df")).as("df"))
    val cand = candLocal.join(dfw, "w")
      .withColumn("dist", levenshtein(col("probe"), col("w")).cast("long"))
      // the enforced minimum-probe-length rule: short probes verify at
      // distance 0 (exact-only), everything else at the caller's cap
      .filter(col("dist") <= when(
        length(col("probe")) < RetrievalQueries.MinProbeLen, 0L)
        .otherwise(lit(maxDist.toLong)))
    val bw = Window.partitionBy(col("q_doc"), col("probe"))
      .orderBy(col("df").desc, col("w").asc)
    cand.withColumn("brn", row_number().over(bw))
      .groupBy(col("q_doc"), col("probe"))
      .agg(count(lit(1)).as("n_matches"),
        max(when(col("brn") === 1, col("w"))).as("best_word"),
        max(when(col("brn") === 1, col("df"))).as("best_df"),
        max(when(col("brn") === 1, col("dist"))).as("best_dist"))
  }
}
