package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Data-SELECTION operators — the model-based curation stage a
  * pretraining pipeline runs AFTER the rule/dedup funnel exists:
  * a trained quality classifier (the GPT-3 WebText-classifier /
  * CCNet-classifier role) and DSIR hashed-n-gram importance
  * resampling (Xie et al. 2023), plus the per-source agreement audit
  * an operator reads before trusting any single selector. Both
  * selectors are trained ENTIRELY in-engine (the q193 ridge-fit
  * discipline): no external model artifact, every number integer-
  * exact and oracle-checked.
  *
  * Why these labels/targets: this corpus's sources all draw from the
  * same 31-word unigram distribution (measured — a token-IDENTITY
  * classifier separating `source` is informationless here, ~base-rate
  * accuracy), but document SHAPE varies, and the q149 rule bundle
  * keys on it. So the supervision is the rule verdict itself — weak
  * labels, exactly how production quality classifiers bootstrap — and
  * the classifier's evidence is BIGRAM identity, which the rules
  * never look at. Whatever the holdout recovers is genuine
  * generalization from disjoint evidence (repetition failures leave
  * self-pair bigrams; length/diversity failures shift the bigram
  * profile), not a re-evaluation of the rules: measured 68% holdout
  * agreement vs the 50% base rate at sf0.01 (98% train — the overfit
  * gap is reported, not hidden, via the `split` column).
  *
  * Integer-exact scoring (the q113/q124/q161 rule — no log/exp libm
  * parity traps): surprisal in HALF-BIT units via
  * `length(bin(x * x))` where x = (tot + V) div (c + 1) — the integer
  * ⌊2·log2⌋ of the inverse add-one-smoothed probability. Squaring
  * doubles the resolution of the q161 whole-bit scheme; x ≤ tot + V
  * stays far below 2^31 at any realistic slice, so x² never
  * overflows LONG.
  *
  * Reference anchor: the reference preprocesses media, not corpora —
  * this family is the text-curation surface SURVEY §6 adds for the
  * 100 TB training-data mission (same bucket as q149/q161/q166).
  *
  * Oracle composition: every CTE name in this family is globally
  * unique, so q202's oracle is the plain concatenation of the q200 and
  * q201 chains (no renaming pass) — change a chain here and all three
  * oracles move in lockstep.
  */
object SelectionQueries {
  import TextQueries.{q149, q149Sql, wordsExpr, wordsSqlExpr}

  /** Rule labels + the deterministic md5 train/holdout split (the q193
    * convention: md5(doc_id) first byte ≤ 0x7f → train, ~50%). */
  private def labels(s: SparkSession, d: String): DataFrame =
    q149(s, d).select(col("doc_id"), col("keep").as("label"),
      (substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
        <= "7f").as("is_train"))

  /** The rule-label frame materialized ONCE per query invocation (the
    * postingsM/WidePhash rule, r18): every query in this family
    * references it 2-4 times — the classifier's model and scoring
    * branches, the DSIR branches, and the funnel rollups' direct label
    * join — and each reference re-executed the whole q149 word-stat
    * chain (q204's plan carried 56 scan/exchange-reuse nodes). The
    * frame is DOC-level (one row per doc_id — never the token stream,
    * which stays a per-consumer derivation exactly because at 100 TB
    * only doc-level verdicts are materializable; that is also what
    * [[graft.operators.SelectionModelIndex]] persists). Construction
    * runs the checkpoint's jobs, tagged by `Materialize.once`. */
  private def labelsM(s: SparkSession, d: String): DataFrame =
    Materialize.once("SelectionQueries.labels", labels(s, d))

  private val labelsSql =
    s"""qual AS ($q149Sql),
       |lab AS (
       |  SELECT doc_id, keep AS label,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '7f' AS is_train
       |  FROM qual)""".stripMargin

  /** The labeled bigram stream both selectors consume: documents join
    * the doc-level label frame FIRST (one doc_id-keyed shuffle of
    * doc-level rows — the label join happens before the explode so the
    * corpus-×-length token stream itself never shuffles), then each
    * doc fans out to its 60-bit md5 bigram hashes (the q113 rule: the
    * key is never the string). Docs under 2 tokens have no bigrams and
    * are absent from every output of this family, identically on both
    * engines. */
  private def labeledBigrams(s: SparkSession, d: String,
      lab: DataFrame): DataFrame = {
    graft.expressions.NgramMd5Longs.register(s)
    Tables.documents(s, d)
      .join(lab, "doc_id")
      .withColumn("w", expr(wordsExpr))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("source"), col("label"), col("is_train"),
        explode(expr("ngram_md5_longs(w, 2, 15)")).as("h"))
  }

  private val bigramsSql =
    s"""seldocs AS (
       |  SELECT doc_id, source, $wordsSqlExpr AS w FROM documents
       |  WHERE len($wordsSqlExpr) >= 2),
       |bgr AS (
       |  SELECT d.doc_id, d.source, l.label, l.is_train,
       |    CAST(('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 15))
       |      AS BIGINT) AS h
       |  FROM (SELECT doc_id, source, w, unnest(range(1, len(w))) AS i
       |        FROM seldocs) d
       |  JOIN lab l USING (doc_id))""".stripMargin

  /** The classifier chain (train + score), ending at per-doc scores. */
  private val clfChainSql =
    """nbmodel AS (
      |  SELECT h, CAST(sum(CAST(label AS BIGINT)) AS BIGINT) AS c_pos,
      |    CAST(sum(CAST(NOT label AS BIGINT)) AS BIGINT) AS c_neg
      |  FROM bgr WHERE is_train GROUP BY 1),
      |nbtot AS (
      |  SELECT CAST(sum(c_pos) AS BIGINT) AS tot_pos,
      |    CAST(sum(c_neg) AS BIGINT) AS tot_neg,
      |    CAST(count(*) AS BIGINT) AS v
      |  FROM nbmodel),
      |nbsc AS (
      |  SELECT t.doc_id, t.label, t.is_train,
      |    CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(length(bin(
      |      ((tot_pos + v) // (coalesce(m.c_pos, 0) + 1)) *
      |      ((tot_pos + v) // (coalesce(m.c_pos, 0) + 1))))) AS BIGINT)
      |      AS bits_pos,
      |    CAST(sum(length(bin(
      |      ((tot_neg + v) // (coalesce(m.c_neg, 0) + 1)) *
      |      ((tot_neg + v) // (coalesce(m.c_neg, 0) + 1))))) AS BIGINT)
      |      AS bits_neg
      |  FROM bgr t LEFT JOIN nbmodel m ON t.h = m.h, nbtot
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** The DSIR chain, ending at per-doc importance weights. */
  private val dsirChainSql =
    """bct AS (
      |  SELECT h % 1024 AS b, CAST(count(*) AS BIGINT) AS c_r,
      |    CAST(sum(CAST(label AS BIGINT)) AS BIGINT) AS c_t
      |  FROM bgr GROUP BY 1),
      |btot AS (
      |  SELECT CAST(sum(c_r) AS BIGINT) AS tot_r,
      |    CAST(sum(c_t) AS BIGINT) AS tot_t
      |  FROM bct),
      |imp AS (
      |  SELECT f.doc_id, f.source, f.label,
      |    CAST(count(*) AS BIGINT) AS n_feats,
      |    CAST(sum(
      |      length(bin(((tot_r + 1024) // (c.c_r + 1)) *
      |        ((tot_r + 1024) // (c.c_r + 1))))
      |      - length(bin(((tot_t + 1024) // (c.c_t + 1)) *
      |        ((tot_t + 1024) // (c.c_t + 1))))) AS BIGINT) AS w_hbits
      |  FROM bgr f JOIN bct c ON f.h % 1024 = c.b, btot
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** q200: multinomial Naive Bayes quality classifier, trained and
    * applied in one declarative plan. Train split: per-class bigram
    * counts (c_pos, c_neg per hash — ONE vocab-sized aggregation
    * serving both classes) with add-one smoothing over the shared
    * bigram vocabulary V; class totals and V ride as a 1-row broadcast
    * scalar. Priors are omitted: the md5 split is label-agnostic, so
    * train priors sit at the corpus's ~50/50 base rate and a ≤1
    * half-bit prior term is noise against per-doc scores of hundreds
    * of half-bits. Every doc (train AND holdout, so the overfit gap is
    * visible) is scored under both class models; pred = the
    * lower-total-surprisal class, ties → keep (deterministic).
    *
    * Scale shape: the model is bigram-vocabulary-sized — Heaps-law
    * sublinear, a bounded artifact like q161's LM — so it joins
    * BROADCAST onto the scoring stream. At open-vocabulary scale the
    * hashes would fold into fixed buckets exactly as q201 does (the
    * DSIR paper's construction); this query keeps full 60-bit hashes
    * because the measured exhibit wants per-bigram resolution. Two
    * corpus-sized exchanges total: the label join's doc_id shuffle
    * (doc-level rows) and the per-doc score groupBy, whose map-side
    * partials collapse each doc's fanout before the exchange (explode
    * and score happen within the partition).
    *
    * Honest cost note: train + apply in ONE declarative plan means the
    * label chain (q149's word-stat shuffle + doc join) is re-derived
    * by each consumer — the model branch and the scoring branch get
    * separate subtrees (their column pruning differs, so ReuseExchange
    * cannot unify them; the q185 INLINE-vs-SERVED trade). The filter
    * keeps the model branch's aggregation input to the train half. A
    * production run materializes labels once and feeds both (the q173
    * delta-index pattern); the in-plan form is what the oracle can
    * check end-to-end. */
  // standalone q200/q201 keep the in-plan label chain: with only two
  // references the checkpoint job costs what the second reference
  // saved (measured r18); the composers (q202-q205, 3-4 references)
  // pass labelsM
  private def q200(s: SparkSession, d: String): DataFrame =
    q200From(s, d, labels(s, d))

  private def q200From(s: SparkSession, d: String, lab: DataFrame)
      : DataFrame = {
    val lb = labeledBigrams(s, d, lab)
    val model = lb.filter(col("is_train"))
      .groupBy(col("h"))
      .agg(sum(col("label").cast("long")).as("c_pos"),
        sum(not(col("label")).cast("long")).as("c_neg"))
    val tots = model.agg(sum(col("c_pos")).as("tot_pos"),
      sum(col("c_neg")).as("tot_neg"), count(lit(1)).as("v"))
    lb.join(broadcast(model), Seq("h"), "left")
      .crossJoin(broadcast(tots))
      .withColumn("cp", coalesce(col("c_pos"), lit(0L)))
      .withColumn("cn", coalesce(col("c_neg"), lit(0L)))
      .groupBy(col("doc_id"), col("label"), col("is_train"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("length(bin(((tot_pos + v) div (cp + 1)) * " +
          "((tot_pos + v) div (cp + 1))))").cast("long")).as("bits_pos"),
        sum(expr("length(bin(((tot_neg + v) div (cn + 1)) * " +
          "((tot_neg + v) div (cn + 1))))").cast("long")).as("bits_neg"))
      .select(col("doc_id"),
        when(col("is_train"), "train").otherwise("holdout").as("split"),
        col("label"), col("n_bigrams"), col("bits_pos"), col("bits_neg"),
        (col("bits_pos") <= col("bits_neg")).as("pred"),
        ((col("bits_pos") <= col("bits_neg")) === col("label")).as("agree"))
  }

  private val q200Sql =
    s"""WITH $labelsSql,
       |$bigramsSql,
       |$clfChainSql
       |SELECT doc_id,
       |  CASE WHEN is_train THEN 'train' ELSE 'holdout' END AS split,
       |  label, n_bigrams, bits_pos, bits_neg,
       |  bits_pos <= bits_neg AS pred,
       |  (bits_pos <= bits_neg) = label AS agree
       |FROM nbsc""".stripMargin

  /** q201: DSIR hashed-n-gram importance resampling (Xie et al. 2023)
    * toward the rule-clean target slice. Features are bigram hashes
    * folded into B = 1024 fixed buckets — the construction that makes
    * DSIR open-vocabulary-safe: the model is EXACTLY B rows no matter
    * the corpus, so it broadcasts at any scale (no Heaps-law caveat at
    * all, unlike q200's full-resolution model). Per-doc importance =
    * Σ_features [log p̂_target(f) − log p̂_raw(f)] in half-bit units
    * (bits under the raw model minus bits under the target model, both
    * add-one smoothed over the B buckets); `selected` = importance
    * ≥ 0 — the paper's importance-ratio-≥-1 criterion, no arbitrary
    * calibration constant. Target and raw bucket counts come from ONE
    * aggregation over the labeled stream (c_t = Σ label, c_r = all),
    * and every bucket in the stream exists in that frame by
    * construction, so the score join is inner with no smoothing
    * coalesce.
    *
    * Unlike q200 this is NOT train/holdout-split — DSIR is an
    * estimator, not a fitted discriminator; its exhibit is selection
    * ENRICHMENT, measured per source in q202 (85% of selected docs are
    * rule-clean vs the 48% base rate at sf0.01).
    *
    * Scale shape: label join (doc-level doc_id shuffle) → explode →
    * one 1024-row aggregation (map-side partials collapse to ≤1024
    * rows per partition before the exchange) → broadcast back onto the
    * stream → per-doc groupBy. Nothing vocabulary-sized survives. */
  private def q201(s: SparkSession, d: String): DataFrame =
    q201From(s, d, labels(s, d))

  private def q201From(s: SparkSession, d: String, lab: DataFrame)
      : DataFrame = {
    val feats = labeledBigrams(s, d, lab)
      .withColumn("b", col("h") % lit(1024L))
    val counts = feats.groupBy(col("b"))
      .agg(count(lit(1)).as("c_r"), sum(col("label").cast("long")).as("c_t"))
    val tots = counts.agg(sum(col("c_r")).as("tot_r"),
      sum(col("c_t")).as("tot_t"))
    feats.join(broadcast(counts), Seq("b"))
      .crossJoin(broadcast(tots))
      .groupBy(col("doc_id"), col("source"), col("label"))
      .agg(count(lit(1)).as("n_feats"),
        sum(expr("length(bin(((tot_r + 1024) div (c_r + 1)) * " +
          "((tot_r + 1024) div (c_r + 1))))").cast("long") -
          expr("length(bin(((tot_t + 1024) div (c_t + 1)) * " +
            "((tot_t + 1024) div (c_t + 1))))").cast("long")).as("w_hbits"))
      .select(col("doc_id"), col("source"), col("label"), col("n_feats"),
        col("w_hbits"), (col("w_hbits") >= 0L).as("selected"))
  }

  private val q201Sql =
    s"""WITH $labelsSql,
       |$bigramsSql,
       |$dsirChainSql
       |SELECT doc_id, source, label, n_feats, w_hbits,
       |  w_hbits >= 0 AS selected
       |FROM imp""".stripMargin

  /** q202: per-source selection-method agreement audit — the table an
    * operator reads before trusting any single selector: for each
    * source, how many docs each method keeps (rules q149, classifier
    * q200, DSIR q201), how big the unanimous core is, and how big the
    * union. Real pipelines run exactly this cross-check before
    * committing a corpus cut (methods disagreeing wildly on one source
    * is the standard symptom of a selector keying on an artifact).
    * Cost: re-derives both selectors — but they SHARE the labeled
    * bigram stream, whose exchange Spark reuses across the two
    * aggregations — plus one 20-row rollup; everything heavy is the
    * two upstream shapes already audited. */
  private def q202(s: SparkSession, d: String): DataFrame = {
    val lab = labelsM(s, d)
    q201From(s, d, lab)
      .join(q200From(s, d, lab).select(col("doc_id"), col("pred")),
        "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("label").cast("long")).as("n_rules"),
        sum(col("pred").cast("long")).as("n_clf"),
        sum(col("selected").cast("long")).as("n_dsir"),
        sum((col("label") && col("pred") && col("selected")).cast("long"))
          .as("n_all"),
        sum((col("label") || col("pred") || col("selected")).cast("long"))
          .as("n_any"))
  }

  private val q202Sql =
    s"""WITH $labelsSql,
       |$bigramsSql,
       |$clfChainSql,
       |$dsirChainSql
       |SELECT i.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CAST(i.label AS BIGINT)) AS BIGINT) AS n_rules,
       |  CAST(sum(CAST(c.bits_pos <= c.bits_neg AS BIGINT)) AS BIGINT)
       |    AS n_clf,
       |  CAST(sum(CAST(i.w_hbits >= 0 AS BIGINT)) AS BIGINT) AS n_dsir,
       |  CAST(sum(CAST(i.label AND c.bits_pos <= c.bits_neg
       |    AND i.w_hbits >= 0 AS BIGINT)) AS BIGINT) AS n_all,
       |  CAST(sum(CAST(i.label OR c.bits_pos <= c.bits_neg
       |    OR i.w_hbits >= 0 AS BIGINT)) AS BIGINT) AS n_any
       |FROM imp i JOIN nbsc c USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** q203: MODEL-GATED corpus funnel — the selection stages composed
    * in pipeline order, per source: raw docs → line-rule survivors
    * (q198) → ∧ doc-level rules (q149) → ∧ classifier keep (q200's
    * pred) → ∧ DSIR selected (q201) → final docs and chars. This is
    * the other half of q199's funnel: q199 composes the DEDUP gate
    * behind the rules, this composes the MODEL gates — a real corpus
    * build runs both, and the two funnels share their first three
    * stages by construction (same q198/q149 verdicts, oracle-checked
    * in both). Docs too short to carry bigrams (none in this corpus,
    * but the contract matters) fail the model gates closed — a
    * selector that cannot score a doc does not ship it.
    *
    * Scale shape: three verdict frames join back to documents by
    * doc_id with no forced broadcast (AQE decides — the q157/q199
    * discipline), one 20-row rollup; everything heavy is the upstream
    * shapes already audited. */
  private def q203(s: SparkSession, d: String): DataFrame = {
    val lab = labelsM(s, d)
    val lineKeep = TextQueries.q198(s, d)
      .select(col("doc_id"), col("keep").as("line_keep"))
    val clf = q200From(s, d, lab).select(col("doc_id"), col("pred"))
    val dsir = q201From(s, d, lab).select(col("doc_id"), col("selected"))
    Tables.documents(s, d)
      .join(lab.select(col("doc_id"), col("label")), "doc_id")
      .join(lineKeep, "doc_id")
      .join(clf, Seq("doc_id"), "left")
      .join(dsir, Seq("doc_id"), "left")
      .withColumn("g_rules", col("line_keep") && col("label"))
      .withColumn("g_clf",
        col("g_rules") && coalesce(col("pred"), lit(false)))
      .withColumn("g_final",
        col("g_clf") && coalesce(col("selected"), lit(false)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("line_keep"), 1L).otherwise(0L)).as("n_line"),
        sum(when(col("g_rules"), 1L).otherwise(0L)).as("n_rules"),
        sum(when(col("g_clf"), 1L).otherwise(0L)).as("n_clf"),
        sum(when(col("g_final"), 1L).otherwise(0L)).as("n_final"),
        sum(when(col("g_final"), col("n_chars")).otherwise(0L))
          .as("chars_final"))
  }

  private val q203Sql =
    s"""WITH $labelsSql,
       |$bigramsSql,
       |$clfChainSql,
       |$dsirChainSql,
       |lq AS (${TextQueries.q198Sql})
       |SELECT d.source, count(*) AS n_raw,
       |  CAST(sum(CASE WHEN l.keep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_line,
       |  CAST(sum(CASE WHEN l.keep AND b.label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_rules,
       |  CAST(sum(CASE WHEN l.keep AND b.label
       |    AND coalesce(c.bits_pos <= c.bits_neg, false)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clf,
       |  CAST(sum(CASE WHEN l.keep AND b.label
       |    AND coalesce(c.bits_pos <= c.bits_neg, false)
       |    AND coalesce(i.w_hbits >= 0, false)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       |  CAST(sum(CASE WHEN l.keep AND b.label
       |    AND coalesce(c.bits_pos <= c.bits_neg, false)
       |    AND coalesce(i.w_hbits >= 0, false)
       |    THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_final
       |FROM documents d
       |JOIN lab b ON b.doc_id = d.doc_id
       |JOIN lq l ON l.doc_id = d.doc_id
       |LEFT JOIN nbsc c ON c.doc_id = d.doc_id
       |LEFT JOIN imp i ON i.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin

  /** q204: the COMPLETE corpus build in one oracle-checked query —
    * the gates composed in pipeline order, per source: raw → line
    * rules (q198) → ∧ doc rules (q149) → ∧ classifier keep (q200) →
    * ∧ DSIR selected (q201) → ∧ not a boilerplate-prefix dup (q196's
    * 5-word leading-prefix key, canonical = min doc_id) →
    * ∧ decontaminated (q166: confirmed eval overlap drops; the eval
    * source itself — src0 — never ships to training, so it zeroes at
    * this stage by definition) → final docs and chars. This is the
    * table a corpus release actually publishes, and a regression in
    * ANY upstream gate moves an integer here and fails parity.
    *
    * Why the dedup stage is the PREFIX rule and not q199's LSH-CC:
    * on this fixed-31-word synthetic corpus the MinHash bands collide
    * corpus-wide and the CC collapses to one giant component — q199's
    * own measured behavior is n_final = 1 at every scale, which would
    * zero every stage behind it here and leave the decontam term
    * untestable. The prefix key has a measured ~5% dup rate (q196), so
    * the composed funnel stays informative end-to-end; on a real
    * corpus a build would run BOTH (q199 exists precisely to compose
    * the cluster-dedup variant).
    *
    * Oracle: the selection chains compose by unique CTE names;
    * q198/q166 embed as nested-WITH sub-selects. Scale shape: all
    * verdict frames join back to documents by doc_id with no forced
    * broadcast (AQE decides); the dup window partitions by the prefix
    * key, never globally; every heavy term is an upstream shape
    * already audited. */
  private def q204(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = labelsM(s, d)
    val lineKeep = TextQueries.q198(s, d)
      .select(col("doc_id"), col("keep").as("line_keep"))
    val clf = q200From(s, d, lab).select(col("doc_id"), col("pred"))
    val dsir = q201From(s, d, lab).select(col("doc_id"), col("selected"))
    val dropped = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, 5), ' ')").as("k5"))
      .withColumn("canon",
        min(col("doc_id")).over(Window.partitionBy(col("k5"))))
      .filter(col("doc_id") =!= col("canon"))
      .select(col("doc_id"), lit(true).as("is_dup"))
    val contam = TextQueries.q166(s, d)
      .select(col("doc_id"), col("confirmed"))
    Tables.documents(s, d)
      .join(lab.select(col("doc_id"), col("label")), "doc_id")
      .join(lineKeep, "doc_id")
      .join(clf, Seq("doc_id"), "left")
      .join(dsir, Seq("doc_id"), "left")
      .join(dropped, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("g_rules", col("line_keep") && col("label"))
      .withColumn("g_clf",
        col("g_rules") && coalesce(col("pred"), lit(false)))
      .withColumn("g_dsir",
        col("g_clf") && coalesce(col("selected"), lit(false)))
      .withColumn("g_dedup",
        col("g_dsir") && !coalesce(col("is_dup"), lit(false)))
      .withColumn("g_final",
        col("g_dedup") && col("source") =!= "src0" &&
          !coalesce(col("confirmed"), lit(false)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("line_keep"), 1L).otherwise(0L)).as("n_line"),
        sum(when(col("g_rules"), 1L).otherwise(0L)).as("n_rules"),
        sum(when(col("g_clf"), 1L).otherwise(0L)).as("n_clf"),
        sum(when(col("g_dsir"), 1L).otherwise(0L)).as("n_dsir"),
        sum(when(col("g_dedup"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("g_final"), 1L).otherwise(0L)).as("n_final"),
        sum(when(col("g_final"), col("n_chars")).otherwise(0L))
          .as("chars_final"))
  }

  private val q204Sql = {
    import TextQueries.{q166Sql, q198Sql}
    s"""WITH $labelsSql,
       |$bigramsSql,
       |$clfChainSql,
       |$dsirChainSql,
       |ccdrop AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY
       |      array_to_string(list_slice(string_split(text, ' '), 1, 5),
       |        ' ')) AS canon
       |    FROM documents) m
       |  WHERE doc_id <> canon),
       |lq AS ($q198Sql),
       |dq AS ($q166Sql)
       |SELECT d.source, count(*) AS n_raw,
       |  CAST(sum(CASE WHEN l.keep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_line,
       |  CAST(sum(CASE WHEN l.keep AND b.label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_rules,
       |  CAST(sum(CASE WHEN l.keep AND b.label
       |    AND coalesce(c.bits_pos <= c.bits_neg, false)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clf,
       |  CAST(sum(CASE WHEN l.keep AND b.label
       |    AND coalesce(c.bits_pos <= c.bits_neg, false)
       |    AND coalesce(i.w_hbits >= 0, false)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dsir,
       |  CAST(sum(CASE WHEN l.keep AND b.label
       |    AND coalesce(c.bits_pos <= c.bits_neg, false)
       |    AND coalesce(i.w_hbits >= 0, false)
       |    AND dr.doc_id IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       |  CAST(sum(CASE WHEN l.keep AND b.label
       |    AND coalesce(c.bits_pos <= c.bits_neg, false)
       |    AND coalesce(i.w_hbits >= 0, false)
       |    AND dr.doc_id IS NULL
       |    AND d.source <> 'src0' AND NOT coalesce(dq.confirmed, false)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       |  CAST(sum(CASE WHEN l.keep AND b.label
       |    AND coalesce(c.bits_pos <= c.bits_neg, false)
       |    AND coalesce(i.w_hbits >= 0, false)
       |    AND dr.doc_id IS NULL
       |    AND d.source <> 'src0' AND NOT coalesce(dq.confirmed, false)
       |    THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_final
       |FROM documents d
       |JOIN lab b ON b.doc_id = d.doc_id
       |JOIN lq l ON l.doc_id = d.doc_id
       |LEFT JOIN nbsc c ON c.doc_id = d.doc_id
       |LEFT JOIN imp i ON i.doc_id = d.doc_id
       |LEFT JOIN ccdrop dr ON dr.doc_id = d.doc_id
       |LEFT JOIN dq ON dq.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin
  }

  /** q205: selection-CALIBRATION audit (the reliability diagram, in
    * integers) — does a selector's confidence MARGIN mean anything?
    * Per (method, margin bin): docs, rule-clean docs, and the
    * empirical keep rate in basis points. The classifier's margin is
    * (bits_neg − bits_pos) per 100 bigrams over HOLDOUT docs only
    * (train margins are overfit by construction — q200 reports that
    * gap separately); DSIR's is its importance per 100 features over
    * all docs (it has no fitted split). A calibrated selector shows
    * keep_bp rising with the bin; a flat curve means the margin
    * carries no information beyond the sign and any
    * confidence-weighted downstream use (sampling temperature,
    * review-queue routing) is built on sand. Measured at sf0.1: both
    * curves rise monotonically through the distribution mass; the
    * sparse extreme-positive tail falls off, and its verified cause is
    * UNDER-LENGTH docs — a per-100-bigram margin over very few bigrams
    * has exploding variance exactly where the one rule bigram evidence
    * cannot see (length) binds.
    *
    * Integer discipline: margins can be negative and Spark's `div`
    * truncates toward zero while DuckDB's `//` floors — every division
    * here is SHIFTED nonnegative first (+400 per-feat units, below any
    * observed margin), where the two semantics coincide; bin_lo
    * recovers the real bin floor after the fact. Scale shape: both
    * upstream shapes already audited, then one ≤~25-row aggregation. */
  private def q205(s: SparkSession, d: String): DataFrame = {
    val lab = labelsM(s, d)
    val clf = q200From(s, d, lab).filter(col("split") === "holdout")
      .select(lit("clf").as("method"),
        (expr("(100 * (bits_neg - bits_pos) + 400 * n_bigrams) " +
          "div n_bigrams div 20") * 20 - 400).as("bin_lo"),
        col("label"))
    val dsir = q201From(s, d, lab)
      .select(lit("dsir").as("method"),
        (expr("(100 * w_hbits + 400 * n_feats) div n_feats div 10")
          * 10 - 400).as("bin_lo"),
        col("label"))
    clf.unionByName(dsir)
      .groupBy(col("method"), col("bin_lo"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("label").cast("long")).as("n_keep"))
      .withColumn("keep_bp", expr("(10000 * n_keep) div n_docs"))
  }

  private val q205Sql =
    s"""WITH $labelsSql,
       |$bigramsSql,
       |$clfChainSql,
       |$dsirChainSql,
       |cal AS (
       |  SELECT 'clf' AS method,
       |    ((100 * (bits_neg - bits_pos) + 400 * n_bigrams)
       |      // n_bigrams // 20) * 20 - 400 AS bin_lo,
       |    label
       |  FROM nbsc WHERE NOT is_train
       |  UNION ALL
       |  SELECT 'dsir' AS method,
       |    ((100 * w_hbits + 400 * n_feats) // n_feats // 10) * 10 - 400
       |      AS bin_lo,
       |    label
       |  FROM imp)
       |SELECT method, bin_lo, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CAST(label AS BIGINT)) AS BIGINT) AS n_keep,
       |  (10000 * CAST(sum(CAST(label AS BIGINT)) AS BIGINT))
       |    // CAST(count(*) AS BIGINT) AS keep_bp
       |FROM cal GROUP BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q200_nb_quality_classifier", q200, Some(q200Sql)),
    QueryDef("q201_dsir_importance", q201, Some(q201Sql)),
    QueryDef("q202_selection_funnel", q202, Some(q202Sql)),
    QueryDef("q203_model_gated_corpus", q203, Some(q203Sql)),
    QueryDef("q204_full_corpus_build", q204, Some(q204Sql)),
    QueryDef("q205_selection_calibration", q205, Some(q205Sql)))
}
