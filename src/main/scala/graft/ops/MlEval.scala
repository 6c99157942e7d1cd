package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation statistics for the quality-classifier loop of a
  * training-data pipeline (label a seed set → fit → score the corpus →
  * measure → filter). The reference pipeline stops at "fit and apply";
  * any production curation loop also needs the measurement half: AUC of
  * the quality scorer, the confusion matrix at the chosen operating
  * point, a calibration (reliability) table, and per-segment decile
  * lift. All four are EXACT here — integer/decimal arithmetic until a
  * final IEEE division both engines perform identically — so the keys
  * hash-check rather than "close enough".
  *
  * Scale notes (100 TB):
  *  - [[aucExact]] takes INTEGER scores (a quantized probability, e.g.
  *    0..100k). The rank statistic is computed over the per-score GROUP
  *    table, so the unpartitioned cumulative window runs over at most
  *    |score domain| rows (metadata-sized), never the corpus: the only
  *    corpus-wide work is one map-side-combined groupBy. Exact AUC over
  *    raw float scores would need a global sort; quantize first — that
  *    is what serving systems log anyway.
  *  - [[confusionReport]] and [[calibrationBins]] are single
  *    aggregations (bounded output: 1 row / nBins rows).
  *  - [[liftDeciles]] windows WITHIN a stratum (ntile per segment, the
  *    op_ntile caveat applies: a stratum must fit a task's sort), then
  *    aggregates to ≤ 10·|strata| rows.
  */
object MlEval {

  /** Exact ROC AUC via the Mann–Whitney rank-sum statistic with midrank
    * tie handling, on integer scores and {0,1} labels.
    *
    * For each distinct score s with `cnt` rows (`pos` positive), the
    * 1-based midrank of every tied row is `below + (cnt+1)/2` where
    * `below` is the number of rows with smaller score. To stay in
    * integers, we carry 2·Σ(ranks of positives) =
    * Σ pos·(2·below + cnt + 1), subtract n_pos·(n_pos+1) to get
    * 2U, and divide once: AUC = 2U / (2·n_pos·n_neg). Every term up to
    * the final division is a 64-bit integer (caller contract: n² fits —
    * i.e. n < 3·10⁹ rows; shard by segment above that), and the final
    * division of two exactly-represented integers rounds identically in
    * any IEEE engine.
    *
    * Returns one row: n_pos, n_neg, u2 (= 2·U), auc.
    */
  def aucExact(df: DataFrame, score: Column, label: Column): DataFrame = {
    // NULL scores/labels drop EXPLICITLY (the prCurve stance): a NULL
    // score group would otherwise rank below every real score, and a
    // NULL label would count in _cnt while vanishing from _pos — both
    // silently skew the rank statistic instead of erroring
    val proj = df.select(score.cast("long").as("_s"),
      label.cast("long").as("_y"))
      .where(col("_s").isNotNull && col("_y").isNotNull)
    val perScore = proj.groupBy(col("_s"))
      .agg(count(lit(1)).as("_cnt"), sum(col("_y")).as("_pos"))
    // cumulative count of strictly-smaller scores; the window is over the
    // per-score table (bounded by the score domain), not the corpus
    val w = Window.orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perScore
      .withColumn("_below", coalesce(sum(col("_cnt")).over(w), lit(0L)))
      .agg(
        sum(col("_pos")).as("n_pos"),
        sum(col("_cnt") - col("_pos")).as("n_neg"),
        sum(col("_pos") * (lit(2L) * col("_below") + col("_cnt") + lit(1L)))
          .as("_r2"))
      .select(col("n_pos"), col("n_neg"),
        (col("_r2") - col("n_pos") * (col("n_pos") + lit(1L))).as("u2"))
      .withColumn("auc",
        // single-class input: NULL rather than the 0/0 NaN (the
        // abTest/cohenKappa degenerate-case convention — NaN-vs-NULL is
        // a representation divergence risk under the hash gate)
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u2").cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double")))
  }

  /** Confusion matrix + operating-point metrics at an integer score
    * threshold (predict positive when score ≥ threshold). One
    * aggregation, one output row; the ratio metrics are each a single
    * IEEE division of exact integers (f1 uses the 2·tp identity so no
    * intermediate float product exists).
    */
  def confusionReport(df: DataFrame, score: Column, label: Column,
                      threshold: Long): DataFrame = {
    val pred = (score.cast("long") >= lit(threshold)).cast("long")
    val y = label.cast("long")
    df.agg(
        sum(pred * y).as("tp"),
        sum(pred * (lit(1L) - y)).as("fp"),
        sum((lit(1L) - pred) * y).as("fn"),
        sum((lit(1L) - pred) * (lit(1L) - y)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        ((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"))
          .as("accuracy"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision_"),
        (col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("recall_"),
        ((lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .as("f1"))
  }

  /** Reliability (calibration) table: integer centi-probabilities 0..99
    * bucket into 10 equal-width bins; per bin the support, the mean
    * predicted probability (exact decimal sum → one division), and the
    * empirical positive rate. A perfectly calibrated scorer has
    * mean_pred ≈ pos_rate per bin; the table is the standard reliability-
    * diagram input. Output bounded by 10 rows.
    */
  def calibrationBins(df: DataFrame, pCenti: Column, label: Column): DataFrame = {
    val nBins = 10
    val width = 100 / nBins
    // enforce the 0..100 domain instead of assuming it: 100 (exact
    // certainty) folds into the TOP bin rather than minting an
    // out-of-range nBins+1-th row, and negative/over-100 garbage drops
    // rather than dragging bin 0's mean_pred below zero
    // the aucExact NULL-drop stance: a NULL label counted in n but
    // vanished from _pos, deflating pos_rate (and mean_pred averaged
    // over unlabeled rows)
    df.select(pCenti.cast("long").as("_p"), label.cast("long").as("_y"))
      .where(col("_p").between(0L, 100L) && col("_y").isNotNull)
      .select(least((col("_p") / lit(width)).cast("long"), lit(nBins - 1L)).as("bin"),
        col("_p"), col("_y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("_p").cast("decimal(20,0)")).as("_sp"),
        sum(col("_y")).as("_pos"))
      .select(col("bin"), col("n"),
        (col("_sp").cast("double") / (lit(100L) * col("n")).cast("double"))
          .as("mean_pred"),
        (col("_pos").cast("double") / col("n").cast("double")).as("pos_rate"))
  }

  /** Per-stratum decile lift table (gain chart): rows rank into score
    * deciles within their stratum (ntile over score desc, id tiebreak —
    * deterministic), and each (stratum, decile) reports support, positive
    * count, response rate, and lift vs the stratum's base rate. Output
    * bounded by 10·|strata|; the stratum window is the op_ntile shape
    * (a stratum must fit a task's sort at the target scale — segment
    * further if not).
    */
  def liftDeciles(df: DataFrame, stratum: Column, score: Column, id: Column,
                  label: Column): DataFrame = {
    // the aucExact stance, applied file-wide: a NULL label would count in
    // n but not n_pos (deflating every rate non-uniformly when NULLs
    // concentrate by score), and a NULL score would silently fill the
    // bottom decile instead of carrying rank information
    val proj = df.select(stratum.as("seg"), score.cast("long").as("_s"),
      id.as("_id"), label.cast("long").as("_y"))
      .where(col("_s").isNotNull && col("_y").isNotNull)
    val w = Window.partitionBy(col("seg"))
      .orderBy(col("_s").desc, col("_id"))
    val deciled = proj.withColumn("decile", ntile(10).over(w))
    val base = Window.partitionBy(col("seg"))
    deciled.groupBy(col("seg"), col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"))
      .withColumn("_segn", sum(col("n")).over(base))
      .withColumn("_segpos", sum(col("n_pos")).over(base))
      .select(col("seg"), col("decile"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("rate"),
        // zero-positive stratum: NULL, not the 0/0 NaN (aucExact stance)
        when(col("_segpos") > 0,
          (col("n_pos").cast("double") / col("n").cast("double")) /
            (col("_segpos").cast("double") / col("_segn").cast("double")))
          .as("lift"))
  }

  /** Two-proportion A/B test per metric group: exposures and conversions
    * for each variant (exact integer counts in ONE conditional-sum agg),
    * conversion rates, absolute lift, and the pooled two-proportion
    * z-score — the z formula is a single deterministic float expression
    * over exact integers (identical op tree both engines; the decision
    * threshold |z| ≥ 1.96 is the caller's). Degenerate pooled rates
    * (p̂ ∈ {0,1}) or an empty variant yield NULL z rather than a 0/0.
    * Variant and conversion are caller-supplied boolean columns, so any
    * assignment scheme (hash split, holdout flag) plugs in.
    */
  def abTest(df: DataFrame, group: Column, isB: Column, converted: Column): DataFrame = {
    // the aucExact NULL-drop stance: a NULL conversion flag counted as a
    // non-converted EXPOSURE (in n_* but never conv_*), silently
    // deflating both rates; a NULL variant row half-vanished. Unlogged
    // outcomes drop explicitly instead.
    val cells = df.select(group.as("grp"), isB.as("_b"), converted.as("_c"))
      .where(col("_b").isNotNull && col("_c").isNotNull)
      .groupBy(col("grp"))
      .agg(
        sum(when(!col("_b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("_b") && col("_c"), 1L).otherwise(0L)).as("conv_a"),
        sum(when(col("_b"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("_b") && col("_c"), 1L).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a").cast("double")
    val pb = col("conv_b").cast("double") / col("n_b").cast("double")
    val pPool = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    cells.select(col("grp"), col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      pa.as("rate_a"), pb.as("rate_b"), (pb - pa).as("lift"),
      when(col("n_a") > 0 && col("n_b") > 0 &&
        col("conv_a") + col("conv_b") > 0 &&
        col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
        (pb - pa) / se).as("z_score"))
  }

  /** Cohen's kappa — inter-annotator agreement, the labeling-QA statistic
    * of any human-labeled training set. Computed from the bounded
    * |classes|² cell table (ONE corpus shuffle, the contingency shape):
    * with n = Σ cells, agree = Σ diagonal, and sum_prod = Σ_k nA_k·nB_k
    * (marginal products), kappa algebraically reduces to
    * `(n·agree − sum_prod) / (n² − sum_prod)` — a SINGLE IEEE division of
    * exact integers (po and pe are reported as their own one-division
    * ratios). Rows with a NULL on either side are excluded (unlabeled).
    * Degenerate pe=1 (both annotators constant) yields NULL kappa rather
    * than a 0/0.
    */
  def cohenKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("_a"), bCol.as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_c"))
    val na = cells.groupBy(col("_a").as("_ka")).agg(sum(col("_c")).as("_na"))
    val nb = cells.groupBy(col("_b").as("_kb")).agg(sum(col("_c")).as("_nb"))
    val tot = cells.agg(sum(col("_c")).as("n"),
      sum(when(col("_a") === col("_b"), col("_c")).otherwise(lit(0L))).as("n_agree"))
    val prod = na.join(nb, col("_ka") === col("_kb"))
      .agg(coalesce(sum(col("_na") * col("_nb")), lit(0L)).as("sum_prod"))
    // n² and n·n_agree in DECIMAL(38,0): at the 100-TB posture n can
    // exceed 3·10⁹, where long n*n wraps silently (ANSI off) — a wrong
    // pe/kappa and possibly a wrong degeneracy decision. sum_prod itself
    // is bounded by n² so it gets the same treatment.
    def d38(c: Column) = c.cast("decimal(38,0)")
    tot.crossJoin(prod)
      .select(col("n"), col("n_agree"), col("sum_prod"),
        (col("n_agree").cast("double") / col("n").cast("double")).as("po"),
        (d38(col("sum_prod")).cast("double") /
          (d38(col("n")) * col("n")).cast("double")).as("pe"),
        when(d38(col("n")) * col("n") =!= d38(col("sum_prod")),
          (d38(col("n")) * col("n_agree") - col("sum_prod")).cast("double") /
            (d38(col("n")) * col("n") - col("sum_prod")).cast("double"))
          .as("kappa"))
  }

  /** Full precision-recall CURVE at every distinct threshold of a
    * QUANTIZED score — the threshold-picking readout [[aucExact]]'s
    * scalar can't give: predict positive at score ≥ θ for each θ in the
    * (bounded) score domain, with TP/FP from one descending cumulative
    * window over the per-score census (the aucExact shape — the
    * unpartitioned windows see ≤|domain| rows, never the corpus) and
    * precision/recall as exact integer millionths. NULL scores carry no
    * threshold information and drop; NULL LABELS drop too (the aucExact
    * stance) — counting an unlabeled row in _n while omitting it from
    * _pos would book it as a confirmed negative and deflate precision.
    * Output, one row per distinct score (descending): threshold, tp, fp,
    * fn, precision/recall millionths.
    */
  def prCurve(df: DataFrame, score: Column, label: Column): DataFrame = {
    val cells = df
      .select(score.cast("long").as("threshold"), label.cast("long").as("_y"))
      .where(col("threshold").isNotNull && col("_y").isNotNull)
      .groupBy(col("threshold"))
      .agg(sum(col("_y")).as("_pos"), count(lit(1)).as("_n"))
    val cum = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("tp", sum(col("_pos")).over(cum))
      .withColumn("_pp", sum(col("_n")).over(cum))
      .withColumn("_ptot", sum(col("_pos")).over(all))
      .select(col("threshold"), col("tp"),
        (col("_pp") - col("tp")).as("fp"),
        (col("_ptot") - col("tp")).as("fn"),
        expr("1000000 * tp div _pp").as("precision_millionths"),
        expr("CASE WHEN _ptot > 0 THEN 1000000 * tp div _ptot END").as("recall_millionths"))
  }
}
