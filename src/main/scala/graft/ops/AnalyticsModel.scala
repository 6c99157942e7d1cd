package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** In-plan model fitting and data-quality/privacy audits of
  * [[Analytics]] (perceptron, naive Bayes, decision stumps, Gini,
  * expectations, uniqueness/orphan checks, k-suppression/k-anonymity,
  * skew profiling). Pure code motion; call everything via `Analytics.`.
  */
trait AnalyticsModelOps extends AnalyticsBase {
  /** Distributed batch perceptron — the trainable half of a quality-
    * classifier curation stage (label a seed set, fit, filter the corpus
    * by prediction). Features and labels must be INTEGER-valued and the
    * label ±1; weights then stay integer (long) forever: each round's
    * update is w += Σ y·x over the currently-misclassified rows — ONE
    * aggregation job of long sums with map-side partials, EXACT in any
    * partition order, so the fit is bit-reproducible and replayable by an
    * external engine (no learning rate is needed: integer perceptron
    * updates are scale-free). The classic convergence guarantee applies:
    * for linearly separable data the loop reaches a separating plane in
    * finitely many rounds. Bias is the last weight (constant-1 feature).
    *
    * Like [[graft.ops.Similarity.kmeansFit]] this is an EAGER driver loop
    * (`iters` jobs); weights are metadata-sized and return as plain longs
    * for [[perceptronPredict]] to fold into a literal expression.
    *
    * OVERFLOW CONTRACT: everything is 64-bit long arithmetic, and Spark
    * wraps silently (non-ANSI) where an external oracle may widen — the
    * exactness claim holds only while every intermediate stays under 2⁶³:
    * |feature| ≤ F and n rows give per-round weight growth ≤ n·F and
    * margin magnitude ≤ d·(iters·n·F)·F, so keep features small-integer
    * (F ≲ 2¹⁰, e.g. bucketed/clipped scores) at web-scale row counts
    * rather than raw large-magnitude values.
    */
  def perceptronFit(df: DataFrame, features: Seq[Column], label: Column,
                    iters: Int): Array[Long] = {
    require(features.nonEmpty && iters >= 0)
    var w = Array.fill(features.length + 1)(0L)
    for (_ <- 1 to iters) {
      val margin = features.zipWithIndex
        .map { case (f, i) => f.cast("long") * lit(w(i)) }
        .reduce(_ + _) + lit(w.last)
      val mis = label.cast("long") * margin <= 0
      val aggs = (features.map(f => when(mis, label.cast("long") * f.cast("long"))) :+
          when(mis, label.cast("long")))
        .map(c => coalesce(sum(c), lit(0L)))
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      w = w.indices.map(i => w(i) + r.getLong(i)).toArray
    }
    w
  }

  /** Sign prediction (+1 / −1) from [[perceptronFit]] weights as a pure
    * literal expression — applying the classifier to the full corpus is a
    * filter pass, no join, no shuffle.
    */
  def perceptronPredict(features: Seq[Column], w: Array[Long]): Column = {
    require(w.length == features.length + 1)
    val margin = features.zipWithIndex
      .map { case (f, i) => f.cast("long") * lit(w(i)) }
      .reduce(_ + _) + lit(w.last)
    // a NULL feature makes the margin NULL: surface the NULL (the
    // naiveBayes2Classify contract) instead of booking the unevaluable
    // row as a confident −1 via the otherwise branch — perceptronFit
    // already skips such rows in training for the same reason
    when(margin > 0, lit(1)).when(margin <= 0, lit(-1))
  }

  /** Exact 2-feature categorical Naive Bayes (Laplace α=1), binary
    * class: the third trainable model next to the perceptron and the
    * decision stump. The fit is two bounded count aggregations (per
    * (feature value, class) — the categorical-NB contract: feature
    * domains are bounded); the posterior comparison
    *   n₁·(c₁₁+1)(c₂₁+1)(n₀+V₁)(n₀+V₂)  vs  n₀·(c₁₀+1)(c₂₀+1)(n₁+V₁)(n₁+V₂)
    * is evaluated per (v₁, v₂) CELL on the driver in BigInteger — exact
    * at any corpus size, no float, no overflow — and folded into a
    * literal (f₁, f₂) → prediction CASE chain, so the distributed
    * predict is a pure codegen projection (the perceptronPredict
    * convention). Ties predict class 0 (pinned).
    */
  def naiveBayes2Fit(df: DataFrame, f1: Column, f2: Column, label: Column): Column = {
    import java.math.BigInteger
    val maxCells = MaxCategoricalCells
    val proj = df.select(f1.cast("long").as("_f1"), f2.cast("long").as("_f2"),
      label.cast("int").as("_y"))
      // the NULL-drop stance (aucExact): a NULL feature/label would form
      // a null-keyed cell whose driver-side getLong NPEs with no hint —
      // and NULL is not a category
      .where(col("_f1").isNotNull && col("_f2").isNotNull && col("_y").isNotNull)
    // BOUNDED collects (the chiSquare discipline): a continuous feature
    // smuggled in as "categorical" must fail the maxCells require, not
    // OOM the driver first — cap each pull at the cell budget + 1 so the
    // overflow is detected from a bounded prefix
    def boundedCells(c: Column): Map[(Long, Int), Long] = {
      // coalesce(1) before limit (the chiSquare form): CollectLimit over a
      // multi-partition child probes partitions in EXTRA jobs; one
      // partition of a bounded table is one job
      val rows = proj.groupBy(c.as("_v"), col("_y")).agg(count(lit(1)).as("_c"))
        .coalesce(1).limit(2 * maxCells + 1).collect()
      require(rows.length <= 2 * maxCells,
        s"naiveBayes2Fit: a feature exceeds $maxCells distinct values — not categorical input")
      rows.map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    }
    val rows1 = boundedCells(col("_f1"))
    val rows2 = boundedCells(col("_f2"))
    val v1s = rows1.keys.map(_._1).toSeq.distinct.sorted
    val v2s = rows2.keys.map(_._1).toSeq.distinct.sorted
    require(v1s.size.toLong * v2s.size <= maxCells,
      s"naiveBayes2Fit: ${v1s.size}×${v2s.size} cells exceed $maxCells — not categorical input")
    val n0 = BigInteger.valueOf(rows1.collect { case ((_, 0), c) => c }.sum)
    val n1 = BigInteger.valueOf(rows1.collect { case ((_, 1), c) => c }.sum)
    val d01 = n0.add(BigInteger.valueOf(v1s.size))
    val d02 = n0.add(BigInteger.valueOf(v2s.size))
    val d11 = n1.add(BigInteger.valueOf(v1s.size))
    val d12 = n1.add(BigInteger.valueOf(v2s.size))
    def cnt(m: Map[(Long, Int), Long], v: Long, y: Int): BigInteger =
      BigInteger.valueOf(m.getOrElse((v, y), 0L) + 1L) // +1 = Laplace
    // bounded (v1, v2) → prediction table, exact integer comparison
    val nullP = lit(null).cast("int")
    val pred = v1s.foldLeft(nullP) { (acc1, a) =>
      val inner = v2s.foldLeft(nullP) { (acc2, b) =>
        val s1 = n1.multiply(cnt(rows1, a, 1)).multiply(cnt(rows2, b, 1))
          .multiply(d01).multiply(d02)
        val s0 = n0.multiply(cnt(rows1, a, 0)).multiply(cnt(rows2, b, 0))
          .multiply(d11).multiply(d12)
        val p = if (s1.compareTo(s0) > 0) 1 else 0
        when(col("_nbF2") === b, lit(p)).otherwise(acc2)
      }
      when(col("_nbF1") === a, inner).otherwise(acc1)
    }
    // callers select with the raw feature columns aliased to the probe names
    pred
  }

  /** Convenience: fit on `df` and return it with an exact NB prediction
    * column appended (unseen feature values predict null — surface them
    * rather than silently guessing).
    */
  def naiveBayes2Classify(df: DataFrame, f1: Column, f2: Column,
                          label: Column): DataFrame = {
    val predExpr = naiveBayes2Fit(df, f1, f2, label)
    df.withColumn("_nbF1", f1.cast("long"))
      .withColumn("_nbF2", f2.cast("long"))
      .withColumn("nb_pred", predExpr)
      .drop("_nbF1", "_nbF2")
  }

  /** Exact 1-rule learner (decision stump): over integer features,
    * choose the (feature, threshold, polarity) minimizing
    * misclassifications of the ±-free {0,1} label, with a fully
    * deterministic tie-break (err, feature name, threshold, polarity).
    * Per feature: ONE groupBy on the feature value + a cumulative window
    * over the bounded distinct-value table (the [[MlEval.aucExact]]
    * quantized-feature contract) computes every threshold's error from
    * (pos_below, neg_below) in integers; the global argmin is a bounded
    * TakeOrdered over the unioned error tables. Output: one row
    * (feature, threshold, polarity, err, n_rows).
    * Polarity 'ge' predicts 1 when v ≥ threshold; 'lt' the complement.
    */
  def decisionStumpFit(df: DataFrame, features: Seq[(String, Column)],
                       label: Column): DataFrame = {
    require(features.nonEmpty)
    val errTables = features.map { case (name, f) =>
      // the NULL-drop stance (aucExact): a NULL label was silently booked
      // as a confirmed NEGATIVE in every threshold's error count (_cnt
      // books it, sum(y) skips it), and a NULL feature value minted a
      // v=NULL group that sorts first and could win the argmin with a
      // threshold whose predicate is NULL for every row at predict time
      val per = df.select(f.cast("long").as("v"), label.cast("long").as("y"))
        .where(col("v").isNotNull && col("y").isNotNull)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("_cnt"), sum(col("y")).as("_pos"))
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val tot = Window
        .partitionBy().rowsBetween(
          Window.unboundedPreceding,
          Window.unboundedFollowing)
      per
        .withColumn("_posBelow", coalesce(sum(col("_pos")).over(w), lit(0L)))
        .withColumn("_cntBelow", coalesce(sum(col("_cnt")).over(w), lit(0L)))
        .withColumn("_posTot", sum(col("_pos")).over(tot))
        .withColumn("_n", sum(col("_cnt")).over(tot))
        .select(lit(name).as("feature"), col("v").as("threshold"),
          // predict 1 on v ≥ t: errors = positives below t + negatives at/above t
          (col("_posBelow") +
            ((col("_n") - col("_cntBelow")) - (col("_posTot") - col("_posBelow"))))
            .as("_errGe"),
          col("_n"))
        .select(col("feature"), col("threshold"), col("_n"),
          explode(array(
            struct(lit("ge").as("polarity"), col("_errGe").as("err")),
            struct(lit("lt").as("polarity"), (col("_n") - col("_errGe")).as("err"))))
            .as("_pe"))
        .select(col("feature"), col("threshold"),
          col("_pe.polarity").as("polarity"), col("_pe.err").as("err"),
          col("_n").as("n_rows"))
    }
    errTables.reduce(_.unionByName(_))
      .orderBy(col("err"), col("feature"), col("threshold"), col("polarity"))
      .limit(1)
  }

  /** Per-group Gini impurity of a label distribution — the log-free
    * diversity/purity signal (the entropy stand-in that stays EXACT:
    * 1 − Σp² is pure rational arithmetic, while Shannon entropy's ln
    * flakes on libm last-ulp differences across engines). Computed as
    * `(n² − Σ n_l²) / n²` with the integer squares in DECIMAL(38,0)
    * (mirrors DuckDB HUGEINT; n_l² overflows BIGINT near 3·10⁹ rows per
    * label) and ONE final float division of two exactly-converted
    * values. Two aggregations, both map-side combined; output bounded by
    * |groups|. Output: (group, n, gini).
    */
  def giniImpurity(df: DataFrame, group: Column, label: Column): DataFrame =
    df.groupBy(group.as("grp"), label.as("_lbl"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("grp"))
      .agg(sum(col("_c")).as("n"),
        sum(col("_c").cast("decimal(38,0)") * col("_c")).as("_ssq"))
      .select(col("grp"), col("n"),
        ((col("n").cast("decimal(38,0)") * col("n") - col("_ssq")).cast("double") /
          (col("n").cast("decimal(38,0)") * col("n")).cast("double")).as("gini"))

  /** Data-quality expectation suite (Deequ-style) — ALL row-level checks in
    * ONE aggregation pass over the table: each check is a violation
    * predicate counted under the same `groupBy()`, so adding a check adds
    * zero scans and zero shuffles (the failure mode of naive quality
    * frameworks at 100 TB is one pass per rule). Returns the long-format
    * report (check, n_violations, n_rows, passed): integer counts only, so
    * the report is hash-stable, and `passed` is simply n_violations == 0.
    * Compose with [[uniquenessViolations]] / [[orphanCount]] (which need a
    * shuffle by nature) by unioning their report rows.
    */
  def expectations(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty)
    // duplicate names would alias-collide and ambiguate the col() reads
    require(checks.map(_._1).distinct.size == checks.size,
      "expectations: duplicate check names")
    val aggs = checks.map { case (nm, bad) =>
      sum(when(bad, 1L).otherwise(0L)).as(s"_c_$nm")
    } :+ count(lit(1)).as("_n")
    val wide = df.groupBy().agg(aggs.head, aggs.tail: _*)
    val stacked = checks.map { case (nm, _) =>
      // backtick-quoted read: a check name containing '.' would otherwise
      // parse as a nested-field path and fail analysis (the
      // Aggregates.upsert quoting hazard)
      struct(lit(nm).as("check_name"), col(s"`_c_$nm`").as("n_violations"))
    }
    wide.select(explode(array(stacked: _*)).as("_e"), col("_n"))
      .select(col("_e.check_name").as("check_name"), col("_e.n_violations").as("n_violations"),
        col("_n").as("n_rows"), (col("_e.n_violations") === 0L).as("passed"))
  }

  /** Uniqueness expectation: rows whose `keys` tuple occurs more than once
    * (counting ALL members of a duplicated tuple, i.e. n − distinct would
    * under-report by one per clique). One hash aggregation on the key.
    */
  def uniquenessViolations(df: DataFrame, keys: Seq[Column], checkName: String): DataFrame =
    df.groupBy(keys: _*).agg(count(lit(1)).as("_k"))
      .groupBy()
      .agg(coalesce(sum(when(col("_k") > 1L, col("_k"))), lit(0L)).as("n_violations"),
        coalesce(sum(col("_k")), lit(0L)).as("n_rows"))
      .select(lit(checkName).as("check_name"), col("n_violations"), col("n_rows"),
        (col("n_violations") === 0L).as("passed"))

  /** Referential-integrity expectation: child rows whose `fk` has no match
    * in the parent's `pk` (NULL fks are not orphans — they are a
    * completeness check's business). Anti-join, broadcast-able when the
    * parent is a dimension; counted, never materialized.
    */
  def orphanCount(child: DataFrame, fk: Column, parent: DataFrame, pk: Column,
                  checkName: String): DataFrame = {
    val orphans = child.where(fk.isNotNull)
      .join(parent.select(pk.as("_pk")), fk === col("_pk"), "left_anti")
    val n = child.groupBy().agg(count(lit(1)).as("n_rows"))
    orphans.groupBy().agg(count(lit(1)).as("n_violations"))
      .crossJoin(n)
      .select(lit(checkName).as("check_name"), col("n_violations"), col("n_rows"),
        (col("n_violations") === 0L).as("passed"))
  }

  /** k-suppression — the APPLIED half of [[kAnonymityAudit]]: rows whose
    * quasi-identifier group has fewer than k members are suppressed
    * (flagged; callers null the QI columns on the flag) so every
    * surviving group is ≥ k by construction. Implemented as the group
    * census joined back on the QI tuple (sort-merge — the group table is
    * corpus-sized in the worst case), ONE extra shuffle over the audit.
    * The join-back is NULL-SAFE (`<=>`): groupBy treats a NULL QI value
    * as a real group key, so the enforcement must too — a null-unsafe
    * join would silently leave every row of a sub-k NULL-QI group
    * unsuppressed, disagreeing with [[kAnonymityAudit]] on exactly the
    * privacy-sensitive rows. Returns the input plus `_suppress`.
    */
  def kSuppress(df: DataFrame, qiCols: Seq[Column], k: Int): DataFrame = {
    require(qiCols.nonEmpty && k >= 2)
    // collision-safe helper names (the dedupFirst convention): re-running
    // kSuppress on its own output — a documented flow, the result carries
    // _suppress — would otherwise make the final coalesce ambiguous, and
    // an input _qi0 column would ambiguate the census groupBy
    val fresh = Analytics.freshNames(df,
      (qiCols.indices.map(i => s"_qi$i") ++
        qiCols.indices.map(i => s"_sqi$i") :+ "_suppress"): _*)
    val names = fresh.take(qiCols.size)
    val sNames = fresh.slice(qiCols.size, 2 * qiCols.size)
    val supCol = fresh.last
    val tagged = df.select(col("*") +: qiCols.zip(names).map { case (c, n) => c.as(n) }: _*)
    val small = tagged.groupBy(names.map(col): _*).agg(count(lit(1)).as("_sz"))
      .where(col("_sz") < k)
      .select(names.zip(sNames).map { case (n, sn) => col(n).as(sn) } :+
        lit(true).as(supCol): _*)
    val cond = names.zip(sNames).map { case (n, sn) => col(n) <=> col(sn) }
      .reduce(_ && _)
    val out = tagged.join(small.hint("merge"), cond, "left")
      .withColumn(supCol, coalesce(col(supCol), lit(false)))
      .drop(names ++ sNames: _*)
    // re-running on own output REPLACES the stale flag (the fresh name
    // carried the new one through the join; the input's column drops)
    if (supCol == "_suppress") out
    else out.drop("_suppress").withColumnRenamed(supCol, "_suppress")
  }

  /** k-anonymity / l-diversity audit — the privacy gate before a dataset
    * leaves the pipeline (pairs with the GDPR delete path): group rows by
    * the quasi-identifier tuple, then census the group-size bands
    * (singletons are re-identifiable; k<5 is the classic release
    * threshold) and count the groups that fail l-diversity (≥2 members
    * but fewer than 2 distinct sensitive values — attribute
    * disclosure even when k holds). ONE corpus shuffle to the QI group
    * table; the census is a bounded second fold. All counts exact
    * integers. countDistinct per group is the honest cost — the group
    * table is corpus-sized in the worst case but each group's distinct
    * set is tiny.
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[Column], sensitive: Column): DataFrame = {
    require(qiCols.nonEmpty)
    val lMin = 2
    val g = df.groupBy(qiCols: _*)
      .agg(count(lit(1)).as("_sz"), countDistinct(sensitive).as("_ldiv"))
    val band = when(col("_sz") === 1, "1")
      .when(col("_sz") < 5, "2-4")
      .when(col("_sz") < 10, "5-9")
      .otherwise("10+")
    g.groupBy(band.as("band"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("_sz")).as("n_rows"),
        sum(when(col("_sz") >= 2 && col("_ldiv") < lMin, 1L).otherwise(0L))
          .as("n_low_diversity"))
  }

  /** Key-skew profile: the diagnostic to run BEFORE a big join or groupBy
    * at scale — per-key row counts reduced to the stats that predict
    * reducer imbalance (max/avg ratio ≈ straggler factor; the top-1 key's
    * share ≈ how much salting helps). One groupBy + one small aggregation;
    * heavy-hitter keys come back exactly, not via a sketch. The per-key
    * count table persists for its two consumers (stats + heaviest-key
    * filter); callers in long-lived sessions release it via
    * unpersist/clearCache.
    */
  def skewProfile(df: DataFrame, key: Column): DataFrame = {
    val counts = df.groupBy(key.as("k")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"), max(col("n")).as("max_key_rows"))
    // heaviest key reported deterministically: the SMALLEST key among those
    // at the max count (ties broken the same way in any engine)
    counts.crossJoin(broadcast(stats))
      .where(col("n") === col("max_key_rows"))
      .groupBy(col("n_keys"), col("n_rows"), col("max_key_rows"))
      .agg(min(col("k")).as("heaviest_key"))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"), col("heaviest_key"),
        (col("max_key_rows").cast("double") /
          (col("n_rows").cast("double") / col("n_keys").cast("double"))).as("skew_factor"))
  }
}
