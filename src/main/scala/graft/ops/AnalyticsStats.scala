package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributional/statistical operators of [[Analytics]] (profiles,
  * winsorize/standardize, correlation, regression, histograms, quantiles,
  * MAD, contingency/chi-square, Mann-Whitney, Benford, skyline). Pure
  * code motion from the Analytics object; call everything via `Analytics.`.
  */
trait AnalyticsStatsOps extends AnalyticsBase {
  /** Single-pass numeric data profile in long format: one row per column
    * with (n, n_null, min, max). The whole profile is ONE aggregate job —
    * 4·|cols| accumulators — not a scan per column.
    */
  def profileNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"_n_$c"),
        sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"_nn_$c"),
        min(col(c)).cast("double").as(s"_mn_$c"),
        max(col(c)).cast("double").as(s"_mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col(s"_n_$c").as("n"), col(s"_nn_$c").as("n_null"),
        col(s"_mn_$c").as("min_v"), col(s"_mx_$c").as("max_v"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Winsorization: clamp a measure into its per-group [pLo, pHi]
    * percentile band — the standard robust-stats outlier treatment. The
    * group percentile table is tiny (one row per group) and broadcast back.
    *
    * The percentiles are EXACT linear-interpolation quantiles computed by
    * RANK, not by the built-in `percentile` aggregate: that aggregate
    * buffers every (value, count) of a group inside one aggregation buffer,
    * which is unbounded memory on a single task at fact-table scale (and
    * was the single most expensive query in the round-4 bench). Here the
    * group is sorted once (spillable sort, one shuffle), each row learns
    * its row_number and group size from the same window pass, and the two
    * straddling rows per bound reduce in an ordinary hash aggregation. The
    * interpolation `(1−frac)·v_lo + frac·v_hi` is the built-in Percentile
    * aggregate's EXACT expression shape (`(higher−pos)·lower +
    * (pos−lower)·higher`; `1−frac` and `higher−pos` are bit-equal for
    * every reachable position), so clamped results are bit-identical to
    * the built-in — a PropertySpec invariant under random data.
    *
    * NULL measures are excluded from the percentile computation (matching
    * the built-in aggregate, which ignores nulls) and pass through with
    * `_wins` = NULL — `greatest`/`least` SKIP nulls, so without the
    * explicit guard a NULL measure would fabricate the low bound as its
    * clamped value. NULL groups are preserved (null-safe join), and a
    * group whose measures are all NULL gets NULL bounds, i.e. passes
    * through unclamped. Helper columns do not leak: the output is the
    * input schema plus `_wins`.
    */
  def winsorize(df: DataFrame, group: Column, value: Column,
                pLo: Double, pHi: Double): DataFrame = {
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0)
    // one ordered window spec for BOTH functions: row_number uses the running
    // frame, count an unbounded one, but sharing (partition, order) lets Spark
    // fuse them into a single WindowExec over a single spillable sort — the
    // unordered-count variant forced a second full Window pass
    val byGOrdered = Window.partitionBy(col("_g")).orderBy(col("_v"))
    val ranked = df.where(value.isNotNull)
      .select(group.as("_g"), value.cast("double").as("_v"))
      .withColumn("_rn", row_number().over(byGOrdered))
      .withColumn("_n", count(lit(1)).over(
        byGOrdered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // 0-based fractional position p·(n−1); k1 = 1-based index of the lower
    // straddling row, f = the interpolation fraction — per-group constants
    def pos(p: Double): Column = lit(p) * (col("_n") - 1).cast("double")
    def k1(p: Double): Column = floor(pos(p)).cast("long") + 1
    def frac(p: Double): Column = pos(p) - floor(pos(p))
    def interp(v: Column, v1: Column, f: Column): Column =
      (lit(1.0) - f) * v + f * coalesce(v1, v)
    val bounds = ranked
      .withColumn("_klo", k1(pLo)).withColumn("_flo", frac(pLo))
      .withColumn("_khi", k1(pHi)).withColumn("_fhi", frac(pHi))
      .groupBy(col("_g"))
      .agg(
        max(when(col("_rn") === col("_klo"), col("_v"))).as("_lo_v"),
        max(when(col("_rn") === col("_klo") + 1, col("_v"))).as("_lo_v1"),
        max(col("_flo")).as("_flo_c"),
        max(when(col("_rn") === col("_khi"), col("_v"))).as("_hi_v"),
        max(when(col("_rn") === col("_khi") + 1, col("_v"))).as("_hi_v1"),
        max(col("_fhi")).as("_fhi_c"))
      .select(col("_g"),
        interp(col("_lo_v"), col("_lo_v1"), col("_flo_c")).as("_lo"),
        interp(col("_hi_v"), col("_hi_v1"), col("_fhi_c")).as("_hi"))
    // the join side's column names are minted fresh against df.columns, so an
    // input that already contains `_g`/`_lo`/`_hi` neither turns the join
    // condition ambiguous nor loses a user column in the final drop (`_wins`
    // itself is the documented output column and replaces any same-named input)
    val Seq(gN, loN, hiN) = freshNames(df, "_g", "_lo", "_hi")
    val keyed = bounds.select(col("_g").as(gN), col("_lo").as(loN), col("_hi").as(hiN))
    df.join(broadcast(keyed), group <=> col(gN), "left")
      .withColumn("_wins",
        when(value.isNotNull, least(greatest(value, col(loN)), col(hiN))))
      .drop(gN, loN, hiN)
  }

  /** Per-group standardization (z-score) stats from EXACT moments — the
    * feature-scaling primitive. Like [[regressionByGroup]], Σx and Σx² are
    * DECIMAL sums (order-independent under partial aggregation), and
    * mean/std are then one shared IEEE double expression — bit-identical
    * across engines. Population std (`/n`). Returns one row per group:
    * (grp, n_rows, mean, std, n_outliers) where an outlier is
    * |x − mean| > zCut·std — an integer count, so the output stays
    * hash-comparable without emitting per-row doubles. The measure's true
    * decimal width must be at most 2 places (the Σx cast scale).
    *
    * Execution: two passes are semantically unavoidable (the outlier test
    * needs the group's mean/std), but when the group cardinality is at most
    * `maxLiteralGroups` the stats are pulled to the driver (a BOUNDED
    * collect) and inlined as literal CASE expressions, so each pass is one
    * job and the plan has no join or broadcast-build step. Above the bound
    * it degrades gracefully to the distributed broadcast-join form. The
    * default bound is deliberately modest: the literal fold evaluates an
    * O(groups) CASE chain per input row, so the 2-job win only beats the
    * join's O(1) hash probe while the chain stays small and codegen-
    * friendly — raise it only with measurement. NOTE: the driver probe
    * makes this operator EAGER (it submits a job when called, like
    * [[Similarity]]'s k-means fit), and the literal path requires the
    * group column to be a `lit()`-able atomic type.
    */
  def standardizeStats(df: DataFrame, group: Column, value: Column,
                       zCut: Double = 2.0,
                       maxLiteralGroups: Int = 128, sqScale: Int = -1): DataFrame = {
    val scale = 2
    // sqScale caps the value² cast below 2·scale when the exact squared
    // sum would exceed ~15 significant digits — outside that window the
    // decimal→double conversion itself is engine-divergent (see
    // correlationMatrix.productScaleOverride); the capped quantized moment
    // converts exactly in both engines.
    // both passes run over the same fresh 2-column projection, so helper
    // names can never collide with (or drop) user columns
    val proj = df.select(group.as("grp"), value.as("_v"))
    val v = col("_v")
    val moments = proj.groupBy(col("grp"))
      .agg(
        // count(value), not count(*): the sums ignore NULL measures, so a
        // count over all rows would silently deflate mean/std for any
        // group containing NULLs (same exclusion winsorize applies)
        count(v).cast("double").as("_n"),
        // momentSum: floating measures take the long-rounding fast path
        momentSum(proj, v, scale, "_s",
          e => sum(e.cast(s"decimal(24,$scale)")).cast("double")),
        momentSum(proj, v * v, if (sqScale >= 0) sqScale else 2 * scale, "_ss",
          e => sum(e.cast(s"decimal(30,${if (sqScale >= 0) sqScale else 2 * scale})")).cast("double")))
      .select(col("grp"), col("_n"),
        (col("_s") / col("_n")).as("mean"),
        sqrt((col("_ss") - col("_s") * col("_s") / col("_n")) / col("_n")).as("std"))
    // The group-stats table is one row per group. For the common case
    // (bounded group cardinality — feature keys, flags, categories) it is
    // collected to the driver (coalesce(1) keeps the probe to ONE job; a
    // bare limit().collect() scale-up would submit up to log₄(partitions)
    // jobs) and folded into literal CASE expressions, making the outlier
    // pass a single self-contained aggregation: 1 job for the moments, 1
    // for the final agg, no broadcast-build job, no join. The collect is
    // BOUNDED by maxLiteralGroups + 1 rows; above the bound we fall back to
    // the distributed broadcast-join form (never an unbounded driver pull).
    // The literal path also requires a lit()-able group type — composite
    // keys (struct/array/map) always take the join path, like the old
    // implementation. Persisting moments makes the fallback reuse the
    // probe's aggregation instead of recomputing it (released by the
    // session's next clearCache, the skewProfile convention).
    val literalTyped = proj.schema("grp").dataType match {
      case _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType => false
      case _ => true
    }
    val probeLimit = math.min(maxLiteralGroups.toLong + 1L, Int.MaxValue.toLong).toInt
    lazy val cachedMoments =
      moments.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val head =
      if (literalTyped) cachedMoments.coalesce(1).limit(probeLimit).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (literalTyped && head.length <= maxLiteralGroups) {
      val nullD = lit(null).cast("double")
      val (meanE, stdE) = head.foldLeft((nullD, nullD)) { case ((mAcc, sAcc), r) =>
        val g = lit(r.get(0))
        (when(col("grp") <=> g, lit(r.get(2))).otherwise(mAcc),
         when(col("grp") <=> g, lit(r.get(3))).otherwise(sAcc))
      }
      proj.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(abs(v.cast("double") - meanE) > lit(zCut) * stdE, 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(col("grp"), col("n_rows"),
          meanE.cast("double").as("mean"), stdE.cast("double").as("std"),
          col("n_outliers"))
    } else {
      // composite-key groups or cardinality above the bound: distributed
      // broadcast-join form; cachedMoments serves the probe's aggregation
      // from cache when the probe ran (cardinality overflow), and is the
      // plain lazy plan when it didn't (composite keys, no probe paid)
      val m = (if (literalTyped) cachedMoments else moments)
        .select(col("grp").as("_mg"), col("mean"), col("std"))
      proj.join(broadcast(m), col("grp") <=> col("_mg"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"),
          max(col("mean")).as("mean"), max(col("std")).as("std"),
          sum(when(abs(v.cast("double") - col("mean")) > lit(zCut) * col("std"), 1L)
            .otherwise(0L)).as("n_outliers"))
    }
  }

  /** The exact quantized moment Σ round_sc(e) as a DOUBLE, on the fast path
    * when `e` is floating-typed: round each value to `scale` decimal places
    * in LONG space (HALF_UP away from zero, matching the decimal cast),
    * sum exact longs, and rescale the ONE aggregated value back by
    * 10^-scale exactly in decimal space. Bit-identical to
    * `sum(e.cast(decimal(p,scale))).cast(double)` — both paths produce the
    * correctly-rounded double of the same exact rational Σ/10^scale — for
    * any scaled sum |Σ| < 2⁶³ (the long-sum capacity; the per-group
    * decimal rescale avoids the double-rounding a plain long→double→divide
    * would hit past 2⁵³). That window is strictly wider than the
    * operators' documented 2⁵³ engine-portability window (see
    * correlationMatrix's productScaleOverride note). The win is PER-ROW:
    * the double→decimal cast goes
    * through BigDecimal/Double.toString (~µs/row·moment, measured 11×
    * slower end-to-end on a 15-moment pass), while this path is one
    * multiply + floor + long add in fused codegen.
    *
    * Near-boundary caveat (same contract as the decimal path, not a new
    * one): a value whose exact scaled image sits within one double ulp of
    * a .5 rounding boundary may round differently than the
    * BigDecimal-exact cast — the operators already exclude that zone
    * ("a product's double ulp must sit far below its cast scale's
    * half-step").
    *
    * Integral and decimal inputs stay on the decimal path (integrals past
    * 2⁵³ would lose precision in the double +0.5; decimals cast exactly).
    */
  private[graft] def momentSum(df: DataFrame, e: Column, scale: Int, out: String,
                               decimalForm: Column => Column): Column = {
    import org.apache.spark.sql.types._
    val floating = df.select(e).schema.fields.head.dataType match {
      case DoubleType | FloatType => true
      case _ => false
    }
    // floating inputs at scales past the exact-power-of-ten window (> 15)
    // route to the DECIMAL path instead of throwing at plan time — e.g.
    // regressionByGroup with floating x, y and xScale + yScale > 15 was
    // accepted by the decimal(24,16) cast before the fast path existed
    if (!floating || scale > 15) decimalForm(e).as(out)
    else momentSumFloating(e, scale).as(out)
  }

  /** The [[momentSum]] fast path itself, for callers that KNOW the input
    * is floating-typed (e.g. the query layer's `dsum`, whose 31 call sites
    * all feed double measures) — no DataFrame needed for dispatch. Inputs
    * that are integral past 2⁵³ must not come here (the double widening
    * would round them; use [[momentSum]], whose type dispatch keeps
    * integrals on the exact decimal path).
    */
  private[graft] def momentSumFloating(e0: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 15, s"momentSum: scale $scale outside exact-power window")
    val e = e0.cast("double")
    val s10 = math.pow(10, scale) // exact double for scale <= 15
    val scaled0 = if (scale == 0) e else e * lit(s10)
    // NaN/±Inf must stay NULL like the decimal cast nulls them (ANSI
    // off) — floor(NaN).toLong is 0 and floor(±Inf) clamps, which would
    // silently poison the sum instead of skipping the row. Per-row values
    // whose SCALED image reaches 2⁶³ get the same NULL: floor→long would
    // clamp them at Long.MaxValue (plausible-looking garbage), and a
    // value that far past the documented ulp-vs-half-step window (2⁵²)
    // has no meaningful quantized image anyway — a detectable NULL beats
    // a silent clamp (the decimal path's own per-value overflow is a NULL
    // for the same reason).
    val scaled = when(isnan(scaled0) || abs(scaled0) >= lit(9.223372036854776e18),
      lit(null).cast("double")).otherwise(scaled0)
    val rounded = when(scaled >= 0, floor(scaled + lit(0.5)))
      .otherwise(-floor(-scaled + lit(0.5)))
    // final conversion: NOT sum/10^sc in doubles — a scaled sum past 2⁵³
    // would round once at the long→double cast and AGAIN at the division
    // (double rounding, 1-ulp splits vs the decimal path). One exact
    // decimal rescale of the single aggregated value gives the correctly
    // rounded double of the exact rational Σ·10⁻ˢᶜ, identical to the
    // decimal path, for any |Σ| < 2⁶³ — per GROUP, not per row, so the
    // fast path keeps its whole win.
    //
    // Σ-overflow guard: sum(LongType) under ANSI-off wraps silently past
    // 2⁶³ where the decimal path returned the exact value — at a 100-TB
    // revenue shape (scale 6, ~10¹¹ rows) the scaled sum genuinely crosses
    // 2⁶³, so an unguarded fast path would return plausible-looking wrong
    // numbers exactly where it matters. A companion sum over the SAME
    // rounded values in DOUBLE space witnesses the true Σ's magnitude
    // (two's-complement long addition is associative, so the long sum is
    // exact mod 2⁶⁴ regardless of intermediate wraps — only the final
    // magnitude needs certifying; the witness's relative error is ≤
    // n·2⁻⁵², ≪ the 2⁻¹⁰ guard band for any realistic n). |witness| past
    // (1 − 2⁻¹⁰)·2⁶³ → NULL: out-of-window sums become detectable NULLs
    // (the decimal path's failure mode) instead of silent wraps; sums
    // below the band — the entire documented |Σ| < 2⁶³ window less a
    // 0.1% boundary sliver — are untouched and bit-identical.
    val witness = sum(rounded.cast("double"))
    val guardBound = 9.223372036854776e18 * (1.0 - 1.0 / 1024)
    val conv =
      if (scale == 0) sum(rounded).cast("double")
      else (sum(rounded).cast("decimal(38,0)") *
        lit(java.math.BigDecimal.ONE.movePointLeft(scale))).cast("double")
    when(abs(witness) < lit(guardBound), conv)
      .otherwise(lit(null).cast("double"))
  }

  /** Pairwise Pearson correlation matrix over k numeric columns in ONE
    * aggregation pass — the feature-correlation audit a training-data
    * release runs before mixing signals. One agg computes every Σxᵢ and
    * Σxᵢxⱼ as EXACT decimal sums (order-independent partial aggregation,
    * same determinism argument as [[regressionByGroup]]), then the k(k−1)/2
    * correlations evaluate as identical IEEE double expression trees —
    * bit-reproducible where built-in `corr` per pair would both flake and
    * cost k² scans. Each input declares its true decimal scale; product
    * casts use the summed scales (see the boundary caution on
    * [[regressionByGroup]] — a product's double ulp must sit far below its
    * cast scale's half-step). Output long format: (col_a, col_b, corr).
    *
    * `productScaleOverride` caps a specific product's cast scale below
    * si+sj. This exists because the final decimal→double conversion is
    * only ENGINE-PORTABLE while the scaled sum stays under 2⁵³ (an exact
    * integer in double); a wide product like price² can push the exact sum
    * to 19 significant digits, where Spark's BigDecimal conversion and
    * DuckDB's hugeint path round the SAME value to different neighboring
    * doubles (measured: 1 ulp on Σprice² at sf0.1). Capping the scale
    * rounds each per-row product deterministically (positive half-ties
    * round away from zero in BOTH engines) and keeps the sum exactly
    * convertible — a quantized moment, identical everywhere, with relative
    * error ≤ rows·half-quantum / sum (~1e-10 here). Size caps so the
    * target-SF sum stays < 2⁵³, the same sizing note as
    * [[regressionByGroup]].
    */
  def correlationMatrix(df: DataFrame, inputs: Seq[(String, Int)],
                        productScaleOverride: Map[(String, String), Int] = Map.empty): DataFrame = {
    require(inputs.size >= 2, "need at least two columns to correlate")
    val n = count(lit(1)).cast("double").as("_n")
    // momentSum: floating inputs take the long-rounding fast path (the
    // double→decimal cast's per-row BigDecimal was 11× the whole pass);
    // integral/decimal inputs keep the exact decimal casts below
    val singles = inputs.indices.map { i =>
      val (c, sc) = inputs(i)
      momentSum(df, col(c), sc, s"_s$i",
        e => sum(e.cast(s"decimal(24,$sc)")).cast("double"))
    }
    val products = for { i <- inputs.indices; j <- inputs.indices if i <= j } yield {
      val (ci, si) = inputs(i); val (cj, sj) = inputs(j)
      val sc = productScaleOverride.getOrElse((ci, cj), si + sj)
      // mulNoWrap: integral·integral would wrap in the input type before
      // the decimal cast (the ols2 discipline); double inputs keep the
      // historical bit-identical product
      momentSum(df, mulNoWrap(df, col(ci), col(cj)), sc, s"_p${i}_$j",
        e => sum(e.cast(s"decimal(30,$sc)")).cast("double"))
    }
    val m = df.agg(n, singles ++ products: _*)
    val rows = for { i <- inputs.indices; j <- inputs.indices if i < j } yield
      struct(lit(inputs(i)._1).as("col_a"), lit(inputs(j)._1).as("col_b"),
        ((col("_n") * col(s"_p${i}_$j") - col(s"_s$i") * col(s"_s$j")) /
          sqrt((col("_n") * col(s"_p${i}_$i") - col(s"_s$i") * col(s"_s$i")) *
               (col("_n") * col(s"_p${j}_$j") - col(s"_s$j") * col(s"_s$j")))).as("corr"))
    m.select(explode(array(rows: _*)).as("r"))
      .select(col("r.col_a"), col("r.col_b"), col("r.corr"))
  }

  /** Per-group OLS regression (y = slope·x + intercept) and Pearson
    * correlation from EXACT moments: each Σx, Σy, Σxy, Σx², Σy² is a
    * decimal sum — order-independent under partial (map-side) aggregation,
    * so the result is identical however Spark schedules the merge — and
    * the closed-form formulas then run in IEEE doubles whose every op
    * (+,-,*,/,sqrt) is exactly rounded. The built-in `corr`/`regr_slope`
    * accumulate in floating point and give run-to-run different last bits
    * at scale; this form is bit-reproducible.
    *
    * Cast scales: x is cast at scale 0 (integer-valued x) and `yScale`
    * must cover y's true decimal width; the product scales (x·y, x², y²)
    * are their sums. CAUTION:
    * a product's double ulp must sit well below its cast scale's half-step
    * (ulp(y²)≈2e-6 at 1e10), or the decimal rounding lands on engine-
    * dependent HALF_UP/HALF_EVEN boundaries. Precisions are sized for
    * ~1e9-row groups.
    */
  def regressionByGroup(df: DataFrame, group: Column, x: Column, y: Column,
                        yScale: Int = 2, yyScale: Int = -1): DataFrame = {
    val xScale = 0
    // syy is the widest moment (Σy² reaches ~19 significant digits on fact
    // tables) and the decimal→double conversion is only engine-portable
    // while the SCALED sum stays under 2⁵³ — see correlationMatrix's
    // productScaleOverride note (measured 1-ulp Spark/DuckDB split past
    // that window). yyScale caps the y² cast (default: full 2·yScale);
    // per-row half-tie rounding agrees across engines on positives.
    val yySc = if (yyScale >= 0) yyScale else 2 * yScale
    // momentSum: floating x/y take the long-rounding fast path (see its
    // doc); integral/decimal inputs keep the exact decimal casts below
    val m = df.groupBy(group.as("grp"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        momentSum(df, x, xScale, "sx",
          e => sum(e.cast(s"decimal(20,$xScale)")).cast("double")),
        momentSum(df, y, yScale, "sy",
          e => sum(e.cast(s"decimal(22,$yScale)")).cast("double")),
        // mulNoWrap: an IntegerType x wraps at x*x >= 2^31 (LongType past
        // 2^63) BEFORE the decimal cast — the exact hazard ols2's comment
        // documents; double inputs keep the historical product
        momentSum(df, mulNoWrap(df, x, y), xScale + yScale, "sxy",
          e => sum(e.cast(s"decimal(24,${xScale + yScale})")).cast("double")),
        momentSum(df, mulNoWrap(df, x, x), 2 * xScale, "sxx",
          e => sum(e.cast(s"decimal(24,${2 * xScale})")).cast("double")),
        momentSum(df, mulNoWrap(df, y, y), yySc, "syy",
          e => sum(e.cast(s"decimal(26,$yySc)")).cast("double")))
    m.select(col("grp"), col("n"), col("sx"), col("sy"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy")))).as("corr"))
      .select(col("grp"), col("n").cast("long").as("n_rows"), col("slope"),
        ((col("sy") - col("slope") * col("sx")) / col("n")).as("intercept"),
        col("corr"))
  }

  /** Equi-width histogram with FIXED bounds — the profiling primitive that
    * stays one map-side-combined aggregation at any SF (unlike quantile
    * binning, which needs a rank pass first). Bucket = ⌊(v − lo)/width⌋
    * clamped into [0, nBuckets): every step ((−), (/), floor, clamp) is an
    * exactly-rounded IEEE double op, so the bucket index is bit-identical
    * in any engine — no tie ambiguity even for values exactly on an edge.
    * NULL/NaN values are excluded (a NaN bucket would be engine-dependent).
    * Output: (bucket, lo_edge, n) — empty buckets are absent (the caller
    * left-joins a `sequence` grid if a dense axis is needed, as gapfill
    * does). lo_edge = lo + bucket·width recomputed from the index: exact,
    * and keeps the output independent of which rows landed in the bucket.
    */
  def histogramFixed(df: DataFrame, value: Column, lo: Double, width: Double,
                     nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets > 0)
    val v = value.cast("double")
    val bucket = least(greatest(floor((v - lit(lo)) / lit(width)), lit(0.0)),
      lit((nBuckets - 1).toDouble)).cast("int")
    df.where(v.isNotNull && !isnan(v))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (lit(lo) + col("bucket").cast("double") * lit(width)).as("lo_edge"),
        col("n"))
  }

  /** Certified quantile bounds from a fixed-grid histogram — the
    * mergeable, bounded-state way to answer percentile queries at corpus
    * scale: ONE map-side-combined aggregation builds the grid (state =
    * nBuckets counters, mergeable across executors and micro-batches), a
    * window cumsum over the BOUNDED bucket table locates each target
    * rank, and the answer is an interval [q_lo, q_hi) GUARANTEED to
    * contain the exact quantile, with deterministic error ≤ `width`.
    * Exact rank-based quantiles (madStats/winsorize) need a full shuffle
    * on the value; probabilistic sketches (t-digest/KLL) have
    * implementation-defined merge order — this is the middle path with a
    * certificate, same idea as heavyHittersCertified.
    *
    * Percentiles are INTEGER percents and the target rank is
    * ⌈p·N/100⌉ = (p·N + 99) div 100 in integer arithmetic — no float
    * rank anywhere. Values outside [lo, lo + width·nBuckets) land in
    * sentinel buckets −1/nBuckets; a quantile located there gets a NULL
    * open bound and `certified = false` — out-of-range data degrades the
    * answer honestly instead of silently clamping.
    *
    * Output per percent: (p, n_rows, rank, bucket, q_lo, q_hi,
    * certified).
    */
  def quantileGrid(df: DataFrame, value: Column, lo: Double, width: Double,
                   nBuckets: Int, percents: Seq[Int]): DataFrame = {
    require(width > 0 && nBuckets > 0 && percents.nonEmpty)
    require(percents.forall(p => p >= 1 && p <= 100))
    val v = value.cast("double")
    val hi = lo + width * nBuckets
    val bucket = when(v < lit(lo), lit(-1))
      .when(v >= lit(hi), lit(nBuckets))
      .otherwise(least(floor((v - lit(lo)) / lit(width)),
        lit((nBuckets - 1).toDouble)).cast("int"))
    val h = df.where(v.isNotNull && !isnan(v))
      .groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n"))
    // single-partition window + θ-join are over the BOUNDED bucket table
    // (≤ nBuckets+2 rows) — metadata-sized at any SF, never the data
    val cum = h.withColumn("cum",
      sum(col("n")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pexp = h.agg(sum(col("n")).as("n_total"))
      .select(col("n_total"), explode(array(percents.map(p => lit(p)): _*)).as("p"))
      .withColumn("target", expr("(p * n_total + 99) div 100"))
    pexp.join(cum, col("cum") >= col("target"))
      .groupBy(col("p"), col("target"), col("n_total"))
      .agg(min(col("bucket")).as("bucket"))
      .select(col("p"), col("n_total").as("n_rows"), col("target").as("rank"),
        col("bucket"),
        when(col("bucket") < 0, lit(null).cast("double"))
          .otherwise(lit(lo) + col("bucket").cast("double") * lit(width)).as("q_lo"),
        when(col("bucket") >= nBuckets, lit(null).cast("double"))
          .otherwise(lit(lo) + (col("bucket") + 1).cast("double") * lit(width)).as("q_hi"),
        (col("bucket") >= 0 && col("bucket") < nBuckets).as("certified"))
  }

  /** Robust per-group outlier stats: median, MAD (median absolute
    * deviation), and the count of |x − median| > 3·MAD — the
    * heavy-tail-safe alternative to [[standardizeStats]]'s mean/std (one
    * corrupt value moves a mean arbitrarily; it moves a median not at
    * all). Both medians are EXACT rank-interpolation quantiles computed by
    * window row_number + one hash aggregation per pass — the same
    * spillable-sort shape as [[winsorize]], never the built-in
    * `percentile`'s unbounded per-group buffer. Two rank passes are
    * semantically unavoidable (the deviation needs the group's median);
    * the tiny per-group median tables are broadcast back. Output:
    * (grp, n_rows, median, mad, n_outliers). NULL measures are excluded;
    * exactness of the outlier comparison is the CALLER's contract (integer
    * or low-scale-decimal measures make every interp/compare exact).
    */
  def madStats(df: DataFrame, group: Column, value: Column): DataFrame = {
    val zCut = 3.0
    val meds = rankMedian(
      df.where(value.isNotNull).select(group.as("_g"), value.cast("double").as("_v")))
    val dev = df.where(value.isNotNull)
      .select(group.as("_g"), value.cast("double").as("_v"))
      .join(broadcast(meds.select(col("_g").as("_gm"), col("_q").as("_med"))),
        col("_g") <=> col("_gm"))
      .select(col("_g"), col("_v"), col("_med"), abs(col("_v") - col("_med")).as("_ad"))
    val mads = rankMedian(dev.select(col("_g"), col("_ad").as("_v")))
      .select(col("_g").as("_gd"), col("_q").as("_mad"))
    dev.join(broadcast(mads), col("_g") <=> col("_gd"))
      .groupBy(col("_g").as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("_med")).as("median"),
        max(col("_mad")).as("mad"),
        sum(when(col("_ad") > lit(zCut) * col("_mad"), 1L).otherwise(0L)).as("n_outliers"))
  }

  /** Exact interpolated median per `_g` of `_v` via rank — (1−f)·v_lo +
    * f·v_hi with the straddling rows found by row_number, [[winsorize]]'s
    * expression shape at p = 0.5 (so f is 0.0 or 0.5 exactly).
    */
  private def rankMedian(pairs: DataFrame): DataFrame = {
    // ONE ordered window spec for both functions: count gets an explicit
    // full frame on the SAME (partition, order), so Spark fuses the two
    // into a single WindowExec — an unordered count spec forced a second
    // full window pass over the sorted data (the winsorize lesson), paid
    // twice per madStats call
    val byGOrdered = Window.partitionBy(col("_g")).orderBy(col("_v"))
    val ranked = pairs
      .withColumn("_rn", row_number().over(byGOrdered))
      .withColumn("_n", count(lit(1)).over(byGOrdered
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val pos = lit(0.5) * (col("_n") - 1).cast("double")
    val k1 = floor(pos).cast("long") + 1
    val frac = pos - floor(pos)
    ranked
      .withColumn("_k1", k1).withColumn("_f", frac)
      .groupBy(col("_g"))
      .agg(max(when(col("_rn") === col("_k1"), col("_v"))).as("_q0"),
        max(when(col("_rn") === col("_k1") + 1, col("_v"))).as("_q1"),
        max(col("_f")).as("_fc"))
      .select(col("_g"),
        ((lit(1.0) - col("_fc")) * col("_q0") +
          col("_fc") * coalesce(col("_q1"), col("_q0"))).as("_q"))
  }

  /** Contingency table with marginals — the χ²/mutual-information feed for
    * categorical feature association, kept ENTIRELY in integers so the
    * output is hash-stable and any statistic can be derived downstream
    * with controlled rounding (expected count = row_total·col_total /
    * n_total is exact rational arithmetic over these columns). One shuffle
    * (the cell groupBy); the marginal window sums run over the already-
    * aggregated cell table, which is bounded by |A|·|B|, not by SF.
    * Output: (a, b, n_obs, row_total, col_total, n_total).
    */
  def contingency(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.groupBy(a.as("a"), b.as("b")).agg(count(lit(1)).as("n_obs"))
    cells
      .withColumn("row_total", sum(col("n_obs")).over(Window.partitionBy(col("a"))))
      .withColumn("col_total", sum(col("n_obs")).over(Window.partitionBy(col("b"))))
      .withColumn("n_total", sum(col("n_obs")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
  }

  /** Ties-together quartile of a QUANTIZED value: quartile =
    * ⌊4·below/n⌋+1 (clamped to 4) assigned per distinct value, where
    * `below` counts rows with strictly smaller value. Equal values always
    * share a quartile — deterministic with no row-level tiebreak — and
    * the corpus-wide work is one groupBy plus a broadcast join of the
    * bounded distinct-value table back onto the rows (the aucExact scale
    * contract: the unpartitioned cumsum window runs over |value domain|
    * rows, so quantize first — NEVER a global ntile, which would move the
    * corpus to one partition). Returns (value → quartile) to join back.
    */
  def tiedQuartileMap(df: DataFrame, value: Column): DataFrame = {
    val per = df.select(value.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("_cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    per
      .withColumn("_below", coalesce(sum(col("_cnt")).over(w), lit(0L)))
      .withColumn("_n", sum(col("_cnt")).over())
      .select(col("v"),
        // integer `div`, not double `/`+cast: at 2⁵³-scale counts the
        // double quotient can round UP across a bucket boundary
        least(lit(4L), expr("(4 * _below) div _n") + 1L).as("quartile"))
  }

  /** Pearson χ² decomposition over a contingency table: per cell the
    * expected count and the χ² contribution (O·n − r·c)²/(n·r·c), plus
    * the statistic and degrees of freedom as constant columns.
    *
    * Determinism: every long product stays exact (contract: n < 3·10⁹
    * rows, the [[MlEval.aucExact]] bound — shard above that), the
    * long→double conversions are exact (< 2⁵³), and each cell is then
    * ONE square and ONE division — bit-identical in any IEEE engine. The
    * statistic is folded on the driver over the BOUNDED cell table in
    * (a, b) order (the [[Sampling]] order-pinned-fold convention;
    * float addition is not associative, so an unordered SQL SUM would be
    * engine-varying), mirrored externally by an ordered list_sum.
    */
  def chiSquare(df: DataFrame, a: Column, b: Column): DataFrame = {
    val maxCells = MaxCategoricalCells
    val cells = contingency(df, a, b)
      .select(col("a"), col("b"), col("n_obs"),
        col("row_total").cast("long").as("r"),
        col("col_total").cast("long").as("c"),
        col("n_total").cast("long").as("n"))
      .withColumn("expected",
        (col("r") * col("c")).cast("double") / col("n").cast("double"))
      .withColumn("contrib", {
        // widen to DECIMAL before multiplying: the cubic denominator
        // n·r·c reaches ~n³ (2.7e28 at the documented 3e9-row contract),
        // far past 2⁶³ — a long product wraps silently and the double
        // cast blesses the garbage. Below 2⁶³ the decimal and long paths
        // convert to the same double, so existing oracles are unchanged.
        def d(c: Column) = c.cast("decimal(20,0)")
        val num = (d(col("n_obs")) * col("n") - d(col("r")) * col("c")).cast("double")
        num * num / (d(col("n")) * col("r") * col("c")).cast("double")
      })
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val head = cells.select(col("a").cast("string"), col("b").cast("string"),
        col("contrib"))
      .coalesce(1).limit(maxCells + 1).collect()
    require(head.length <= maxCells,
      s"chiSquare: more than $maxCells cells — not a categorical×categorical input")
    // UTF-8-byte cell order (Arrays.compareUnsigned), matching external
    // binary collation for supplementary-plane labels — the
    // mixByTemperature lesson. NULL categories are legitimate cells
    // (contingency keeps null groupBy keys) and sort first, mirroring
    // ORDER BY ... NULLS FIRST — without the guard the fold NPEs on the
    // first null label
    val byUtf8: Ordering[String] = (x: String, y: String) =>
      if (x == null && y == null) 0
      else if (x == null) -1
      else if (y == null) 1
      else java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    implicit val pairOrd: Ordering[(String, String)] = Ordering.Tuple2(byUtf8, byUtf8)
    val chi2 = head.map(r => ((r.getString(0), r.getString(1)), r.getDouble(2)))
      .sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _)
    // Degrees of freedom count NON-NULL levels only — the count(DISTINCT)
    // convention the DuckDB mirror uses (NULL cells still contribute to
    // chi2 above; they just don't add a level to (r−1)(c−1), matching
    // every SQL engine's DISTINCT semantics).
    // clamp each factor at 0: an ALL-NULL variable has zero non-null
    // levels and (0 − 1) would turn deg_free NEGATIVE instead of 0
    val dfDeg = math.max(0L,
        head.map(_.getString(0)).filter(_ != null).distinct.length - 1L) *
      math.max(0L, head.map(_.getString(1)).filter(_ != null).distinct.length - 1L)
    cells.select(col("a"), col("b"), col("n_obs"), col("expected"),
      col("contrib"), lit(chi2).as("chi2"), lit(dfDeg).as("deg_free"))
  }

  /** Schema/profile drift between two snapshots of "the same" table:
    * per column the row count, null count, and distinct count in each
    * side plus presence flags — the checks a pipeline runs before
    * accepting a new vendor drop. Columns are profiled via one
    * unpivoted pass per side (values stringified — drift detection
    * compares shapes, not types), full-outer-joined on column name:
    * added/removed columns surface as one-sided rows. Output bounded by
    * |columns|; each side is one linear pass + one agg.
    */
  def profileDrift(v1: DataFrame, v2: DataFrame): DataFrame = {
    def prof(df: DataFrame, side: String): DataFrame = {
      val cols = df.columns.toSeq
      val long = Transforms.unpivot(
        df.select(cols.map(c => col(c).cast("string").as(c)): _*),
        ids = Seq.empty, measures = cols, nameCol = "column_name", valueCol = "_v")
      long.groupBy(col("column_name"))
        .agg(count(lit(1)).as(s"n_rows_$side"),
          sum(when(col("_v").isNull, 1L).otherwise(0L)).as(s"n_nulls_$side"),
          // approx would break the oracle; distinct per column is
          // bounded by the profiled snapshot's row count
          countDistinct(col("_v")).as(s"n_distinct_$side"))
    }
    prof(v1, "v1").withColumnRenamed("column_name", "_c1")
      .join(prof(v2, "v2").withColumnRenamed("column_name", "_c2"),
        col("_c1") === col("_c2"), "full_outer")
      .select(coalesce(col("_c1"), col("_c2")).as("column_name"),
        col("_c1").isNotNull.as("in_v1"), col("_c2").isNotNull.as("in_v2"),
        coalesce(col("n_rows_v1"), lit(0L)).as("n_rows_v1"),
        coalesce(col("n_nulls_v1"), lit(0L)).as("n_nulls_v1"),
        coalesce(col("n_distinct_v1"), lit(0L)).as("n_distinct_v1"),
        coalesce(col("n_rows_v2"), lit(0L)).as("n_rows_v2"),
        coalesce(col("n_nulls_v2"), lit(0L)).as("n_nulls_v2"),
        coalesce(col("n_distinct_v2"), lit(0L)).as("n_distinct_v2"))
  }

  /** 3×3 determinant as a FIXED expression tree — shared by [[ols2]] and
    * its oracle mirror so the float evaluation order can never drift
    * between engines (identical operands + identical shape = identical
    * bits; the op_regression discipline applied to Cramer's rule).
    */
  def det3(a: Seq[Seq[Column]]): Column =
    a(0)(0) * (a(1)(1) * a(2)(2) - a(1)(2) * a(2)(1)) -
      a(0)(1) * (a(1)(0) * a(2)(2) - a(1)(2) * a(2)(0)) +
      a(0)(2) * (a(1)(0) * a(2)(1) - a(1)(1) * a(2)(0))

  /** Closed-form multivariate OLS (two features + intercept) from EXACT
    * moments — `y ~ b0 + b1·x1 + b2·x2` solved by Cramer's rule on the
    * normal equations: ONE aggregation computes the 9 decimal moments
    * (order-independent partial sums; x1/x2 must be integer-valued, y
    * exact at `yScale` dp — the caller quantizes, e.g. `floor(v·100+½)`),
    * then each determinant is the fixed [[det3]] double expression tree
    * over exactly-converted moments and each coefficient ONE final
    * division. The built-in `regr_*`/matrix solvers are float-
    * accumulation order-dependent and engine-varying; this form is
    * hash-portable. Singular designs (det = 0: constant or collinear
    * features) yield NULL coefficients, never a division blowup.
    * Output (one row): n_rows, b0, b1, b2.
    */
  def ols2(df: DataFrame, x1: Column, x2: Column, y: Column,
           yScale: Int = 2): DataFrame = {
    // cast to DECIMAL BEFORE multiplying (the repo-wide overflow
    // discipline): x1*x1 in the INPUT type would silently wrap for
    // IntegerType features >= 46341 and LongType past 2^31.5, then cast
    // the wrapped value — exact-looking garbage. Decimal × input is
    // exact and widens.
    val x1d = x1.cast("decimal(18,0)")
    val x2d = x2.cast("decimal(18,0)")
    // momentSum dispatches per moment on the RESOLVED type: an integral
    // feature keeps decimal-before-multiply exactness (x·d stays decimal),
    // a floating feature's product resolves to double and takes the
    // long-rounding fast path — same bit-for-bit result inside the window
    val m = df.agg(
      count(lit(1)).as("n_rows"),
      momentSum(df, x1, 0, "s1", _ => sum(x1d).cast("double")),
      momentSum(df, x2, 0, "s2", _ => sum(x2d).cast("double")),
      momentSum(df, x1d * x1, 0, "s11",
        e => sum(e.cast("decimal(38,0)")).cast("double")),
      momentSum(df, x1d * x2, 0, "s12",
        e => sum(e.cast("decimal(38,0)")).cast("double")),
      momentSum(df, x2d * x2, 0, "s22",
        e => sum(e.cast("decimal(38,0)")).cast("double")),
      momentSum(df, y, yScale, "sy",
        e => sum(e.cast(s"decimal(24,$yScale)")).cast("double")),
      momentSum(df, x1d * y, yScale, "s1y",
        e => sum(e.cast(s"decimal(38,$yScale)")).cast("double")),
      momentSum(df, x2d * y, yScale, "s2y",
        e => sum(e.cast(s"decimal(38,$yScale)")).cast("double")))
    val n = col("n_rows").cast("double")
    val (s1, s2, s11, s12, s22, sy, s1y, s2y) =
      (col("s1"), col("s2"), col("s11"), col("s12"), col("s22"),
        col("sy"), col("s1y"), col("s2y"))
    val dA = det3(Seq(Seq(n, s1, s2), Seq(s1, s11, s12), Seq(s2, s12, s22)))
    val d0 = det3(Seq(Seq(sy, s1, s2), Seq(s1y, s11, s12), Seq(s2y, s12, s22)))
    val d1 = det3(Seq(Seq(n, sy, s2), Seq(s1, s1y, s12), Seq(s2, s2y, s22)))
    val d2 = det3(Seq(Seq(n, s1, sy), Seq(s1, s11, s1y), Seq(s2, s12, s2y)))
    m.select(col("n_rows"),
      when(dA =!= 0.0, d0 / dA).as("b0"),
      when(dA =!= 0.0, d1 / dA).as("b1"),
      when(dA =!= 0.0, d2 / dA).as("b2"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) two-sample test over a QUANTIZED
    * value domain — the nonparametric A/B readout for non-normal metrics
    * (latencies, prices), exact where every engine's naive ranking
    * flakes: ranks come from the bounded per-value census (the aucExact
    * group-cumsum shape, ONE corpus shuffle), midrank ties are kept
    * integral by working in DOUBLED ranks (2·midrank = 2·below + t + 1),
    * and every moment (R₁, U₁, the tie-corrected variance numerator) is
    * an exact DECIMAL(38,0) integer — BIGINT products overflow at corpus
    * scale, and t³ terms stay in range to ~10¹² rows per value. Only the
    * final z is floating point: the fixed expression sequence
    * `((2U₁−n₁n₂)/2) / sqrt(V₁₂ / (12n(n−1)))` — each step a
    * deterministic IEEE op on exactly-converted values, so
    * engine-portable (the cosSql discipline). Degenerate inputs (empty
    * group, all values tied) yield NULL z, never a division error.
    *
    * CONVENTION: `u1_x2 / 2 = n₁n₂ + n₁(n₁+1)/2 − R₁` — twice the number
    * of (a, b) pairs with a BELOW b (ties ½), i.e. n₁n₂ − U_scipy under
    * scipy's R₁-based U₁. Consequently z is NEGATIVE when group A is
    * stochastically LARGER; |z| and two-sided decisions match any
    * implementation, but compare signed values only after aligning the
    * convention.
    * Output (one row): n1, n2, u1_x2 (doubled, exact), z.
    */
  def mannWhitney(df: DataFrame, value: Column, isGroupA: Column): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    // null values carry no rank information — and unfiltered they would
    // form a nulls-first cell that shifts every real `below` count
    val cells = df.where(value.isNotNull).groupBy(value.as("v"))
      .agg(sum(when(isGroupA, 1L).otherwise(0L)).as("ca"),
        count(lit(1)).as("ct"))
    val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("below", coalesce(sum(col("ct")).over(w), lit(0L)))
      .select(col("ca"), col("ct"),
        (d(col("ca")) * (col("below") * 2 + col("ct") + 1)).as("r1x2_term"),
        (d(col("ct")) * col("ct") * col("ct") - col("ct")).as("ties_term"))
    val m = ranked.agg(sum(col("ca")).as("n1"), sum(col("ct")).as("n"),
      sum(col("r1x2_term")).as("r1x2"), sum(col("ties_term")).as("ties"))
    m.select(col("n1"), (col("n") - col("n1")).as("n2"), col("n"),
        col("r1x2"), col("ties"))
      .select(col("n1"), col("n2"),
        (d(col("n1")) * col("n2") * 2 + d(col("n1")) * (col("n1") + 1) -
          col("r1x2")).as("_u1x2"),
        (d(col("n1")) * col("n2") *
          (d(col("n") + 1) * col("n") * (col("n") - 1) - col("ties"))).as("_v12"),
        col("n"))
      .select(col("n1"), col("n2"), col("_u1x2").cast("double").as("u1_x2"),
        // _v12 ≈ n⁵/4 overflows DECIMAL(38,0) (→ NULL under ANSI-off)
        // around n ≈ 5·10⁷ total rows — fail loudly there instead of
        // returning the same NULL z a degenerate all-tied input does
        // (shard the test above that scale)
        when(col("_v12").isNull && col("n") > 0,
          raise_error(lit("mannWhitney: variance product overflowed DECIMAL(38,0) " +
            "(n ≳ 5e7 rows) — shard the test, the NULL would read as 'degenerate input'")))
          .otherwise(
            when(col("_v12") > 0 && col("n1") > 0 && col("n2") > 0,
              ((col("_u1x2") - d(col("n1")) * col("n2")).cast("double") / lit(2.0)) /
                sqrt(col("_v12").cast("double") /
                  (d(lit(12)) * col("n") * (col("n") - 1)).cast("double"))))
          .as("z"))
  }

  /** Benford's-law first-digit audit — the classic fraud/data-quality
    * screen: distribution of the leading digit of a positive integer
    * measure vs the Benford expectation. The observed share is the exact
    * integer `10⁶·count div total`; the expectation `log10(1+1/d)` is a
    * PRECOMPUTED literal table in millionths (embedding the constants —
    * not computing logs at query time — keeps both engines bit-identical;
    * the docSurprisal/gini log-avoidance discipline). The leading digit
    * comes from the value's decimal string (exact for integers; no float
    * log10). One bounded aggregation (≤9 cells) + a broadcast scalar
    * total. Output: (digit, n, observed_millionths, expected_millionths,
    * deviation_millionths) for digits 1-9 present in the data.
    */
  val benfordExpectedMillionths: Map[Int, Long] = Map(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  def benfordAudit(df: DataFrame, valueInt: Column): DataFrame = {
    val digit = substring(valueInt.cast("string"), 1, 1).cast("int")
    val counts = df.where(valueInt > 0)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("_total"))
    val expected = benfordExpectedMillionths.foldLeft(lit(null).cast("long")) {
      case (acc, (d, e)) => when(col("digit") === d, lit(e)).otherwise(acc)
    }
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        expr("1000000 * n div _total").as("observed_millionths"),
        expected.as("expected_millionths"))
      .withColumn("deviation_millionths",
        abs(col("observed_millionths") - col("expected_millionths")))
  }

  /** Weighted median over a QUANTIZED value domain — the aucExact
    * group-cumsum shape applied to weighted quantiles: per (group,
    * value) exact DECIMAL weight sums (ONE corpus shuffle, map-side
    * combined, ≤|groups|·|domain| rows), then the running weight within
    * each group's bounded value list and the smallest value whose
    * doubled cumulative weight reaches the group total (the lower
    * weighted median — deterministic, no interpolation, exact decimal
    * comparisons; weights sum at 2 decimal places). Output: (group,
    * median, total_weight).
    */
  def weightedMedianQuantized(df: DataFrame, group: Column, value: Column,
                              weight: Column): DataFrame = {
    val scale = 2
    // a NULL value cell would sort first and pollute every cumulative
    // weight; a NULL weight contributes no mass — both drop
    val wq = df.where(value.isNotNull && weight.isNotNull)
      .groupBy(group.as("grp"), value.as("v"))
      .agg(sum(weight.cast(s"decimal(38,$scale)")).as("w"))
    val wc = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wt = Window.partitionBy(col("grp"))
    wq.withColumn("_cum", sum(col("w")).over(wc))
      .withColumn("_tot", sum(col("w")).over(wt))
      .groupBy(col("grp"))
      .agg(min(when(col("_cum") * 2 >= col("_tot"), col("v"))).as("median"),
        max(col("_tot")).cast("double").as("total_weight"))
  }

  /** 2-D skyline (Pareto frontier): rows not dominated under (minimize
    * `cost`, maximize `value`) — row r is dominated iff some other row has
    * cost ≤ r.cost ∧ value ≥ r.value with at least one strict. Classic
    * OLAP operator (Börzsönyi et al., ICDE 2001); the naive form is the
    * quadratic NOT-EXISTS self-join, which dies at corpus scale.
    *
    * This implementation requires `cost` to have a BOUNDED DISTINCT
    * DOMAIN (quantized — sizes, grades, bucketed prices), which turns the
    * frontier into the aucExact group-cumsum shape: ONE corpus
    * aggregation to per-cost maxima (map-side combined, ≤|domain| rows),
    * an unpartitioned running-max window over that bounded table (lint-
    * compliant: sits above an aggregate), and a broadcast join of the
    * surviving frontier back onto the corpus. A row is on the skyline iff
    * its value equals its cost's maximum AND that maximum strictly
    * exceeds the best value over all strictly smaller costs (ties on the
    * frontier point all survive — neither dominates the other without a
    * strict inequality).
    *
    * Scale: one shuffle (the bounded agg) + one broadcast probe; never
    * all-pairs. Output: the input rows on the frontier.
    */
  def skyline2D(df: DataFrame, costCol: String, valueCol: String): DataFrame = {
    // null-cost rows can't be on (or dominate) the frontier, but without
    // this filter the NULL group would sort FIRST (asc nulls-first) and
    // its max value would pollute the running max for every real cost
    val perCost = df.where(col(costCol).isNotNull)
      .groupBy(col(costCol).as("_sk_cost"))
      .agg(max(col(valueCol)).as("_sk_vmax"))
    val w = Window.orderBy(col("_sk_cost"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perCost
      .withColumn("_sk_prev", max(col("_sk_vmax")).over(w))
      .where(col("_sk_prev").isNull || col("_sk_vmax") > col("_sk_prev"))
      .select(col("_sk_cost"), col("_sk_vmax"))
    df.join(broadcast(frontier),
        col(costCol) === col("_sk_cost") && col(valueCol) === col("_sk_vmax"))
      .drop("_sk_cost", "_sk_vmax")
  }
}
