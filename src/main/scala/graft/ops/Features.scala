package graft.ops

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus featurization: the hashing trick (fixed-dimension sparse text
  * features without a vocabulary pass) and exact-covariance PCA (linear
  * dimensionality reduction for embedding columns).
  *
  * Scale notes (100 TB):
  *  - [[featureHash]] is a linear explode + one map-side-combined
  *    aggregation on (id, bucket): no vocabulary broadcast, no second
  *    pass, dimensionality fixed up front — the reason the hashing trick
  *    exists at corpus scale (Weinberger et al., ICML'09).
  *  - [[pcaFit]] reduces the WHOLE corpus to one d(d+3)/2-cell moment
  *    aggregation (mergeable decimal sums, map-side partials); the d×d
  *    eigenproblem is driver-side metadata work (d ≲ a few hundred).
  *    [[pcaProject]] folds the result into literal expressions — a pure
  *    projection, no join, no broadcast, whole-stage codegen.
  */
object Features {

  /** SQL mirror of [[featureHash]]'s bucket recipe (first 8 md5 hex
    * chars mod dim) — paired like `Layout.zValue`/`zValueSql` so the
    * hashing-trick formula can never drift between engine and oracle
    * (it was previously hand-inlined at the oracle site).
    */
  def hashFeatureBucketSql(tok: String, dim: Int): String =
    s"('0x' || substring(md5($tok), 1, 8))::BIGINT % $dim"

  /** SQL mirror of the ±1 sign bit (9th md5 hex char — an independent
    * hash bit, so colliding tokens cancel in expectation instead of
    * accumulating upward bias).
    */
  def hashFeatureSignSql(tok: String): String =
    s"CASE WHEN ('0x' || substring(md5($tok), 9, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END"

  private def bucketFromHash(h: Column, dim: Int): Column =
    Sampling.bucketFromMd5(h, dim.toLong)

  private def signFromHash(h: Column): Column =
    when(conv(substring(h, 9, 1), 16, 10).cast("long") % 2 === 0, lit(1L))
      .otherwise(lit(-1L))

  /** Sparse signed-hash features: one row per (id, bucket) with the
    * signed token-occurrence sum. Buckets a document never touches are
    * absent (sparse); cancelled buckets (weight 0) are kept — they carry
    * the information that the bucket was touched. The md5 digest is
    * projected ONCE per token row; bucket and sign both read slices of
    * that one hash (hashing is the dominant per-row cost of the pass).
    */
  def featureHash(df: DataFrame, id: Column, text: Column, dim: Int): DataFrame = {
    require(dim > 0)
    df.select(id.as("id"), explode(TextAnalysis.tokens(text)).as("_tok"))
      .select(col("id"), md5(col("_tok").cast("string")).as("_h"))
      .groupBy(col("id"), bucketFromHash(col("_h"), dim).as("bucket"))
      .agg(sum(signFromHash(col("_h"))).as("weight"))
  }

  /** Fitted PCA: eigenvalues descending; components[j] is the j-th
    * principal axis (unit vector over the input features, sign pinned:
    * the largest-|entry| coordinate is positive, first index winning
    * ties — eigenvectors are only defined up to sign, so an unpinned
    * fit would be run-order-dependent).
    */
  final case class PcaModel(n: Long, mean: Array[Double],
                            eigenvalues: Array[Double],
                            components: Array[Array[Double]])

  /** Exact-moment PCA fit: ONE aggregation computes n, Σxᵢ and Σxᵢxⱼ as
    * decimals (exact, partition-order-free), the population covariance
    * is assembled on the driver in exact integer-decimal arithmetic
    * (covᵢⱼ = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ)/n², one terminal division at scale 30),
    * and a cyclic Jacobi eigensolver diagonalizes the d×d result.
    *
    * Feature-domain contract (enforced, not assumed): rows with a NULL,
    * NaN, or infinite feature DROP before the moments — under ANSI-off
    * their decimal cast is NULL, which would silently vanish from the
    * sums while count() still booked the row in n (a mis-weighted mean
    * and covariance with no error; an all-invalid column would NPE on
    * the driver). The magnitude bound is what the accumulators actually
    * hold, not folklore: the cross-moment sum widens to decimal(38,2·s),
    * so at the fixed scale 6 the sum capacity is 10²⁶ — i.e.
    * Σx² ≤ 10²⁶, |x| ≲ 3·10⁶ at 10¹² rows (|x| ≲ 10⁹ only up to ~10⁸
    * rows). Overflow raises with the rescale hint instead of NPEing.
    */
  def pcaFit(df: DataFrame, features: Seq[Column]): PcaModel = {
    require(features.nonEmpty)
    val scale = 6
    val d = features.length
    val valid = features.map { c =>
      val x = c.cast("double")
      x.isNotNull && !isnan(x) && x =!= Double.PositiveInfinity &&
        x =!= Double.NegativeInfinity
    }.reduce(_ && _)
    // per-VALUE overflow guard: one oversized row's x² overflows its own
    // decimal(32,2s) cast to NULL under ANSI-off, which sum() silently
    // SKIPS while count() still books the row in n — a mis-weighted
    // covariance with no error (the whole-sum require below only catches
    // total overflow). |x| < 10^(16−s) keeps every per-value product
    // inside decimal(32,2s); violations raise in-plan with the hint.
    val lim = math.pow(10.0, 16.0 - scale)
    val proj = df.where(valid).select(features.zipWithIndex.map { case (c, i) =>
      val x = c.cast("double")
      when(abs(x) < lit(lim), x)
        .otherwise(raise_error(lit(
          s"pcaFit: |feature| >= 1e${16 - scale} overflows its per-value " +
            "decimal(32," + (2 * scale) + ") product — rescale the features")))
        .as(s"_x$i") }: _*)
    val aggs =
      Seq(count(lit(1)).as("_n")) ++
      (0 until d).map(i => sum(col(s"_x$i").cast(s"decimal(28,$scale)")).as(s"_s$i")) ++
      (for (i <- 0 until d; j <- i until d) yield
        sum((col(s"_x$i") * col(s"_x$j")).cast(s"decimal(32,${2 * scale})"))
          .as(s"_p${i}_$j"))
    val row = proj.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    require(n > 0, "pcaFit over an empty input")
    val nBd = JBigDecimal.valueOf(n)
    def moment(idx: Int, what: String): JBigDecimal = {
      val v = row.getDecimal(idx)
      require(v != null,
        s"pcaFit: $what sum overflowed its decimal window (or the column " +
          "is empty after the validity filter) — rescale the features")
      v
    }
    val s: Array[JBigDecimal] = Array.tabulate(d)(i => moment(1 + i, s"feature ${i}"))
    var k = 1 + d
    val cov = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val p = moment(k, s"cross-moment ($i,$j)"); k += 1
      // (n·p − sᵢ·sⱼ) / n² — numerator exact; one divide, fixed scale
      val num = nBd.multiply(p).subtract(s(i).multiply(s(j)))
      val c = num.divide(nBd.multiply(nBd), 30, RoundingMode.HALF_EVEN).doubleValue()
      cov(i)(j) = c; cov(j)(i) = c
    }
    val mean = Array.tabulate(d)(i =>
      s(i).divide(nBd, 30, RoundingMode.HALF_EVEN).doubleValue())
    val (eig, vecs) = jacobiEigen(cov)
    // order by eigenvalue desc (index tiebreak), pin sign
    val order = (0 until d).sortBy(i => (-eig(i), i))
    val evs = order.map(eig).toArray
    val comps = order.map { oi =>
      val v = Array.tabulate(d)(r => vecs(r)(oi))
      val m = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(m) < 0) v.map(x => -x) else v
    }.toArray
    PcaModel(n, mean, evs, comps)
  }

  /** Cyclic Jacobi on a symmetric matrix: returns (eigenvalues, column
    * eigenvectors). Deterministic rotation order (row-major sweeps);
    * converges quadratically; already-diagonal inputs take zero
    * rotations (the off-diagonal check short-circuits), so analytic
    * fixtures pass through exactly.
    */
  private def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    // convergence is RELATIVE to the matrix's scale: an absolute cutoff
    // would never fire for large-magnitude covariances (entries ~10¹⁸ at
    // the documented |x| ≲ 10⁹ feature bound leave rounding noise far
    // above any absolute epsilon) and would burn all sweeps every fit.
    // Exactly-diagonal inputs still exit immediately (0 > anything is
    // false), preserving the analytic-fixture passthrough.
    val frob = {
      var s = 0.0
      for (i <- 0 until d; j <- 0 until d) s += m(i)(j) * m(i)(j)
      math.sqrt(s)
    }
    val tol = {
      val t = 1e-14 * frob
      t * t
    }
    var sweep = 0
    while (sweep < 64 && {
      var off = 0.0
      for (i <- 0 until d; j <- i + 1 until d) off += a(i)(j) * a(i)(j)
      off > tol
    }) {
      for (p <- 0 until d; q <- p + 1 until d if a(p)(q) != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        // sign(0) must be +1 here: equal diagonal entries (θ=0) need the
        // full 45° rotation, not a skipped one
        val sgn = if (theta >= 0.0) 1.0 else -1.0
        val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val sn = t * c
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - sn * aiq
          a(i)(q) = sn * aip + c * aiq
        }
        for (j <- 0 until d) {
          val apj = a(p)(j); val aqj = a(q)(j)
          a(p)(j) = c * apj - sn * aqj
          a(q)(j) = sn * apj + c * aqj
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - sn * viq
          v(i)(q) = sn * vip + c * viq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project onto the first k principal axes as literal expressions:
    * pc_j = Σᵢ (xᵢ − μᵢ)·vⱼᵢ. Zero-weight terms are dropped from the
    * expression entirely (exactness for axis-aligned models; shorter
    * codegen for sparse components).
    */
  def pcaProject(features: Seq[Column], model: PcaModel, k: Int): Seq[Column] = {
    require(k > 0 && k <= model.components.length)
    // dimension check: a SHORTER feature list would silently truncate the
    // projection (missing terms, wrong coordinates, no error); a longer
    // one would AIOOBE deep in the expression build
    require(features.length == model.mean.length,
      s"pcaProject: ${features.length} feature columns for a model fit on " +
        s"${model.mean.length}")
    (0 until k).map { j =>
      val comp = model.components(j)
      val terms = features.zipWithIndex.collect {
        case (c, i) if comp(i) != 0.0 =>
          (c.cast("double") - lit(model.mean(i))) * lit(comp(i))
      }
      val e = if (terms.isEmpty) lit(0.0) else terms.reduce(_ + _)
      e.as(s"pc${j + 1}")
    }
  }
}
