package graft

import org.apache.spark.sql.functions._
import graft.ops.{Features, MlEval}

/** Model-evaluation metrics (MlEval) and featurization (Features). */
class MlEvalSpec extends SparkSpec {
  import spark.implicits._

  // ---- aucExact ----

  /** Brute-force AUC: (#concordant + ½·#score-ties) / (n_pos·n_neg). */
  private def bruteAuc(rows: Seq[(Long, Long)]): Double = {
    val pos = rows.filter(_._2 == 1L).map(_._1)
    val neg = rows.filter(_._2 == 0L).map(_._1)
    val num = (for (p <- pos; n <- neg) yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    num / (pos.size.toDouble * neg.size.toDouble)
  }

  test("aucExact matches brute-force pair counting, ties included") {
    val rows = Seq[(Long, Long)](
      (5, 1), (5, 0), (3, 1), (3, 1), (3, 0), (7, 0), (9, 1), (1, 0), (5, 1))
    val df = rows.toDF("s", "y")
    val r = MlEval.aucExact(df, col("s"), col("y")).head()
    assert(r.getAs[Long]("n_pos") === 5L)
    assert(r.getAs[Long]("n_neg") === 4L)
    assert(r.getAs[Double]("auc") === bruteAuc(rows))
  }

  test("aucExact: perfect separation gives exactly 1, reversal exactly 0, all-tie exactly 0.5") {
    val sep = Seq[(Long, Long)]((10, 1), (11, 1), (1, 0), (2, 0)).toDF("s", "y")
    assert(MlEval.aucExact(sep, col("s"), col("y")).head().getAs[Double]("auc") === 1.0)
    val rev = Seq[(Long, Long)]((1, 1), (2, 1), (10, 0), (11, 0)).toDF("s", "y")
    assert(MlEval.aucExact(rev, col("s"), col("y")).head().getAs[Double]("auc") === 0.0)
    val flat = Seq[(Long, Long)]((4, 1), (4, 0), (4, 1), (4, 0)).toDF("s", "y")
    assert(MlEval.aucExact(flat, col("s"), col("y")).head().getAs[Double]("auc") === 0.5)
  }

  test("aucExact is partition-order independent (integer rank algebra)") {
    val df = spark.range(0, 997).select(
      ((col("id") * 37) % 71 + when(col("id") % 3 === 0, 30).otherwise(0)).as("s"),
      when(col("id") % 3 === 0, 1L).otherwise(0L).as("y"))
    val a = MlEval.aucExact(df, col("s"), col("y")).head()
    val b = MlEval.aucExact(df.repartition(7, col("s")), col("s"), col("y")).head()
    assert(a === b)
  }

  // ---- confusionReport ----

  test("confusionReport: exact cells and single-division metrics; threshold is >=") {
    val df = Seq[(Long, Long)](
      (60, 1), (60, 0), (50, 1), (49, 1), (10, 0), (80, 0), (90, 1)).toDF("s", "y")
    val r = MlEval.confusionReport(df, col("s"), col("y"), threshold = 50L).head()
    // s>=50: (60,1)(60,0)(50,1)(80,0)(90,1) → tp=3 fp=2; below: fn=1 tn=1
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"),
      r.getAs[Long]("tn")) === ((3L, 2L, 1L, 1L)))
    assert(r.getAs[Double]("accuracy") === 4.0 / 7.0)
    assert(r.getAs[Double]("precision_") === 3.0 / 5.0)
    assert(r.getAs[Double]("recall_") === 3.0 / 4.0)
    assert(r.getAs[Double]("f1") === 6.0 / 9.0)
  }

  // ---- calibrationBins ----

  test("calibrationBins: boundary assignment and exact decimal mean_pred") {
    val df = Seq[(Long, Long)]((0, 0), (9, 1), (10, 1), (19, 0), (99, 1))
      .toDF("p", "y")
    val m = MlEval.calibrationBins(df, col("p"), col("y"))
      .collect().map(r => r.getAs[Long]("bin") ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean_pred"), r.getAs[Double]("pos_rate"))).toMap
    assert(m(0L) === ((2L, 4.5 / 100.0, 0.5)))   // p=0,9 → bin 0
    assert(m(1L) === ((2L, 14.5 / 100.0, 0.5)))  // p=10,19 → bin 1
    assert(m(9L) === ((1L, 0.99, 1.0)))
  }

  // ---- liftDeciles ----

  test("liftDeciles: decile support sums to stratum size; top decile captures planted positives") {
    // 100 rows in one stratum; positives are exactly the 10 highest scores
    val df = spark.range(0, 100).select(lit("s").as("seg"), col("id"),
      col("id").as("score"), when(col("id") >= 90, 1L).otherwise(0L).as("y"))
    val rows = MlEval.liftDeciles(df, col("seg"), col("score"), col("id"), col("y"))
      .collect()
    assert(rows.map(_.getAs[Long]("n")).sum === 100L)
    val byDecile = rows.map(r => r.getAs[Int]("decile") -> r).toMap
    // ntile orders score DESC: decile 1 = ids 90..99 = all positives
    assert(byDecile(1).getAs[Long]("n_pos") === 10L)
    assert(byDecile(1).getAs[Double]("rate") === 1.0)
    assert(byDecile(1).getAs[Double]("lift") === 10.0) // base rate 0.1
    assert((2 to 10).forall(d => byDecile(d).getAs[Long]("n_pos") === 0L))
  }

  // ---- featureHash ----

  test("featureHash: buckets in range, weights bounded by token count, deterministic") {
    val df = Seq((1L, "a b c a b x y z w q"), (2L, "a a a"), (3L, "")).toDF("doc", "text")
    val out = Features.featureHash(df, col("doc"), col("text"), dim = 8).collect()
    assert(out.forall(r => r.getAs[Long]("bucket") >= 0 && r.getAs[Long]("bucket") < 8))
    // per-doc |weight| sums never exceed the doc's token count
    val perDoc = out.groupBy(_.getAs[Long]("id"))
      .view.mapValues(_.map(r => math.abs(r.getAs[Long]("weight"))).sum).toMap
    assert(perDoc(1L) <= 10L && perDoc(2L) === 3L)
    assert(!perDoc.contains(3L)) // empty text → no rows (sparse)
    // same token always lands in the same bucket with the same sign
    val again = Features.featureHash(df, col("doc"), col("text"), dim = 8).collect()
    assert(out.map(_.toSeq).toSet === again.map(_.toSeq).toSet)
  }

  test("featureHash: identical token multisets produce identical sparse vectors") {
    val df = Seq((1L, "x y x z"), (2L, "z x y x")).toDF("doc", "text")
    val out = Features.featureHash(df, col("doc"), col("text"), dim = 16)
      .collect().groupBy(_.getAs[Long]("id"))
      .view.mapValues(_.map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("weight"))).toSet).toMap
    assert(out(1L) === out(2L))
  }

  // ---- pcaFit / pcaProject ----

  test("pcaFit on an axis-aligned lattice is exact: diagonal covariance passes through Jacobi untouched") {
    val df = spark.range(0, 64).select(
      (col("id") % 4).cast("double").as("x1"),
      (expr("(id div 4) % 4") * 2).cast("double").as("x2"),
      (expr("(id div 16) % 4") * 3).cast("double").as("x3"))
    val m = Features.pcaFit(df, Seq(col("x1"), col("x2"), col("x3")))
    assert(m.n === 64L)
    assert(m.mean.toSeq === Seq(1.5, 3.0, 4.5))
    assert(m.eigenvalues.toSeq === Seq(11.25, 5.0, 1.25))
    // sign-pinned exact axis components, ordered by variance desc
    assert(m.components(0).toSeq === Seq(0.0, 0.0, 1.0))
    assert(m.components(1).toSeq === Seq(0.0, 1.0, 0.0))
    assert(m.components(2).toSeq === Seq(1.0, 0.0, 0.0))
  }

  test("pcaFit recovers a rotated axis: y=x line has component (1/√2, 1/√2), second eigenvalue 0") {
    val df = spark.range(-5, 6).select(col("id").cast("double").as("x"),
      col("id").cast("double").as("y"))
    val m = Features.pcaFit(df, Seq(col("x"), col("y")))
    val inv = math.sqrt(0.5)
    assert(math.abs(m.components(0)(0) - inv) < 1e-12)
    assert(math.abs(m.components(0)(1) - inv) < 1e-12)
    assert(math.abs(m.eigenvalues(1)) < 1e-12)
    // sign pinning holds for the anti-diagonal too: largest-|entry| positive
    val df2 = spark.range(-5, 6).select(col("id").cast("double").as("x"),
      (-col("id")).cast("double").as("y"))
    val m2 = Features.pcaFit(df2, Seq(col("x"), col("y")))
    assert(m2.components(0)(0) > 0) // pinned positive on the first max-|v| index
    assert(math.abs(m2.components(0)(0) + m2.components(0)(1)) < 1e-12)
  }

  test("pcaFit: NULL/NaN/Infinity feature rows DROP — the moments never mis-weight against count") {
    import spark.implicits._
    val clean = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0)).toDF("x", "y")
    val dirty = clean.unionByName(Seq(
      (Double.NaN, 1.0), (1.0, Double.PositiveInfinity),
      (Double.NegativeInfinity, 1.0)).toDF("x", "y"))
      .unionByName(Seq((None: Option[Double], Some(1.0))).toDF("x", "y"))
    val a = Features.pcaFit(clean, Seq(col("x"), col("y")))
    val b = Features.pcaFit(dirty, Seq(col("x"), col("y")))
    assert(b.n == a.n, "invalid rows must not count into n")
    assert(b.mean.toSeq == a.mean.toSeq)
    assert(b.eigenvalues.toSeq == a.eigenvalues.toSeq)
  }

  test("pcaFit eigenpairs reconstruct the covariance (V·diag(λ)·Vᵀ ≈ C) on a dense matrix") {
    // deterministic correlated features
    val df = spark.range(0, 500).select(
      (col("id") % 13).cast("double").as("a"),
      ((col("id") % 13) * 2 + (col("id") % 5)).cast("double").as("b"),
      ((col("id") % 7) - (col("id") % 13)).cast("double").as("c"))
    val cols = Seq(col("a"), col("b"), col("c"))
    val m = Features.pcaFit(df, cols)
    val d = 3
    // rebuild covariance from eigenpairs
    val rec = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- 0 until d; k <- 0 until d)
      rec(i)(j) += m.eigenvalues(k) * m.components(k)(i) * m.components(k)(j)
    // reference covariance via direct computation on collected rows
    val rows = df.collect().map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val n = rows.length.toDouble
    val mu = Array.tabulate(d)(i => rows.map(_(i)).sum / n)
    for (i <- 0 until d; j <- 0 until d) {
      val c = rows.map(r => (r(i) - mu(i)) * (r(j) - mu(j))).sum / n
      assert(math.abs(rec(i)(j) - c) < 1e-8, s"cov($i,$j): ${rec(i)(j)} vs $c")
    }
    // components are orthonormal
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => m.components(i)(k) * m.components(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-10)
    }
  }

  test("pcaProject is a pure projection (no exchange) and centers exactly on the lattice") {
    val df = spark.range(0, 64).select(col("id"),
      (col("id") % 4).cast("double").as("x1"),
      (expr("(id div 4) % 4") * 2).cast("double").as("x2"),
      (expr("(id div 16) % 4") * 3).cast("double").as("x3"))
    val cols = Seq(col("x1"), col("x2"), col("x3"))
    val m = Features.pcaFit(df, cols)
    val out = df.select(col("id") +: Features.pcaProject(cols, m, 2): _*)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "projection must not shuffle")
    val r = out.where(col("id") === 63).head()
    assert(r.getAs[Double]("pc1") === 4.5) // x3=9, μ=4.5
    assert(r.getAs[Double]("pc2") === 3.0) // x2=6, μ=3
  }

  test("cohenKappa: hand-computed value, null exclusion, perfect/chance/degenerate edges") {
    import spark.implicits._
    // classic 2x2: A/B agree 20 yes + 15 no, disagree 10+5 -> kappa = 0.4
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(15)(("n", "n")) ++
      Seq.fill(10)(("y", "n")) ++ Seq.fill(5)(("n", "y")) ++
      Seq(("y", null), (null, "n"))
    val got = MlEval.cohenKappa(rows.toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Long, Long, Double, Double, Option[Double])].collect().head
    // n=50 agree=35 nA=(y30,n20) nB=(y25,n25) sum_prod=30*25+20*25=1250
    assert(got._1 === 50L && got._2 === 35L && got._3 === 1250L)
    assert(got._6 === Some((50.0 * 35 - 1250) / (50.0 * 50 - 1250))) // 0.4
    // perfect agreement -> kappa 1
    val perfect = MlEval.cohenKappa(Seq(("a","a"),("b","b"),("a","a")).toDF("a","b"),
      col("a"), col("b")).as[(Long, Long, Long, Double, Double, Option[Double])].collect().head
    assert(perfect._6 === Some(1.0))
    // both annotators constant -> pe = 1 -> NULL kappa, not 0/0
    val degen = MlEval.cohenKappa(Seq(("x","x"),("x","x")).toDF("a","b"),
      col("a"), col("b")).as[(Long, Long, Long, Double, Double, Option[Double])].collect().head
    assert(degen._6 === None)
  }

  test("abTest: hand-computed z on a classic 2x2; degenerate variants yield NULL z") {
    import spark.implicits._
    // A: 100 exposures 20 conv; B: 100 exposures 30 conv
    val rows = (Seq.fill(20)((false, true)) ++ Seq.fill(80)((false, false)) ++
      Seq.fill(30)((true, true)) ++ Seq.fill(70)((true, false)))
      .map { case (b, c) => ("m", b, c) }
    val got = MlEval.abTest(rows.toDF("g", "b", "c"), col("g"), col("b"), col("c"))
      .as[(String, Long, Long, Long, Long, Double, Double, Double, Option[Double])]
      .collect().head
    assert((got._2, got._3, got._4, got._5) === ((100L, 20L, 100L, 30L)))
    assert(got._6 === 0.2 && got._7 === 0.3)
    val p = 50.0 / 200.0
    val z = (0.3 - 0.2) / math.sqrt(p * (1 - p) * (1.0 / 100 + 1.0 / 100))
    assert(got._9 === Some(z))
    // all-converted pool -> NULL z (se would be 0)
    val degen = Seq(("d", false, true), ("d", true, true)).toDF("g", "b", "c")
    val g2 = MlEval.abTest(degen, col("g"), col("b"), col("c"))
      .as[(String, Long, Long, Long, Long, Double, Double, Double, Option[Double])]
      .collect().head
    assert(g2._9 === None)
  }

  test("prCurve: exact TP/FP/FN at every threshold; NULL scores drop") {
    import spark.implicits._
    // y=1 at scores {3,3,2}; y=0 at {3,1}; NULL score ignored
    val df = Seq((Some(3L), 1L), (Some(3L), 1L), (Some(3L), 0L), (Some(2L), 1L),
      (Some(1L), 0L), (None: Option[Long], 1L)).toDF("s", "y")
    val got = graft.ops.MlEval.prCurve(df, col("s"), col("y"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(-_._1)
    assert(got.toSeq === Seq(
      (3L, 2L, 1L, 1L, 666666L, 666666L),
      (2L, 3L, 1L, 0L, 750000L, 1000000L),
      (1L, 3L, 2L, 0L, 600000L, 1000000L)))
  }

  test("prCurve: NULL labels drop instead of counting as confirmed negatives") {
    import spark.implicits._
    val labeled = Seq((5L, Some(1L)), (5L, Some(0L)), (4L, Some(1L))).toDF("s", "y")
    val withNulls = labeled.unionByName(
      Seq((5L, None: Option[Long]), (4L, None: Option[Long])).toDF("s", "y"))
    val a = graft.ops.MlEval.prCurve(labeled, col("s"), col("y"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(-_._1).toSeq
    val b = graft.ops.MlEval.prCurve(withNulls, col("s"), col("y"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(-_._1).toSeq
    assert(a === b, "an unlabeled row must not inflate fp / deflate precision")
  }

  test("liftDeciles: NULL scores and labels drop (no phantom bottom-decile, undistorted rates)") {
    import spark.implicits._
    val clean = (1 to 20).map(i => ("s", Some(i.toLong), i.toLong, Some((i % 2).toLong)))
      .toDF("seg", "sc", "id", "y")
    val noisy = clean.unionByName(Seq(
      ("s", None: Option[Long], 100L, Some(1L)),
      ("s", Some(10L), 101L, None: Option[Long])).toDF("seg", "sc", "id", "y"))
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.MlEval.liftDeciles(df, col("seg"), col("sc"), col("id"), col("y"))
        .select("decile", "n", "n_pos").as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(clean) === run(noisy))
  }

  test("calibrationBins: pCenti=100 folds into the top bin; out-of-domain values drop") {
    import spark.implicits._
    val df = Seq((100L, 1L), (95L, 1L), (-5L, 0L), (101L, 0L), (5L, 0L)).toDF("p", "y")
    val got = graft.ops.MlEval.calibrationBins(df, col("p"), col("y"))
      .select("bin", "n").as[(Long, Long)].collect().toMap
    assert(got === Map(9L -> 2L, 0L -> 1L),
      s"100 joins bin 9, -5/101 drop, 5 is bin 0's only row: $got")
  }
}
