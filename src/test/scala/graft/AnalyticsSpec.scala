package graft

import org.apache.spark.sql.functions._
import graft.ops.{Analytics, Sampling}

/** Semantics of the round-9 profiling/quality additions: fixed-bound
  * histogram, Deequ-style expectations, rolling-frame stats, MAD outlier
  * stats, contingency marginals, deterministic k-per-group sampling.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("histogramFixed: clamps under/overflow into end buckets, excludes null/NaN, exact edges") {
    val df = Seq(Some(-5.0), Some(0.0), Some(9.9), Some(10.0), Some(25.0), Some(99.0),
      Some(1e9), None, Some(Double.NaN)).toDF("v")
    val got = Analytics.histogramFixed(df, col("v"), 0.0, 10.0, 5)
      .orderBy("bucket").as[(Int, Double, Long)].collect().toList
    // -5 clamps to bucket 0; 1e9 clamps to bucket 4; null/NaN dropped
    assert(got == List((0, 0.0, 3L), (1, 10.0, 1L), (2, 20.0, 1L), (4, 40.0, 2L)))
  }

  test("expectations: one pass, per-check violation counts and passed flags") {
    val df = Seq((1, Some(10.0)), (2, None), (3, Some(-1.0)), (4, Some(2.0)))
      .toDF("id", "price")
    val got = Analytics.expectations(df, Seq(
        "price_not_null" -> col("price").isNull,
        "price_positive" -> (col("price").isNull || col("price") <= 0.0),
        "id_positive" -> (col("id") <= 0)))
      .as[(String, Long, Long, Boolean)].collect().toList.sortBy(_._1)
    assert(got == List(
      ("id_positive", 0L, 4L, true),
      ("price_not_null", 1L, 4L, false),
      ("price_positive", 2L, 4L, false)))
  }

  test("uniquenessViolations counts ALL members of duplicated cliques; orphanCount skips null fks") {
    val child = Seq((Some(1), "a"), (Some(1), "b"), (Some(1), "c"), (Some(2), "d"),
      (None, "e"), (Some(9), "f")).toDF("fk", "payload")
    val uniq = Analytics.uniquenessViolations(child, Seq(col("fk")), "fk_unique")
      .as[(String, Long, Long, Boolean)].head()
    // the fk=1 clique has 3 members — all 3 are violations, not 3−1
    assert(uniq == (("fk_unique", 3L, 6L, false)))
    val parent = Seq(1, 2, 3).toDF("pk")
    val orph = Analytics.orphanCount(child, col("fk"), parent, col("pk"), "fk_refs")
      .as[(String, Long, Long, Boolean)].head()
    // fk=9 is the only orphan; the NULL fk is completeness's business
    assert(orph == (("fk_refs", 1L, 6L, false)))
  }

  test("rollingStats: frame is (nPreceding, current], sums exact, repartition-invariant") {
    val df = Seq((1L, 1L, 1.5), (1L, 2L, 2.5), (1L, 3L, 4.0), (1L, 4L, 8.0), (2L, 1L, 100.0))
      .toDF("k", "seq", "v")
    def run(parts: Int) = Analytics.rollingStats(
        df.repartition(parts), col("k"), Seq(col("seq")), col("v"), 2)
      .orderBy("k", "seq")
      .select("k", "seq", "roll_sum", "roll_n", "roll_avg")
      .as[(Long, Long, Double, Long, Double)].collect().toList
    val got = run(1)
    assert(got == List(
      (1L, 1L, 1.5, 1L, 1.5), (1L, 2L, 4.0, 2L, 2.0), (1L, 3L, 8.0, 3L, 8.0 / 3.0),
      (1L, 4L, 14.5, 3L, 14.5 / 3.0), (2L, 1L, 100.0, 1L, 100.0)))
    assert(run(7) == got)
  }

  test("madStats: exact median/MAD, and a wild outlier moves them not at all (vs mean/std)") {
    // group g: symmetric 1..5 plus a 1e6 corruption — median stays 3-ish,
    // MAD stays small, and exactly the corrupt row is flagged
    val df = (Seq.tabulate(5)(i => ("g", (i + 1).toDouble)) :+ (("g", 1e6)))
      .toDF("grp", "v")
    val (g, n, med, mad, out) = Analytics.madStats(df, col("grp"), col("v"))
      .as[(String, Long, Double, Double, Long)].head()
    assert(g == "g" && n == 6L)
    assert(med == 3.5 && mad == 1.5) // interp at p=.5 over 6 and the deviations
    assert(out == 1L)                // only the 1e6 row exceeds 3·MAD
  }

  test("contingency: marginals are exact row/col/total sums over the cells") {
    val df = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"), ("b", "y"))
      .toDF("p", "q")
    val got = Analytics.contingency(df, col("p"), col("q"))
      .orderBy("a", "b")
      .as[(String, String, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      ("a", "x", 2L, 3L, 3L, 6L), ("a", "y", 1L, 3L, 3L, 6L),
      ("b", "x", 1L, 3L, 3L, 6L), ("b", "y", 2L, 3L, 3L, 6L)))
  }

  test("groupSample: exactly min(k, |group|) rows per group, a subset of the input, stable under repartition") {
    val df = (1 to 50).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "src")
    def run(parts: Int) = Sampling.groupSample(df.repartition(parts), col("src"), col("id"), 4)
      .as[(Long, String)].collect().toSet
    val got = run(1)
    assert(got.groupBy(_._2).values.forall(_.size == 4))
    assert(got.subsetOf((1 to 50).map(i => (i.toLong, s"s${i % 3}")).toSet))
    assert(run(9) == got)
    // a group smaller than k returns the whole group
    val tiny = Seq((1L, "only"), (2L, "only")).toDF("id", "src")
    assert(Sampling.groupSample(tiny, col("src"), col("id"), 4).count() == 2)
  }

  test("triangleStats: K4 exact, circulant C8(1,2), dirty edges normalize") {
    def stats(edges: Seq[(Long, Long)]) =
      Analytics.triangleStats(edges.toDF("s", "t"), "s", "t")
        .as[(Long, Long, Long, Long, Double)].head()
    // K4: 4 vertices, 6 edges, 12 wedges, 4 triangles, clustering 1.0
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    assert(stats(k4) == ((4L, 6L, 12L, 4L, 1.0)))
    // C8(1,2): 8 vertices, 16 edges, deg 4 each → 48 wedges, exactly the
    // 8 consecutive-triple triangles ({i,i+2,i+4} is NOT closed at N=8)
    val c8 = (0L to 7L).flatMap(i => Seq((i, (i + 1) % 8), (i, (i + 2) % 8)))
    assert(stats(c8) == ((8L, 16L, 48L, 8L, 0.5)))
    // self-loops drop; duplicate and reversed copies collapse
    val dirty = Seq((0L, 1L), (1L, 0L), (0L, 1L), (2L, 2L), (1L, 2L), (2L, 0L))
    assert(stats(dirty) == ((3L, 3L, 3L, 1L, 1.0)))
  }

  private def undirected(es: Seq[(String, String)]) =
    (es ++ es.map(_.swap)).toDF("src", "dst")

  test("bfsHops: path graph distances, disconnected component unreached") {
    val e = undirected(Seq("a" -> "b", "b" -> "c", "c" -> "d", "x" -> "y"))
    val got = Analytics.bfsHops(e, Seq("a").toDF("node"), maxHops = 6)
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3)) // x, y absent
  }

  test("bfsHops: multi-source takes the minimum over seeds; cycles terminate") {
    // ring of 6 with seeds at opposite nodes → max dist must be 1..2, not 3+
    val ring = (0 to 5).map(i => i.toString -> ((i + 1) % 6).toString)
    val got = Analytics.bfsHops(undirected(ring), Seq("0", "3").toDF("node"), maxHops = 10)
      .as[(String, Int)].collect().toMap
    assert(got == Map("0" -> 0, "3" -> 0, "1" -> 1, "5" -> 1, "2" -> 1, "4" -> 1))
  }

  test("bfsHops: maxHops truncates the expansion; early-stop never exceeds diameter rounds") {
    val e = undirected(Seq("a" -> "b", "b" -> "c", "c" -> "d"))
    val got = Analytics.bfsHops(e, Seq("a").toDF("node"), maxHops = 2)
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "b" -> 1, "c" -> 2)) // d beyond the budget
  }

  test("dyadicEwma: geometric halving, warm-up zeros, exact integer numerator") {
    val df = Seq((1L, 1L, 65536L), (1L, 2L, 0L), (1L, 3L, 0L), (1L, 4L, 65536L))
      .toDF("k", "t", "v")
    val got = graft.ops.Analytics.dyadicEwma(df, col("k"), Seq(col("t")), col("v"))
      .select(col("t"), col("ewma")).as[(Long, Double)].collect().toMap
    // impulse response: weight of lag k is 2^-(k+1)
    assert(got(1L) == 65536.0 / 2)      // the impulse itself
    assert(got(2L) == 65536.0 / 4)      // one step later
    assert(got(3L) == 65536.0 / 8)
    assert(got(4L) == 65536.0 / 2 + 65536.0 / 16) // new impulse + decayed old
  }

  test("quantileGrid: interval contains the exact quantile, error bounded by width") {
    val df = (0 until 100).map(_.toDouble).toDF("v")
    val got = Analytics.quantileGrid(df, col("v"), 0.0, 10.0, 10, Seq(25, 50, 100))
      .select(col("p"), col("rank"), col("bucket"), col("q_lo"), col("q_hi"), col("certified"))
      .as[(Int, Long, Int, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // p50: target rank 50 → 50th smallest is 49.0 → bucket 4 = [40, 50)
    assert(got(50) == ((50, 50L, 4, 40.0, 50.0, true)))
    assert(got(25) == ((25, 25L, 2, 20.0, 30.0, true)))   // 25th smallest = 24.0
    assert(got(100) == ((100, 100L, 9, 90.0, 100.0, true))) // max = 99.0
  }

  test("quantileGrid: out-of-range data degrades to open bounds, certified=false") {
    val df = Seq(-5.0, 1.0, 2.0, 3.0, 250.0).toDF("v")
    val got = Analytics.quantileGrid(df, col("v"), 0.0, 10.0, 10, Seq(1, 50, 100))
      .select(col("p"), col("bucket"), col("q_lo"), col("q_hi"), col("certified"))
      .as[(Int, Int, Option[Double], Option[Double], Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1) == ((1, -1, None, Some(0.0), false)))        // below the grid
    assert(got(50) == ((50, 0, Some(0.0), Some(10.0), true)))  // 3rd of 5 = 2.0
    assert(got(100) == ((100, 10, Some(100.0), None, false)))  // above the grid
  }

  test("quantileGrid state is bounded: the grid has at most nBuckets+2 rows at any input size") {
    val df = (0 until 10000).map(i => (i % 977).toDouble).toDF("v")
    val q = Analytics.quantileGrid(df, col("v"), 0.0, 100.0, 5, Seq(50))
    // 5 in-range buckets + overflow sentinel; answer still certified-correct shape
    val r = q.as[(Int, Long, Long, Int, Option[Double], Option[Double], Boolean)].head()
    assert(r._2 == 10000L && r._4 >= 0)
  }

  test("bfsHops: directed edges are respected (no free reverse traversal)") {
    val e = Seq("a" -> "b", "b" -> "c").toDF("src", "dst")
    val got = Analytics.bfsHops(e, Seq("c").toDF("node"), maxHops = 4)
      .as[(String, Int)].collect().toMap
    assert(got == Map("c" -> 0)) // nothing is reachable downstream of c
  }

  // ---- markovTransitions ----

  test("markovTransitions: exact pair counts, per-state probabilities sum to 1, tails excluded") {
    // user 1: a b a b   user 2: a a c (c is terminal: contributes no from-pair)
    val df = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 1L, "a"), (2L, 2L, "a"), (2L, 3L, "c")).toDF("u", "t", "st")
    val got = Analytics.markovTransitions(df, col("u"), Seq(col("t")), col("st"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("row_total"), r.getAs[Double]("p"))).toMap
    assert(got(("a", "b")) === ((2L, 4L, 0.5)))
    assert(got(("a", "a")) === ((1L, 4L, 0.25)))
    assert(got(("a", "c")) === ((1L, 4L, 0.25)))
    assert(got(("b", "a")) === ((1L, 1L, 1.0)))
    assert(!got.keySet.exists(_._1 == "c")) // terminal state: no outgoing row
    // probabilities per from_state sum to exactly 1 (integer ratios over a common denominator)
    got.keys.map(_._1).toSet.foreach { s: String =>
      assert(got.filter(_._1._1 == s).values.map(_._3).sum === 1.0)
    }
  }

  test("markovTransitions never pairs across keys") {
    val df = Seq((1L, 1L, "a"), (2L, 2L, "b")).toDF("u", "t", "st")
    assert(Analytics.markovTransitions(df, col("u"), Seq(col("t")), col("st")).count() === 0L)
  }

  // ---- tiedQuartileMap ----

  test("tiedQuartileMap: balanced quartiles on distinct values, ties share a bucket, clamped at 4") {
    val df = (1 to 8).map(_.toLong).toDF("v")
    val q = Analytics.tiedQuartileMap(df, col("v")).as[(Long, Long)].collect().toMap
    assert(q === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 3L, 6L -> 3L, 7L -> 4L, 8L -> 4L))
    // one dominant tie group: all equal values land in ONE quartile
    val skew = (Seq.fill(97)(5L) ++ Seq(1L, 2L, 9L)).toDF("v")
    val qs = Analytics.tiedQuartileMap(skew, col("v")).as[(Long, Long)].collect().toMap
    assert(qs(5L) === 1L) // below=2 of 100 → floor(8/100)+1 = 1; never split
    assert(qs(9L) === 4L) // below=99 → floor(396/100)+1 = 4 (clamp no-op)
  }

  test("tiedQuartileMap is a pure value→quartile map: row multiplicity weights the ranks") {
    // 4 copies of 1 push the single 2 into the top quartile
    val df = (Seq.fill(4)(1L) ++ Seq(2L)).toDF("v")
    val q = Analytics.tiedQuartileMap(df, col("v")).as[(Long, Long)].collect().toMap
    assert(q === Map(1L -> 1L, 2L -> 4L)) // below=4 of 5 → floor(16/5)+1=4
  }

  // ---- chiSquare ----

  test("chiSquare: hand-computed 2×2 cells, statistic, and degrees of freedom") {
    // cells: (a,x)=10 (a,y)=20 (b,x)=20 (b,y)=10 → n=60, all marginals 30
    val rows = Seq.fill(10)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(20)(("b", "x")) ++ Seq.fill(10)(("b", "y"))
    val got = Analytics.chiSquare(rows.toDF("p", "q"), col("p"), col("q")).collect()
    val byCell = got.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // expected = 30·30/60 = 15 everywhere; contrib = (10·60−900)²/(60·900) = 300²/54000
    assert(byCell(("a", "x")).getAs[Double]("expected") === 15.0)
    assert(byCell(("a", "x")).getAs[Double]("contrib") === 300.0 * 300.0 / 54000.0)
    assert(got.forall(_.getAs[Long]("deg_free") === 1L))
    // χ² = 4 · 5/3 = 20/3 (classic 2×2 formula n(ad−bc)²/(r1r2c1c2) = 60·(100−400)²/30⁴)
    assert(math.abs(got.head.getAs[Double]("chi2") - 60.0 * 300.0 * 300.0 / (30.0 * 30.0 * 30.0 * 30.0)) < 1e-12)
  }

  test("chiSquare: NULL categories are legitimate cells, not a crash") {
    val rows = Seq((Some("a"), "x"), (None, "x"), (Some("a"), "y"), (None, "y"),
      (Some("b"), "x")).toDF("p", "q")
    val got = Analytics.chiSquare(rows, col("p"), col("q")).collect()
    assert(got.length === 5) // (a,x)(a,y)(null,x)(null,y)(b,x)
    assert(got.exists(r => r.isNullAt(0)))
    assert(got.forall(r => !r.isNullAt(r.fieldIndex("chi2"))))
  }

  test("chiSquare: perfectly proportional cells give exactly zero everywhere") {
    val rows = Seq.fill(6)(("a", "x")) ++ Seq.fill(12)(("a", "y")) ++
      Seq.fill(3)(("b", "x")) ++ Seq.fill(6)(("b", "y"))
    val got = Analytics.chiSquare(rows.toDF("p", "q"), col("p"), col("q")).collect()
    assert(got.forall(_.getAs[Double]("contrib") === 0.0)) // O·n == r·c exactly
    assert(got.forall(_.getAs[Double]("chi2") === 0.0))
  }

  // ---- profileDrift ----

  test("profileDrift: added/removed columns and null/distinct censuses") {
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "b")).toDF("id", "k")
    val v2 = Seq((1L, Some("x")), (2L, None), (4L, Some("x")), (5L, None))
      .toDF("id", "extra") // k removed, extra added (2 nulls, 1 distinct)
    val got = Analytics.profileDrift(v1, v2).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet === Set("id", "k", "extra"))
    val k = got("k")
    assert(k.getAs[Boolean]("in_v1") && !k.getAs[Boolean]("in_v2"))
    assert(k.getAs[Long]("n_distinct_v1") === 2L && k.getAs[Long]("n_rows_v2") === 0L)
    val e = got("extra")
    assert(!e.getAs[Boolean]("in_v1") && e.getAs[Boolean]("in_v2"))
    assert((e.getAs[Long]("n_rows_v2"), e.getAs[Long]("n_nulls_v2"),
      e.getAs[Long]("n_distinct_v2")) === ((4L, 2L, 1L)))
    val id = got("id")
    assert(id.getAs[Long]("n_rows_v1") === 3L && id.getAs[Long]("n_rows_v2") === 4L)
    assert(id.getAs[Long]("n_distinct_v1") === 3L && id.getAs[Long]("n_distinct_v2") === 4L)
  }

  // ---- naiveBayes2 ----

  test("naiveBayes2: hand-computed Laplace posteriors on a 4-row corpus") {
    // f1∈{0,1}, f2∈{0,1}; y perfectly tracks f1
    val df = Seq((0L, 0L, 0), (0L, 1L, 0), (1L, 0L, 1), (1L, 1L, 1))
      .toDF("f1", "f2", "y")
    val got = Analytics.naiveBayes2Classify(df, col("f1"), col("f2"), col("y"))
      .select(col("f1"), col("f2"), col("nb_pred")).as[(Long, Long, Int)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // P(f1=0|y=1) = (0+1)/(2+2) vs P(f1=0|y=0) = (2+1)/(2+2): f1 decides;
    // f2 is symmetric and cancels
    assert(got === Map((0L, 0L) -> 0, (0L, 1L) -> 0, (1L, 0L) -> 1, (1L, 1L) -> 1))
  }

  test("naiveBayes2: exact posterior tie predicts class 0 (pinned)") {
    // fully symmetric corpus: every cell's posteriors are equal
    val df = Seq((0L, 0L, 0), (0L, 0L, 1), (1L, 1L, 0), (1L, 1L, 1))
      .toDF("f1", "f2", "y")
    val got = Analytics.naiveBayes2Classify(df, col("f1"), col("f2"), col("y"))
      .select(col("nb_pred")).as[Int].collect()
    assert(got.forall(_ === 0))
  }

  test("naiveBayes2: unseen feature values at predict time surface as null, never a silent guess") {
    val train = Seq((0L, 0L, 0), (1L, 1L, 1)).toDF("f1", "f2", "y")
    val predExpr = Analytics.naiveBayes2Fit(train, col("f1"), col("f2"), col("y"))
    val probe = Seq((7L, 0L)).toDF("_nbF1", "_nbF2").withColumn("nb_pred", predExpr)
    assert(probe.head().isNullAt(2))
  }

  // ---- windowFunnel3 ----

  test("windowFunnel3: depth semantics — in-window chain, window anchored at the FIRST stage") {
    val T = 100L
    val rows = Seq(
      // u1: full chain inside the window → depth 3
      (1L, 10L, 1L, "view"), (1L, 50L, 2L, "click"), (1L, 90L, 3L, "purchase"),
      // u2: click in window, purchase past view+T (anchored at view!) → depth 2
      (2L, 10L, 1L, "view"), (2L, 50L, 2L, "click"), (2L, 150L, 3L, "purchase"),
      // u3: view then click too late → depth 1
      (3L, 10L, 1L, "view"), (3L, 200L, 2L, "click"),
      // u4: click/purchase with no view at all → depth 0
      (4L, 10L, 1L, "click"), (4L, 20L, 2L, "purchase"),
      // u5: a LATER view re-anchors the chain → depth 3
      (5L, 10L, 1L, "view"), (5L, 500L, 2L, "view"),
      (5L, 520L, 3L, "click"), (5L, 590L, 4L, "purchase"))
      .toDF("u", "ts", "rk", "et")
    val got = Analytics.windowFunnel3(rows, col("u"), col("ts"), col("rk"),
        col("et"), "view", "click", "purchase", windowUs = T)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 0L, 5L -> 3L))
  }

  test("windowFunnel3: stage order is mandatory — purchase before click does not count") {
    val rows = Seq((1L, 10L, 1L, "view"), (1L, 20L, 2L, "purchase"),
      (1L, 30L, 3L, "click")).toDF("u", "ts", "rk", "et")
    val got = Analytics.windowFunnel3(rows, col("u"), col("ts"), col("rk"),
        col("et"), "view", "click", "purchase", windowUs = 1000L)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L)) // view→click ok, no purchase AFTER the click
  }

  // ---- decisionStumpFit ----

  test("decisionStumpFit recovers a planted exact rule with zero error and pins the tie-break") {
    val df = spark.range(0, 200).select(
      (col("id") % 10).cast("long").as("a"), (col("id") % 7).cast("long").as("b"),
      when(col("id") % 10 >= 4, 1L).otherwise(0L).as("y"))
    val r = Analytics.decisionStumpFit(df,
      Seq("a" -> col("a"), "b" -> col("b")), col("y")).head()
    assert((r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)) ===
      (("a", 4L, "ge", 0L)))
  }

  test("decisionStumpFit: inverted rule selects the lt polarity") {
    val df = spark.range(0, 100).select(
      (col("id") % 10).cast("long").as("a"),
      when(col("id") % 10 < 3, 1L).otherwise(0L).as("y"))
    val r = Analytics.decisionStumpFit(df, Seq("a" -> col("a")), col("y")).head()
    assert((r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)) ===
      (("a", 3L, "lt", 0L)))
  }

  // ---- kCore ----

  test("kCore: a peel CASCADE needs iteration — a pendant chain unravels one node per round") {
    // K4 clique {0,1,2,3} + chain 3-10-11-12: chain nodes have degree ≤ 2,
    // but each round exposes only the current endpoint → 3 peel rounds
    val clique = for (i <- 0 to 3; j <- i + 1 to 3) yield (i.toLong, j.toLong)
    val chain = Seq((3L, 10L), (10L, 11L), (11L, 12L))
    val e = (clique ++ chain).toDF("s", "t")
    val got = Analytics.kCore(e, "s", "t", k = 3).as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("kCore: a cycle is exactly a 2-core; at k=3 it vanishes entirely") {
    val cyc = (0 until 6).map(i => (i.toLong, ((i + 1) % 6).toLong)).toDF("s", "t")
    assert(Analytics.kCore(cyc, "s", "t", k = 2).count() === 6L)
    assert(Analytics.kCore(cyc, "s", "t", k = 3).count() === 0L)
  }

  test("kCore canonicalizes: self-loops and reversed duplicates never inflate degrees") {
    val e = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L)).toDF("s", "t")
    // triangle {1,2,3}: degrees exactly 2 despite the dupe and self-loop
    val got = Analytics.kCore(e, "s", "t", k = 2).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("ohlcBars: bar boundaries, tie-broken open/close, exact decimal sum") {
    import spark.implicits._
    // bar size 100us; key k: events at ts 0,50,99 (bar 0) and 100,150 (bar 1);
    // ts=50 DUPLICATED with two tiebreak ids — open/close must pick by id
    val ev = Seq(
      ("k", 0L, 1L, 10.0), ("k", 50L, 2L, 99.0), ("k", 50L, 3L, 1.0),
      ("k", 99L, 4L, 20.0), ("k", 100L, 5L, 7.0), ("k", 150L, 6L, 8.0),
      ("j", 0L, 7L, 0.1), ("j", 0L, 8L, 0.2))
      .toDF("et", "ts", "id", "v")
    val got = Analytics.ohlcBars(ev, col("et"), col("ts"), col("id"), col("v"), 100L)
      .as[(String, Long, Double, Double, Double, Double, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got(("k", 0L)) === (("k", 0L, 10.0, 99.0, 1.0, 20.0, 4L, 130.0)))
    assert(got(("k", 100L)) === (("k", 100L, 7.0, 8.0, 7.0, 8.0, 2L, 15.0)))
    // ts tie at the whole-bar scale: id 7 opens, id 8 closes
    assert(got(("j", 0L)) === (("j", 0L, 0.1, 0.2, 0.1, 0.2, 2L, 0.30000000000000004))
      || got(("j", 0L))._3 == 0.1 && got(("j", 0L))._6 == 0.2)
    // repartition invariance: same bars regardless of layout
    val again = Analytics.ohlcBars(ev.repartition(7), col("et"), col("ts"),
        col("id"), col("v"), 100L)
      .as[(String, Long, Double, Double, Double, Double, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(again === got)
  }

  test("cusumAlarms: window identity == textbook recursion, empty-prefix clamp, alarm bookkeeping") {
    import spark.implicits._
    // series for key k: values (milli) 10,10,10,40,40,10 -> target = 120/6 = 20
    // recursion s=max(0,s+v-20): 0,0,0,20,40,30 ; threshold 25 -> alarms at
    // t=5 (40) and t=6 (30); first alarm ts=5; max_cusum=40
    val ev = Seq((1L,1L,10L),(2L,2L,10L),(3L,3L,10L),(4L,4L,40L),(5L,5L,40L),(6L,6L,10L))
      .map { case (ts, id, v) => ("k", ts, id, v) }.toDF("et", "ts", "id", "v")
    val got = Analytics.cusumAlarms(ev, col("et"), col("ts"), col("id"), col("v"),
        slackMilli = 0L, thresholdMilli = 25L)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    assert(got === (("k", 6L, 20L, 40L, 2L, Some(5L))))
    // strictly decreasing series: cusum pinned at 0 by the empty-prefix
    // clamp (without it, s_k = S_k - S_1 would go positive)
    val dec = Seq((1L,1L,30L),(2L,2L,20L),(3L,3L,10L))
      .map { case (ts, id, v) => ("d", ts, id, v) }.toDF("et", "ts", "id", "v")
    val g2 = Analytics.cusumAlarms(dec, col("et"), col("ts"), col("id"), col("v"), 0L, 1L)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    assert(g2._4 === 10L && g2._5 === 2L && g2._6 === Some(1L),
      "dev +10,0,-10: s = 10,10,0 -> max 10, two alarms over threshold 1")
    // no alarms -> NULL first_alarm_ts
    val g3 = Analytics.cusumAlarms(dec, col("et"), col("ts"), col("id"), col("v"), 0L, 100L)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    assert(g3._5 === 0L && g3._6 === None)
  }

  test("hitsFixedPoint: pure hubs and authorities separate exactly; better-endorsed authority ranks higher") {
    import spark.implicits._
    // 0 and 4 are pure hubs; 1,2,3 pure authorities; authority 1 is
    // endorsed by BOTH hubs, 2 and 3 by one each
    val e = Seq((0L,1L),(0L,2L),(4L,1L),(4L,3L)).toDF("s", "t")
    val got = Analytics.hitsFixedPoint(e, "s", "t", iters = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // pure authorities never act as hubs and vice versa
    assert(got(1L)._1 === 0L && got(2L)._1 === 0L && got(3L)._1 === 0L)
    assert(got(0L)._2 === 0L && got(4L)._2 === 0L)
    // doubly-endorsed authority strictly dominates singles; singles tie
    assert(got(1L)._2 > got(2L)._2 && got(2L)._2 === got(3L)._2)
    // symmetric hubs tie
    assert(got(0L)._1 === got(4L)._1 && got(0L)._1 > 0L)
    // determinism across partition layouts
    val again = Analytics.hitsFixedPoint(e.repartition(5), "s", "t", iters = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again === got)
    // the periodic eager-cut path (iters > checkpointEvery — the lazy
    // chain gets materialized + freed mid-loop, incl. the PREVIOUS cut's
    // eager frame) is bit-identical to the uncut chain
    val cut = Analytics.hitsFixedPoint(e, "s", "t", iters = 5, checkpointEvery = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val uncut = Analytics.hitsFixedPoint(e, "s", "t", iters = 5, checkpointEvery = 64)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(cut === uncut)
  }

  test("kAnonymityAudit: hand-built groups land in the right bands; l-diversity catches uniform-sensitive groups") {
    import spark.implicits._
    // QI (q): group a -> 1 row; b -> 3 rows all sensitive=X (k ok at 2-4,
    // fails 2-diversity); c -> 3 rows with 2 distinct sensitives (passes);
    // d -> 12 rows alternating sensitives
    val rows = Seq(("a", "X")) ++
      Seq.fill(3)(("b", "X")) ++
      Seq(("c", "X"), ("c", "Y"), ("c", "X")) ++
      (0 until 12).map(i => ("d", if (i % 2 == 0) "X" else "Y"))
    val got = Analytics.kAnonymityAudit(rows.toDF("q", "sv"), Seq(col("q")), col("sv"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("1") === (("1", 1L, 1L, 0L)))
    assert(got("2-4") === (("2-4", 2L, 6L, 1L)), "only group b fails 2-diversity")
    assert(got("10+") === (("10+", 1L, 12L, 0L)))
    assert(!got.contains("5-9"))
  }

  test("timeWeightedAvg: durations weight values exactly; last observation drops; != plain avg on irregular series") {
    import spark.implicits._
    // value 10 held 1us, value 100 held 9us, value 0 terminal (drops):
    // TWAP = (10*1 + 100*9) / 10 = 91.0; plain avg of {10,100,0} = 36.67
    val ev = Seq(("k", 0L, 1L, 10L), ("k", 1L, 2L, 100L), ("k", 10L, 3L, 0L))
      .toDF("et", "ts", "id", "v")
    val got = Analytics.timeWeightedAvg(ev, col("et"), col("ts"), col("id"), col("v"))
      .as[(String, Long, Long, Double)].collect().head
    assert(got === (("k", 2L, 10L, 91.0)))
    // ts tie broken by the stable id: (5,id=1,v=2) precedes (5,id=2,v=4)
    // so v=2 holds 0us and v=4 holds 5us -> TWAP 4.0
    val tie = Seq(("t", 5L, 1L, 2L), ("t", 5L, 2L, 4L), ("t", 10L, 3L, 9L))
      .toDF("et", "ts", "id", "v")
    val g2 = Analytics.timeWeightedAvg(tie, col("et"), col("ts"), col("id"), col("v"))
      .as[(String, Long, Long, Double)].collect().head
    assert(g2 === (("t", 2L, 5L, 4.0)))
    // single observation: no interval, no output row
    val single = Seq(("s", 0L, 1L, 7L)).toDF("et", "ts", "id", "v")
    assert(Analytics.timeWeightedAvg(single, col("et"), col("ts"), col("id"), col("v")).count() === 0L)
  }

  test("labelPropagation: STRING ids keep the smallest-label tie-break") {
    import spark.implicits._
    // a 2-path b—a—c: node a's neighbors vote 'b' and 'c' once each — the
    // documented tie-break is the SMALLEST label. The old
    // max(struct(cnt, -label, label)) negated the LABEL, which casts a
    // string to double (NULL under ANSI-off), so ties fell through to the
    // raw label and max picked the LARGEST — silently inverting the rule
    // for exactly the string-keyed graphs this op is the designated home
    // for (canonicalEdgesWithDegrees routes them here)
    val e = Seq(("b", "a"), ("a", "c")).toDF("s", "t")
    val got = graft.ops.Analytics.labelPropagation(e, "s", "t", rounds = 1)
      .as[(String, String)].collect().toMap
    assert(got("a") == "b", s"equal-count ties must break to the SMALLEST label, got ${got("a")}")
  }

  test("labelPropagation: two cliques joined by a bridge resolve to min-id communities; deterministic across layouts") {
    import spark.implicits._
    // two DISCONNECTED K4s: no cross-community influence, so each clique
    // converges to one label and the two communities stay distinct
    val k1 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val k2 = for (i <- 10L to 13L; j <- i + 1 to 13L) yield (i, j)
    val e = (k1 ++ k2).toDF("s", "t")
    val got = Analytics.labelPropagation(e, "s", "t", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(Set(0L, 1L, 2L, 3L).map(got).size === 1, "left clique unifies")
    assert(Set(10L, 11L, 12L, 13L).map(got).size === 1, "right clique unifies")
    assert(got(0L) !== got(10L), "disconnected components never merge")
    val again = Analytics.labelPropagation(e.repartition(5), "s", "t", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(again === got)
  }

  test("kSuppress: exactly the under-k groups flag; survivors all >= k; non-QI columns untouched") {
    import spark.implicits._
    val rows = (Seq.fill(5)("big") ++ Seq.fill(2)("small") ++ Seq("single"))
      .zipWithIndex.map { case (g, i) => (i.toLong, g) }.toDF("id", "grp")
    val got = Analytics.kSuppress(rows, Seq(col("grp")), k = 3)
      .as[(Long, String, Boolean)].collect()
    val byGrp = got.groupBy(_._2)
    assert(byGrp("big").forall(!_._3) && byGrp("big").length === 5)
    assert(byGrp("small").forall(_._3) && byGrp("single").forall(_._3))
    // ids survive the round trip untouched
    assert(got.map(_._1).sorted.toSeq === (0L to 7L))
  }

  test("kSuppress: NULL QI values form a real group — a sub-k NULL group is suppressed") {
    import spark.implicits._
    // groupBy counts the NULL-QI tuple as a group of 2 (< k=3); the
    // join-back must be null-safe or these rows silently escape
    // suppression while kAnonymityAudit counts them — the ADVICE r9 bug.
    val rows = (Seq.fill(4)(Some("big")) ++ Seq.fill(2)(Option.empty[String]))
      .zipWithIndex.map { case (g, i) => (i.toLong, g.orNull) }.toDF("id", "grp")
    val got = Analytics.kSuppress(rows, Seq(col("grp")), k = 3)
      .as[(Long, Option[String], Boolean)].collect()
    assert(got.filter(_._2.contains("big")).forall(!_._3))
    val nullGrp = got.filter(_._2.isEmpty)
    assert(nullGrp.length === 2 && nullGrp.forall(_._3),
      "sub-k NULL-QI group must be flagged _suppress=true")
    // and a NULL group of size >= k survives
    val rows2 = (Seq.fill(3)(Option.empty[String]) ++ Seq.fill(1)(Some("x")))
      .zipWithIndex.map { case (g, i) => (i.toLong, g.orNull) }.toDF("id", "grp")
    val got2 = Analytics.kSuppress(rows2, Seq(col("grp")), k = 3)
      .as[(Long, Option[String], Boolean)].collect()
    assert(got2.filter(_._2.isEmpty).forall(!_._3))
    assert(got2.filter(_._2.nonEmpty).forall(_._3))
  }

  test("degreeAssortativity: star graph exactly -1; regular graph NULL (zero variance)") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "t")
    val rs = Analytics.degreeAssortativity(star, "s", "t").head()
    assert(rs.getAs[Long]("n_edges") === 3L && rs.getAs[Double]("r") === -1.0)
    val ring = (0L to 4L).map(i => (i, (i + 1) % 5)).toDF("s", "t")
    val rr = Analytics.degreeAssortativity(ring, "s", "t").head()
    assert(rr.getAs[Long]("n_edges") === 5L && rr.isNullAt(rr.fieldIndex("r")))
  }

  test("peakRunStats: exact extrema and monotone runs; ties break runs and patterns") {
    import spark.implicits._
    // a: 1,2,3,4,2,1 → peak at 4, no valley, up-run 3 steps, down-run 2
    // b: 1,3,2,5,5,4 → peak 3, valley 2; the 5,5 tie breaks every run
    val df = (Seq(1L, 2L, 3L, 4L, 2L, 1L).zipWithIndex.map { case (v, i) => ("a", i.toLong, v) } ++
      Seq(1L, 3L, 2L, 5L, 5L, 4L).zipWithIndex.map { case (v, i) => ("b", i.toLong, v) })
      .toDF("k", "t", "v")
    val got = Analytics.peakRunStats(df, col("k"), Seq(col("t")), col("v"))
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      ("a", 6L, 1L, 0L, 3L, 2L),
      ("b", 6L, 1L, 1L, 1L, 1L)))
  }

  test("hierarchyFlatten: chains and forests resolve in log rounds; cycles flag unsettled") {
    import spark.implicits._
    // tree 1: chain 0←1←2←3←4; tree 2: 10←11; cycle: 20↔21 (no root);
    // dangling: 30's parent 99 has no row, 31 hangs off 30
    val nodes = Seq((0L, None), (1L, Some(0L)), (2L, Some(1L)), (3L, Some(2L)),
      (4L, Some(3L)), (10L, None), (11L, Some(10L)), (20L, Some(21L)), (21L, Some(20L)),
      (30L, Some(99L)), (31L, Some(30L)))
      .toDF("node", "parent")
    val got = graft.ops.Analytics.hierarchyFlatten(nodes, "node", "parent", maxRounds = 4)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got.size === 11, "no input node may be dropped from the output")
    assert(got(0L) === ((0L, 0L, 0L, true)) && got(4L) === ((4L, 0L, 4L, true)))
    assert(got(2L) === ((2L, 0L, 2L, true)) && got(11L) === ((11L, 10L, 1L, true)))
    // depth-4 chain settles within ceil(log2(4)) = 2 doublings (4 allowed)
    assert(!got(20L)._4 && !got(21L)._4, "a parent cycle must flag settled=false")
    // dangling parents: partial ancestor kept, settled=false, subtree too
    assert(got(30L) === ((30L, 99L, 1L, false)),
      "a dangling parent pointer must surface unsettled with its partial state")
    assert(!got(31L)._4, "a subtree hanging off an orphan must also flag unsettled")
  }

  test("hierarchyFlatten: odd maxRounds performs exactly maxRounds doublings") {
    import spark.implicits._
    // chain 0←1←2: depth-2 node needs TWO doublings to learn its ancestor
    // is a root. maxRounds = 1 must stop after ONE doubling (partial anc
    // surfaced unsettled) — a blind two-jump unroll would do a second
    // doubling and settle it, overshooting the documented 2^maxRounds bound
    val nodes = Seq((0L, None), (1L, Some(0L)), (2L, Some(1L))).toDF("node", "parent")
    val got = graft.ops.Analytics.hierarchyFlatten(nodes, "node", "parent", maxRounds = 1)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 0L, 1L, true)))
    assert(got(2L) === ((2L, 0L, 2L, false)),
      "one doubling reaches the root id but cannot yet observe it settled")
    // and an odd bound > 1 still settles everything a power-of-two bound would
    val got3 = graft.ops.Analytics.hierarchyFlatten(nodes, "node", "parent", maxRounds = 3)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got3(2L) === ((2L, 0L, 2L, true)))
  }

  test("intervalUnionLength: overlaps clip, containment contributes 0, gaps don't bridge") {
    import spark.implicits._
    // key a: [0,10] [5,20] (overlap → 20), [15,18] (contained → 0),
    //        [30,40] (gap → +10) = 30; key b: zero/negative lengths → 0
    val df = Seq(("a", 0L, 10L), ("a", 5L, 20L), ("a", 15L, 18L), ("a", 30L, 40L),
      ("b", 5L, 5L), ("b", 9L, 7L)).toDF("k", "s", "e")
    val got = Analytics.intervalUnionLength(df, col("k"), Seq(col("s"), col("e")),
        col("s"), col("e"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(("a", 4L, 30L), ("b", 2L, 0L)))
    // null-endpoint intervals drop entirely (greatest(NULL,·) coercion
    // differs across engines — they must never reach the sweep)
    val dirty = df.unionByName(Seq(("a", Some(100L), None: Option[Long]),
      ("a", None: Option[Long], Some(200L))).toDF("k", "s", "e"))
    val got2 = Analytics.intervalUnionLength(dirty, col("k"), Seq(col("s"), col("e")),
        col("s"), col("e"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(got2.toSeq === got.toSeq)
  }

  test("localClustering: diamond graph exact coefficients; degree-1 nodes report 0") {
    import spark.implicits._
    // K4 minus (1,4): triangles {1,2,3}, {2,3,4}; plus pendant edge (5,6)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (4L, 3L), (5L, 6L))
      .toDF("s", "t")
    val got = Analytics.localClustering(edges, "s", "t")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 2L, 1L, 1.0), (2L, 3L, 2L, 2.0 / 3.0), (3L, 3L, 2L, 2.0 / 3.0),
      (4L, 2L, 1L, 1.0), (5L, 1L, 0L, 0.0), (6L, 1L, 0L, 0.0)))
  }

  test("autocorrelation: alternating series has exact ACF ±1; constant series yields NULL") {
    import spark.implicits._
    // key a: 1,-1,1,-1,1 → acf1 = −1, acf2 = +1, acf3 = −1 (all exact:
    // every moment is a small integer and each sqrt argument a perfect
    // square); key c: constant → zero variance → NULL at every lag
    val df = (Seq.tabulate(5)(i => ("a", i.toLong, if (i % 2 == 0) 1L else -1L)) ++
      Seq.tabulate(5)(i => ("c", i.toLong, 7L))).toDF("k", "t", "v")
    val got = Analytics.autocorrelation(df, col("k"), Seq(col("t")), col("v"), maxLag = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getAs[Long]("n_pairs_1") === 4L && a.getAs[Long]("n_pairs_3") === 2L)
    assert(a.getAs[Double]("acf_1") === -1.0 && a.getAs[Double]("acf_2") === 1.0 &&
      a.getAs[Double]("acf_3") === -1.0)
    val c = got("c")
    assert((1 to 3).forall(k => c.isNullAt(c.fieldIndex(s"acf_$k"))))
    // a trailing NULL observation defines no pair: counts stay consistent
    // with the null-skipping moment sums
    val dirty = (Seq.tabulate(5)(i => ("a", i.toLong, Some(if (i % 2 == 0) 1L else -1L))) :+
      (("a", 5L, None: Option[Long]))).toDF("k", "t", "v")
    val rd = Analytics.autocorrelation(dirty, col("k"), Seq(col("t")), col("v"), maxLag = 1)
      .head()
    assert(rd.getAs[Long]("n_pairs_1") === 4L && rd.getAs[Double]("acf_1") === -1.0)
  }

  test("ols2: exact-fit plane recovered bit-exactly; collinear design yields NULL coefficients") {
    import spark.implicits._
    // y = 3 + 2·x1 − x2 exactly; small integers keep every Cramer
    // intermediate inside 2^53, so the recovery is EXACT equality
    val pts = Seq((1, 1), (2, 1), (3, 2), (4, 3), (5, 5), (6, 8))
      .map { case (a, b) => (a, b, (3 + 2 * a - b).toDouble) }
    val df = pts.toDF("x1", "x2", "y")
    val r = Analytics.ols2(df, col("x1"), col("x2"), col("y"), yScale = 0).head()
    assert(r.getAs[Long]("n_rows") === 6L)
    assert(r.getAs[Double]("b0") === 3.0 && r.getAs[Double]("b1") === 2.0 &&
      r.getAs[Double]("b2") === -1.0)
    // collinear features (x2 = 2·x1): singular normal matrix -> NULLs
    val bad = Seq((1, 2, 1.0), (2, 4, 2.0), (3, 6, 3.0)).toDF("x1", "x2", "y")
    val rb = Analytics.ols2(bad, col("x1"), col("x2"), col("y"), yScale = 0).head()
    assert(rb.isNullAt(rb.fieldIndex("b0")) && rb.isNullAt(rb.fieldIndex("b1")) &&
      rb.isNullAt(rb.fieldIndex("b2")))
  }

  test("mannWhitney: hand-computed doubled midranks, tie correction, degenerate NULL z") {
    import spark.implicits._
    // A = {1, 2}, B = {2, 3}: R1 = 1 + 2.5 → doubled 7; U1 = 3.5 (u1_x2 = 7);
    // ties t=2 at v=2 → V12 = 4·(5·4·3 − 6) = 216, var = 1.5, z = 1.5/√1.5
    val df = Seq((1.0, true), (2.0, true), (2.0, false), (3.0, false)).toDF("v", "a")
    val r = Analytics.mannWhitney(df, col("v"), col("a")).head()
    assert(r.getAs[Long]("n1") === 2L && r.getAs[Long]("n2") === 2L)
    assert(r.getAs[Double]("u1_x2") === 7.0)
    assert(r.getAs[Double]("z") === 1.5 / math.sqrt(1.5))
    // all values tied -> zero variance -> NULL z, exact U still emitted
    val tied = Seq((5.0, true), (5.0, false), (5.0, true)).toDF("v", "a")
    val rt = Analytics.mannWhitney(tied, col("v"), col("a")).head()
    assert(rt.getAs[Double]("u1_x2") === 2.0 && rt.isNullAt(rt.fieldIndex("z")))
    // one-sided input -> NULL z
    val one = Seq((1.0, true), (2.0, true)).toDF("v", "a")
    assert(Analytics.mannWhitney(one, col("v"), col("a")).head()
      .isNullAt(3))
    // a NULL value row must not shift the real ranks (nulls-first cell)
    val withNull = Seq((Some(1.0), true), (Some(2.0), true), (Some(2.0), false),
      (Some(3.0), false), (None: Option[Double], true)).toDF("v", "a")
    val rn = Analytics.mannWhitney(withNull, col("v"), col("a")).head()
    assert(rn.getAs[Long]("n1") === 2L && rn.getAs[Double]("u1_x2") === 7.0)
  }

  test("giniImpurity: pure group 0, uniform k-way (k-1)/k, exact mixed case") {
    import spark.implicits._
    val df = Seq(("a", "x"), ("a", "x"), ("a", "x"),          // pure → 0
      ("b", "x"), ("b", "y"),                                  // 2-way uniform → 1/2
      ("c", "x"), ("c", "x"), ("c", "y"), ("c", "z"))          // (16-6)/16
      .toDF("g", "l")
    val got = Analytics.giniImpurity(df, col("g"), col("l"))
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(("a", 3L, 0.0), ("b", 2L, 0.5), ("c", 4L, 10.0 / 16.0)))
  }

  test("benfordAudit: planted digit distribution, exact shares, literal expectations") {
    import spark.implicits._
    // 30 values leading 1, 10 leading 2, 10 leading 9; zero/negative drop
    val vals = (Seq.fill(30)(1234L) ++ Seq.fill(10)(27L) ++ Seq.fill(10)(900L) ++
      Seq(0L, -5L)).toDF("v")
    val got = Analytics.benfordAudit(vals, col("v"))
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((1, 30L, 600000L), (2, 10L, 200000L), (9, 10L, 200000L)))
    assert(got.forall(r => r._4 == Analytics.benfordExpectedMillionths(r._1)))
    assert(got.forall(r => r._5 == math.abs(r._3 - r._4)))
  }

  test("weightedMedianQuantized: lower median by exact decimal cumsum; tie hits the boundary value") {
    import spark.implicits._
    val df = Seq(("g", 1.0, 10.0), ("g", 2.0, 10.0), ("g", 3.0, 20.0),   // cum: 10,20,40; tot 40
      ("h", 5.0, 1.0), ("h", 6.0, 1.0))                                   // exact tie: 2·1 >= 2 at v=5
      .toDF("k", "v", "w")
    val got = Analytics.weightedMedianQuantized(df, col("k"), col("v"), col("w"))
      .as[(String, Double, Double)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(("g", 2.0, 40.0), ("h", 5.0, 2.0)))
    // NULL value / NULL weight rows carry no mass and must not pollute
    // the nulls-first cumulative sweep
    val dirty = df.unionByName(Seq(("g", None: Option[Double], Some(99.0)),
      ("g", Some(1.0), None: Option[Double])).toDF("k", "v", "w"))
    val got2 = Analytics.weightedMedianQuantized(dirty, col("k"), col("v"), col("w"))
      .as[(String, Double, Double)].collect().sortBy(_._1)
    assert(got2.toSeq === got.toSeq)
  }

  test("curriculumInterleave: per-source rank easy-first, deterministic ties, no global window") {
    import spark.implicits._
    val df = Seq((1L, "s1", 10), (2L, "s1", 5), (3L, "s1", 5),
      (4L, "s2", 99), (5L, "s2", 1)).toDF("id", "src", "diff")
    val got = graft.ops.Sampling.curriculumInterleave(df, col("id"), col("src"), col("diff"))
      .select($"id", $"curriculum_rank").as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 1))
  }

  test("clusterBalancedSample: head clusters cap, tail clusters survive whole, pick is partition-invariant") {
    import spark.implicits._
    val df = ((0L to 99L).map(i => (i, "big")) ++ (100L to 102L).map(i => (i, "small")))
      .toDF("id", "cl")
    def pick(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.clusterBalancedSample(d, col("id"), col("cl"), perCluster = 10)
        .select($"cl", $"pick_rank", $"id").as[(String, Int, Long)].collect().toSet
    val got = pick(df)
    assert(got.count(_._1 == "big") == 10, "the 100-row cluster must cap at 10")
    assert(got.count(_._1 == "small") == 3, "the 3-row cluster must survive whole")
    assert(got.filter(_._1 == "small").map(_._2) == Set(1, 2, 3))
    // deterministic at any partitioning (the (md5, id) order is per-row)
    assert(pick(df.repartition(13)) === got)
  }

  test("clusterBalancedSample: NULL keys rank LAST — a cluster's real documents win the slots") {
    import spark.implicits._
    val df = (Seq.fill(5)((None: Option[Long], "c")) ++
      Seq((Some(1L), "c"), (Some(2L), "c"))).toDF("id", "cl")
    val got = graft.ops.Sampling.clusterBalancedSample(df, col("id"), col("cl"), perCluster = 2)
      .select($"id").as[Option[Long]].collect().toSet
    // md5(NULL) is NULL; plain .asc (NULLS FIRST) would hand both slots
    // to null-keyed rows and silently drop every real document
    assert(got === Set(Some(1L), Some(2L)), s"null-keyed rows took the slots: $got")
  }

  test("curriculumInterleave: NULL difficulty trains LAST, never front-loads the schedule") {
    import spark.implicits._
    val df = Seq((1L, "s", Some(7)), (2L, "s", None: Option[Int]), (3L, "s", Some(3)))
      .toDF("id", "src", "diff")
    val got = graft.ops.Sampling.curriculumInterleave(df, col("id"), col("src"), col("diff"))
      .select($"id", $"curriculum_rank").as[(Long, Int)].collect().toMap
    assert(got === Map(3L -> 1, 1L -> 2, 2L -> 3),
      s"unknown difficulty must rank after everything the scorer ordered: $got")
  }

  test("skyline2D == quadratic NOT-EXISTS dominance; frontier ties all survive") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1, 10.0), (2L, 1, 10.0),   // tied frontier point: both survive
      (3L, 1, 5.0),                   // dominated at same cost
      (4L, 2, 12.0),                  // frontier (higher cost, higher value)
      (5L, 2, 10.0),                  // dominated by (1,10): cost strict
      (6L, 3, 12.0),                  // dominated by (2,12): cost strict
      (7L, 5, 15.0), (8L, 4, 1.0)     // frontier; dominated
    ).toDF("id", "cost", "value")
    val got = Analytics.skyline2D(rows, "cost", "value")
      .select($"id").as[Long].collect().toSet
    // reference: quadratic dominance check
    val all = rows.as[(Long, Int, Double)].collect()
    val want = all.filter { case (i, c, v) =>
      !all.exists { case (j, c2, v2) =>
        j != i && c2 <= c && v2 >= v && (c2 < c || v2 > v) }
    }.map(_._1).toSet
    assert(got === want && got === Set(1L, 2L, 4L, 7L))
    // adversarial all-equal input: nothing dominates anything at ONE cost;
    // every row of the minimal cost survives, higher costs are dominated
    val flat = (1L to 20L).map(i => (i, (i % 4).toInt, 7.0)).toDF("id", "cost", "value")
    val gotFlat = Analytics.skyline2D(flat, "cost", "value")
      .select($"cost").distinct().as[Int].collect().toSeq
    assert(gotFlat === Seq(0))
    // a NULL-cost row with a huge value must neither join the frontier
    // nor suppress real frontier points via the running max
    val withNull = rows.unionByName(
      Seq((99L, null.asInstanceOf[java.lang.Integer], 999.0))
        .toDF("id", "cost", "value"))
    val gotNull = Analytics.skyline2D(withNull, "cost", "value")
      .select($"id").as[Long].collect().toSet
    assert(gotNull === Set(1L, 2L, 4L, 7L))
  }

  test("sequencePatterns: contiguous k-grams per key, exact counts, short keys drop") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "b"), (1L, 5L, "c"),
      (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "c"),
      (3L, 1L, "x"), (3L, 2L, "y")  // shorter than k: contributes nothing
    ).toDF("u", "t", "s")
    val got = Analytics.sequencePatterns(ev, col("u"), Seq(col("t")), col("s"), k = 3)
      .as[(String, String, String, Long)].collect().toSet
    assert(got === Set(("a", "b", "c", 2L), ("b", "c", "b", 1L), ("c", "b", "c", 1L)))
  }

  test("sequencePatterns: a NULL state never leads a counted gram (position-independent NULL semantics)") {
    val ev = Seq((1L, 1L, null.asInstanceOf[String]), (1L, 2L, "a"),
        (1L, 3L, "b"), (1L, 4L, "c"))
      .toDF("u", "t", "s")
    val got = Analytics.sequencePatterns(ev, col("u"), Seq(col("t")), col("s"), k = 2)
      .as[(String, String, Long)].collect().toSet
    // (NULL, a) used to be counted while (x, NULL) grams dropped — counts
    // depended on WHERE the NULL sat, not whether it existed
    assert(got === Set(("a", "b", 1L), ("b", "c", 1L)),
      s"NULL-led gram must drop like any other NULL gram, got $got")
  }

  test("regressionByGroup / correlationMatrix: LONG inputs past 2^31.5 do not wrap (decimal-before-multiply)") {
    // x ~ 4e9: x*x = 1.6e19 > Long.MaxValue — the input-type product
    // wrapped before the decimal cast and blessed the garbage
    val base = 4000000000L
    val df = (0 until 50).map(i => ("g", base + i * 1000L, 2L * (base + i * 1000L)))
      .toDF("g", "x", "y")
    val r = Analytics.regressionByGroup(df, col("g"), col("x"), col("y"),
        yScale = 0)
      .select("slope", "corr").as[(Double, Double)].head()
    assert(math.abs(r._1 - 2.0) < 1e-6, s"slope wrapped: ${r._1}")
    assert(math.abs(r._2 - 1.0) < 1e-9, s"corr wrapped: ${r._2}")
    val c = Analytics.correlationMatrix(df.select(col("x"), col("y")),
        Seq("x" -> 0, "y" -> 0))
      .select("corr").as[Double].head()
    assert(math.abs(c - 1.0) < 1e-9, s"matrix corr wrapped: $c")
  }

  test("seasonalAnomaly: |v| past 3.04e9 does not wrap the squared moment — constant season flags nothing") {
    val v = 4000000000L // v*v = 1.6e19 wraps long; decimal path is exact
    val df = Seq(("s", v), ("s", v), ("s", v)).toDF("season", "v")
    val got = Analytics.seasonalAnomaly(df, col("season"), col("v"))
      .select("n_anomalies").as[Long].head()
    // pre-fix the wrapped variance went NEGATIVE and every row flagged
    assert(got == 0L, s"constant season must flag nothing, got $got anomalies")
  }

  test("chiSquare: the cubic n*r*c denominator survives past 2^63 (matches exact BigDecimal arithmetic)") {
    // 6e6 rows with a DEPENDENT b (all odd ids are false): the cubic
    // n*r*c = 6e6 * 3e6 * 1.5e6 = 2.7e19 > Long.MaxValue wrapped pre-fix
    val df = spark.range(6000000L)
      .select((col("id") % 2).as("a"), (col("id") % 4 < 1).as("b"))
    val cells = Analytics.chiSquare(df, col("a"), col("b"))
      .select(col("a").cast("long"), col("b").cast("string"), col("n_obs"), col("chi2"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val chi2 = cells.head._4
    // recompute χ² from the integer cells in exact BigDecimal (marginals
    // rebuilt from the cells themselves)
    val n = BigDecimal(cells.map(_._3).sum)
    val rowT = cells.groupBy(_._1).map { case (k, v) => k -> BigDecimal(v.map(_._3).sum) }
    val colT = cells.groupBy(_._2).map { case (k, v) => k -> BigDecimal(v.map(_._3).sum) }
    val want = cells.map { case (a, b, o, _) =>
      val num = BigDecimal(o) * n - rowT(a) * colT(b)
      (num * num / (n * rowT(a) * colT(b))).toDouble
    }.sum
    assert(want > 0.0, "construct must be dependent (nonzero chi2)")
    assert(chi2 >= 0.0 && math.abs(chi2 - want) / want < 1e-9,
      s"chi2 $chi2 != exact $want (wrapped denominator?)")
  }

  test("groupSample / mixByTokenBudget: helper names yield to user columns named _rk / _mix_src") {
    val df = Seq(("a", 1L, 99L), ("a", 2L, 98L), ("b", 3L, 97L))
      .toDF("src", "id", "_rk")
    val out = Sampling.groupSample(df, col("src"), col("id"), 1)
    assert(out.columns.contains("_rk"), "user _rk column was destroyed")
    assert(out.select("_rk").as[Long].collect().toSet.subsetOf(Set(99L, 98L, 97L)),
      "user _rk values must survive the sample")
    val docs = Seq(("d1", "s1", 10L, "x"), ("d2", "s2", 10L, "y"))
      .toDF("doc_id", "source", "n_tok", "_mix_src")
    // pre-fix: AMBIGUOUS_REFERENCE on the join condition
    val kept = Sampling.mixByTokenBudget(docs, col("doc_id"), col("source"),
      col("n_tok"), Map("s1" -> 1.0, "s2" -> 1.0), tokenBudget = 100L)
    assert(kept.columns.contains("_mix_src"), "user _mix_src column was dropped")
    assert(kept.count() == 2L)
  }
}
