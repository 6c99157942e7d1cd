package graft

import org.apache.spark.sql.functions._
import graft.ops.Aggregates

class AggregatesSpec extends SparkSpec {
  import spark.implicits._

  test("op17: dedupFirst keeps the first row per key under the given order (pandas first-wins)") {
    val df = Seq(("BELLEVILLE", 1, 620.0), ("BELLEVILLE", 2, 655.0), ("CIVAUX", 1, 700.0))
      .toDF("plant", "unit", "mw")
    val got = Aggregates.dedupFirst(df, Seq("plant"), Seq(col("unit").asc))
      .select("plant", "mw").as[(String, Double)].collect().toMap
    // plant power = FIRST unit's MW, not the sum — faithful reference semantics (SURVEY §7.4.3)
    assert(got == Map("BELLEVILLE" -> 620.0, "CIVAUX" -> 700.0))
  }

  test("op18: idempotent insert — appending the returned rows twice is a no-op (seeded property)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val existing = List.fill(rnd.nextInt(20))(rnd.nextInt(30))
      val batch = List.fill(rnd.nextInt(20))(rnd.nextInt(30))
      val e = existing.toDF("id")
      val b = batch.toDF("id")
      val newRows = Aggregates.idempotentNewRows(b, e, Seq("id")).as[Int].collect().toSet
      // new rows are exactly batch-minus-existing, deduped
      assert(newRows == (batch.toSet -- existing.toSet))
      // re-running against existing+newRows yields nothing
      val after = existing.toSet ++ newRows
      val again = Aggregates.idempotentNewRows(b, after.toSeq.toDF("id"), Seq("id")).count()
      assert(again == 0)
    }
  }

  test("op19: unionAligned aligns schemas by name and fills missing with null") {
    val a = Seq((1, "x")).toDF("id", "a_only")
    val b = Seq((2, 9.0)).toDF("id", "b_only")
    val u = Aggregates.unionAligned(Seq(a, b))
    assert(u.columns.toSet == Set("id", "a_only", "b_only") && u.count() == 2)
  }

  test("topk plans as TakeOrderedAndProject (no global sort)") {
    val o = Tables.load(spark, sf0001, "orders")
    val plan = Aggregates.topK(o, 10, Seq(col("o_totalprice").desc)).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("upsert: updates replace same-key rows, inserts append, untouched rows survive") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B2"), (9L, "NEW")).toDF("k", "v")
    val got = Aggregates.upsert(base, updates, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c", 9L -> "NEW"))
    // idempotent under re-application of the same update batch
    val again = Aggregates.upsert(Aggregates.upsert(base, updates, Seq("k")), updates, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(again == got)
    // duplicate keys WITHIN updates resolve to ONE surviving row per key
    // (the MERGE invariant) instead of leaking both duplicates
    val dupUpdates = Seq((2L, "B2"), (2L, "B3"), (9L, "NEW")).toDF("k", "v")
    val merged = Aggregates.upsert(base, dupUpdates, Seq("k")).collect()
    assert(merged.length == 4, "at most one row per key must survive")
    assert(merged.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 9L))
    // a key name containing a dot must resolve as a COLUMN, not a
    // nested-field path (the qualified references are backtick-quoted)
    val dottedBase = Seq((1L, "a"), (2L, "b")).toDF("user.id", "v")
    val dottedUpd = Seq((2L, "B2"), (3L, "c")).toDF("user.id", "v")
    val dotted = Aggregates.upsert(dottedBase, dottedUpd, Seq("user.id"))
      .as[(Long, String)].collect().toMap
    assert(dotted == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
  }

  test("regressionByGroup recovers an exact line and its correlation sign") {
    // y = 2x + 1 exactly: slope 2, intercept 1, corr 1 (all representable)
    val pts = (1 to 100).map(i => ("g", i.toDouble, 2.0 * i + 1.0)) ++
      (1 to 100).map(i => ("h", i.toDouble, -3.0 * i + 50.0))
    val df = pts.toDF("g", "x", "y")
    val got = graft.ops.Analytics.regressionByGroup(df, col("g"), col("x"), col("y"))
      .select("grp", "n_rows", "slope", "intercept", "corr")
      .as[(String, Long, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("g") == (("g", 100L, 2.0, 1.0, 1.0)))
    assert(got("h")._3 == -3.0 && got("h")._4 == 50.0 && got("h")._5 == -1.0)
  }

  test("correlationMatrix: matches built-in corr per pair, one row per pair, repartition-stable") {
    val li = Tables.load(spark, sf0001, "lineitem")
    val inputs = Seq("l_quantity" -> 0, "l_extendedprice" -> 2, "l_discount" -> 2)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Analytics.correlationMatrix(df, inputs)
        .as[(String, String, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val got = run(li)
    assert(got.size == 3) // C(3,2) pairs, each exactly once
    for (((a, b), c) <- got) {
      val builtin = li.select(corr(col(a), col(b))).as[Double].head()
      assert(math.abs(c - builtin) < 1e-9, s"($a,$b): $c vs builtin $builtin")
      assert(c >= -1.0 && c <= 1.0)
    }
    // decimal moments make the result identical under any partitioning
    assert(run(li.repartition(13)) == got)
  }

  test("momentSum long fast path bit-matches the decimal cast path (signs, nulls, NaN/Inf)") {
    // the r19 floating fast path: Σ round_sc(x) via long rounding must be
    // BIT-identical to sum(cast(x as decimal(p,sc))).cast(double) away from
    // the documented ulp-of-boundary zone — including negatives (HALF_UP is
    // away from zero), nulls (skipped), and NaN/Inf (nulled like the
    // ANSI-off decimal cast, not floored to garbage)
    // values stay clear of .5 rounding boundaries at every tested scale —
    // ulp-of-boundary inputs are OUT of both paths' documented contract
    // (engine-divergent for the decimal path too); constructed half-ties
    // like 2.675·4.35 do diverge, by design
    val vals: Seq[java.lang.Double] = Seq(
      1.23456789, -9.87654321, 0.0, -0.0, 123.456, -987.654,
      null, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      12345.678, -54321.123, 0.004199, -0.004199)
    val df = vals.toDF("x").withColumn("y", col("x") * 1.7 + 0.31)
    for (sc <- Seq(0, 2, 4); e <- Seq(col("x"), col("x") * col("y"))) {
      val viaDecimal = df.agg(
        sum(e.cast(s"decimal(30,$sc)")).cast("double").as("m")).as[Double].head()
      val viaLong = df.agg(graft.ops.Analytics.momentSum(df, e, sc, "m",
        _ => fail("floating input must take the long path"))).as[Double].head()
      assert(java.lang.Double.doubleToLongBits(viaDecimal) ==
        java.lang.Double.doubleToLongBits(viaLong),
        s"scale $sc expr $e: $viaDecimal vs $viaLong")
    }
    // integral inputs stay on the caller's decimal form (exact past 2^53)
    val ints = Seq(1L, 2L, 3L).toDF("x")
    val viaInt = ints.agg(graft.ops.Analytics.momentSum(ints, col("x"), 0, "m",
      e => sum(e.cast("decimal(24,0)")).cast("double"))).as[Double].head()
    assert(viaInt == 6.0)
  }

  test("momentSum overflow guard: out-of-window sums are NULL, not wrapped longs") {
    import graft.ops.Analytics
    // scaled Σ past 2^63 (three rows of 5e18 at scale 0): the pre-guard
    // fast path wrapped the long sum into plausible-looking garbage; the
    // witnessed form must return NULL (detectable, the decimal path's
    // failure mode)
    val big = Seq(5.0e18, 5.0e18, 5.0e18).toDF("x")
    val overG = big.agg(Analytics.momentSum(big, col("x"), 0, "m",
      _ => fail("floating input must take the long path"))).as[Option[Double]].head()
    assert(overG.isEmpty, s"Σ past 2^63 must null, got $overG")
    // per-row scaled image at/past 2^63: the row nulls out (the decimal
    // cast's per-value overflow behavior) instead of clamping at
    // Long.MaxValue — the remaining rows still sum exactly
    val mixed = Seq(1.0e19, 2.0, 3.0).toDF("x")
    val perRow = mixed.agg(Analytics.momentSum(mixed, col("x"), 0, "m",
      _ => fail("floating input must take the long path"))).as[Option[Double]].head()
    assert(perRow.contains(5.0), s"huge row must null out, rest sum: $perRow")
    // well inside the window the guard is invisible: bit-identical to the
    // decimal path (the r19 equivalence, re-pinned under the witness)
    val ok = Seq(1.25, -2.5e12, 3.75e12).toDF("x")
    val viaDecimal = ok.agg(
      sum(col("x").cast("decimal(30,2)")).cast("double").as("m")).as[Double].head()
    val viaLong = ok.agg(Analytics.momentSum(ok, col("x"), 2, "m",
      _ => fail("floating input must take the long path"))).as[Double].head()
    assert(java.lang.Double.doubleToLongBits(viaDecimal) ==
      java.lang.Double.doubleToLongBits(viaLong))
    // scale > 15 floating inputs route to the decimal form instead of
    // throwing at plan time (the pre-r19 decimal(24,16) acceptance)
    val wide = Seq(0.5, 0.25).toDF("x")
    val viaWide = wide.agg(Analytics.momentSum(wide, col("x"), 16, "m",
      e => sum(e.cast("decimal(24,16)")).cast("double"))).as[Double].head()
    assert(viaWide == 0.75)
  }

  test("funnelStages: strict first-occurrence ordering gates each stage") {
    val ev = Seq(
      (1L, "signup", 10L), (1L, "click", 20L), (1L, "purchase", 30L),  // full funnel
      (2L, "click", 5L), (2L, "signup", 10L), (2L, "purchase", 30L),   // click BEFORE signup -> stuck at 1
      (2L, "click", 15L), // a later click does not resurrect the funnel (first occurrence rules)
      (3L, "signup", 10L),                                             // only stage 1
      (4L, "purchase", 1L)                                             // never signed up -> 0
    ).toDF("user_id", "event_type", "ts")
    val got = graft.ops.Analytics.funnelStages(ev, col("user_id"), col("event_type"),
        col("ts"), Seq("signup", "click", "purchase"))
      .select("entity", "reached").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 0))
  }

  test("skewProfile flags the hot key; winsorize clamps to the exact percentile band") {
    val df = (Seq.fill(70)(7L) ++ (1L to 30L)).toDF("k") // key 7 holds 70 of 100 rows
    val p = graft.ops.Analytics.skewProfile(df, col("k")).collect()(0)
    assert(p.getLong(0) == 30L && p.getLong(1) == 100L && p.getLong(2) == 71L)
    assert(p.getLong(3) == 7L)
    assert(math.abs(p.getDouble(4) - 71.0 / (100.0 / 30.0)) < 1e-12)

    val vals = (1 to 100).map(i => ("g", i.toDouble)).toDF("g", "v")
    val w = graft.ops.Analytics.winsorize(vals, col("g"), col("v"), 0.10, 0.90)
      .select(col("_wins")).as[Double].collect()
    // exact linear-interp percentiles of 1..100: p10 = 10.9, p90 = 90.1
    assert(math.abs(w.min - 10.9) < 1e-12 && math.abs(w.max - 90.1) < 1e-12)
    assert(w.count(x => math.abs(x - 10.9) < 1e-12) == 10) // values 1..10 clamp up to p10
  }

  test("winsorize: NULL measures yield NULL _wins, never a fabricated bound") {
    // greatest/least SKIP nulls, so without the explicit guard a NULL
    // measure would clamp to the LOW bound — invented data
    val vals = ((1 to 10).map(i => ("g", Some(i.toDouble))) :+ ("g", None: Option[Double]))
      .toDF("g", "v")
    val w = graft.ops.Analytics.winsorize(vals, col("g"), col("v"), 0.10, 0.90)
      .select(col("v"), col("_wins")).collect()
    val nullRow = w.filter(_.isNullAt(0))
    assert(nullRow.length == 1 && nullRow.head.isNullAt(1),
      "NULL measure must pass through with NULL _wins")
    // and the non-null rows' percentiles ignore the null (n=10, p10=1.9)
    assert(math.abs(w.filter(!_.isNullAt(1)).map(_.getDouble(1)).min - 1.9) < 1e-12)
  }

  test("winsorize: NULL groups survive (null-safe join) and no helper columns leak") {
    val vals = ((1 to 10).map(i => (Some("g"), i.toDouble)) ++
      (1 to 10).map(i => (None: Option[String], i.toDouble + 100))).toDF("g", "v")
    val w = graft.ops.Analytics.winsorize(vals, col("g"), col("v"), 0.10, 0.90)
    assert(w.columns.toSeq == Seq("g", "v", "_wins"),
      s"helper columns leaked: ${w.columns.mkString(",")}")
    val byG = w.collect().groupBy(r => Option(r.getString(0)))
    assert(byG(None).length == 10, "NULL-group rows must not be dropped")
    // the NULL group clamps within its own percentile band (p10 = 101.9)
    val nullWins = byG(None).map(_.getDouble(2))
    assert(math.abs(nullWins.min - 101.9) < 1e-12)
  }

  test("winsorize: input columns named _g/_lo/_hi don't break the join or get dropped") {
    // the join-side helper names are minted fresh against df.columns —
    // without that, `group <=> col("_g")` is ambiguous (AnalysisException)
    // and the final drop would eat the user's columns
    val vals = (1 to 20).map(i => ("g", i.toDouble, i, i, i))
      .toDF("_g", "v", "_lo", "_hi", "_wins")
    val w = graft.ops.Analytics.winsorize(vals, col("_g"), col("v"), 0.10, 0.90)
    // user columns survive; `_wins` is the documented output and replaces
    // any same-named input
    assert(w.columns.toSeq == Seq("_g", "v", "_lo", "_hi", "_wins"))
    val wins = w.select(col("_wins")).as[Double].collect()
    assert(math.abs(wins.min - 2.9) < 1e-12 && math.abs(wins.max - 18.1) < 1e-12)
  }

  test("standardizeStats: exact moments, null handling, literal == broadcast fallback") {
    val rows = (1 to 9).map(i => ("a", Some(0.0))) ++ Seq(("a", Some(100.0))) ++
      Seq(("c", None: Option[Double]), ("c", Some(1.0)), ("c", Some(2.0)), ("c", Some(3.0)))
    val df = rows.toDF("g", "v")
    def checkResult(out: Array[org.apache.spark.sql.Row]): Unit = {
      val byG = out.map(r => r.getString(0) -> r).toMap
      // group a: n=10, mean=10, pop std=30, cut=60 -> exactly the 100 is out
      assert(byG("a").getLong(1) == 10L)
      assert(math.abs(byG("a").getDouble(2) - 10.0) < 1e-12)
      assert(math.abs(byG("a").getDouble(3) - 30.0) < 1e-12)
      assert(byG("a").getLong(4) == 1L)
      // group c: n_rows counts the NULL row (4), moments ignore it (mean 2)
      assert(byG("c").getLong(1) == 4L)
      assert(math.abs(byG("c").getDouble(2) - 2.0) < 1e-12)
      assert(byG("c").getLong(4) == 0L)
    }
    val litPath = graft.ops.Analytics.standardizeStats(df, col("g"), col("v")).collect()
    checkResult(litPath)
    // maxLiteralGroups = 0 forces the distributed broadcast-join fallback;
    // both paths must agree bit for bit
    val bcPath = graft.ops.Analytics.standardizeStats(df, col("g"), col("v"),
      maxLiteralGroups = 0).collect()
    checkResult(bcPath)
    assert(litPath.map(_.toString).sorted.toSeq == bcPath.map(_.toString).sorted.toSeq)
  }

  test("standardizeStats: composite group keys and sentinel bounds take the join path safely") {
    // struct keys are not lit()-able — they must route to the broadcast-join
    // fallback instead of crashing the literal fold (regression vs the
    // pre-literal implementation, which handled any key type)
    val df = (1 to 20).map(i => (s"a${i % 2}", i % 2, i.toDouble)).toDF("g1", "g2", "v")
    val got = graft.ops.Analytics.standardizeStats(
        df, org.apache.spark.sql.functions.struct(col("g1"), col("g2")), col("v"))
      .collect()
    assert(got.length == 2 && got.forall(_.getLong(1) == 10L))
    // Int.MaxValue means "no bound", not an overflowed negative limit
    val one = graft.ops.Analytics.standardizeStats(df, col("g1"), col("v"),
      maxLiteralGroups = Int.MaxValue).collect()
    assert(one.length == 2)
  }

  test("winsorize: helper-name collision check is case-insensitive like Spark resolution") {
    val vals = (1 to 20).map(i => ("g", i.toDouble, i)).toDF("_G", "v", "_LO")
    val w = graft.ops.Analytics.winsorize(vals, col("_G"), col("v"), 0.10, 0.90)
    assert(w.columns.toSeq == Seq("_G", "v", "_LO", "_wins"))
    val wins = w.select(col("_wins")).as[Double].collect()
    assert(math.abs(wins.min - 2.9) < 1e-12 && math.abs(wins.max - 18.1) < 1e-12)
  }

  test("perceptronFit converges on separable integer data; predict is a pure expression") {
    // plane 3*x1 - 2*x2 + 1 > 0 with integer lattice points off the margin
    val pts = for (x1 <- -5 to 5; x2 <- -5 to 5
                   if 3 * x1 - 2 * x2 + 1 != 0)
      yield (x1.toLong, x2.toLong, if (3 * x1 - 2 * x2 + 1 > 0) 1 else -1)
    val df = pts.toDF("x1", "x2", "y")
    val feats = Seq(col("x1"), col("x2"))
    val w = graft.ops.Analytics.perceptronFit(df, feats, col("y"), iters = 25)
    val preds = df.select(col("y"),
        graft.ops.Analytics.perceptronPredict(feats, w).as("p"))
      .as[(Int, Int)].collect()
    assert(preds.forall { case (y, p) => y == p },
      s"perceptron failed to separate separable data, w=${w.toList}")
    // determinism: identical fit under a different partitioning (long sums
    // are exact in any partition order)
    val w2 = graft.ops.Analytics.perceptronFit(df.repartition(7), feats, col("y"), iters = 25)
    assert(w.toList == w2.toList)
    // the prediction is a literal expression: no join/exchange in the plan
    val plan = df.select(graft.ops.Analytics.perceptronPredict(feats, w))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("standardizeStats: job count stays pinned (no broadcast-build, no limit scale-up)") {
    // the literal path is the zscore perf contract: one bounded driver probe
    // + one self-contained final aggregation. The coalesce(1) before the
    // probe's limit matters — a bare limit().collect() scale-up submits up
    // to log4(partitions) probe jobs on a group-sparse aggregate.
    val df = (1 to 1000).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "v")
    def noop(d: org.apache.spark.sql.DataFrame): Unit =
      d.write.format("noop").mode("overwrite").save()
    // measure under the bench's AQE-off posture (AQE materializes each
    // exchange as its own job — same pipeline measures 4 there)
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      noop(graft.ops.Analytics.standardizeStats(df, col("g"), col("v"))) // warm codegen
      spark.catalog.clearCache()
      val jobs = jobsRunBy(noop(graft.ops.Analytics.standardizeStats(df, col("g"), col("v"))))
      assert(jobs <= 2, s"standardizeStats ran $jobs jobs (bound 2: probe + final agg)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("idempotentNewRows: NULL-keyed rows honor the no-op-on-rerun contract (null-safe anti-join regression)") {
    import spark.implicits._
    // probed regression: the plain-equality anti-join never matched a
    // null-keyed batch row against the existing null-keyed sink row, so
    // every re-run re-emitted (and the sinks re-appended) it
    val batch = Seq(Some(1L), None: Option[Long]).toDF("k")
    val existing = Seq(Some(2L), None: Option[Long]).toDF("k")
    val got = graft.ops.Aggregates.idempotentNewRows(batch, existing, Seq("k"))
      .as[Option[Long]].collect().toSeq
    assert(got == Seq(Some(1L)), s"the null key already exists: $got")
  }

  test("maintainSumCount: an out-of-contract _change value raises instead of silently subtracting") {
    import spark.implicits._
    val oldAgg = Seq(("g", 1L, BigDecimal(10))).toDF("k", "cnt", "sum_val")
    val cdc = Seq(("g", "update_postimage", BigDecimal(5))).toDF("k", "_change", "v")
    val e = intercept[Exception] {
      graft.ops.Aggregates.maintainSumCount(oldAgg, cdc, Seq("k"), col("v")).collect()
    }
    assert(e.getMessage != null && e.toString.contains("maintainSumCount") ||
      Option(e.getCause).exists(_.getMessage.contains("maintainSumCount")) ||
      e.getMessage.contains("USER_RAISED_EXCEPTION") || e.getMessage.contains("unknown _change"),
      s"must fail loudly naming the operator: ${e.getMessage}")
  }

  test("maintainSumCount: delta-maintained aggregate == full recompute; groups appear and disappear") {
    import org.apache.spark.sql.functions._
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(20,2)")
    val before = Seq(("a", 10.0), ("a", 5.0), ("b", 2.0), ("c", 7.0)).toDF("g", "v")
    val after = Seq(("a", 10.0), ("a", 20.0), ("d", 1.0)).toDF("g", "v")
    // CDC in ManifestTable.diff shape: multiset difference, full rows
    val cdc = Seq(
      ("a", 20.0, "insert"), ("d", 1.0, "insert"),            // d APPEARS
      ("a", 5.0, "delete"), ("b", 2.0, "delete"), ("c", 7.0, "delete")) // b, c VANISH
      .toDF("g", "v", "_change")
    val oldAgg = before.groupBy($"g").agg(count(lit(1)).as("cnt"), sum(dec($"v")).as("sum_val"))
    val got = Aggregates.maintainSumCount(oldAgg, cdc, Seq("g"), dec($"v"))
      .select($"g", $"cnt", $"sum_val".cast("double")).as[(String, Long, Double)]
      .collect().toSet
    val want = after.groupBy($"g").agg(count(lit(1)).as("cnt"), sum(dec($"v")).as("sum_val"))
      .select($"g", $"cnt", $"sum_val".cast("double")).as[(String, Long, Double)]
      .collect().toSet
    assert(got == want, s"incremental $got != full $want")
    assert(got.map(_._1) == Set("a", "d"), "b/c must drop at cnt 0; d must appear")
    // the NULL group merges (null-safe key join — groupBy treats NULL as a
    // real group, so plain equality would leave TWO rows for it)
    val beforeN = Seq((Option.empty[String], 1.0), (Option.empty[String], 2.0)).toDF("g", "v")
    val cdcN = Seq((Option.empty[String], 4.0, "insert")).toDF("g", "v", "_change")
    val oldN = beforeN.groupBy($"g").agg(count(lit(1)).as("cnt"), sum(dec($"v")).as("sum_val"))
    val gotN = Aggregates.maintainSumCount(oldN, cdcN, Seq("g"), dec($"v"))
      .select($"g", $"cnt", $"sum_val".cast("double"))
      .as[(Option[String], Long, Double)].collect().toList
    assert(gotN === List((None, 3L, 7.0)),
      s"the NULL group must maintain as ONE row, got $gotN")
  }
  // ---- goldenRecord ----

  test("goldenRecord: each attribute survives from its most recent NON-NULL row independently") {
    import spark.implicits._
    val rows = Seq(
      // key, seq, name, phone
      ("k", 1L, Some("old-name"), Some("111")),
      ("k", 2L, Some("new-name"), None),       // fresher, but phone is null
      ("k", 3L, None, Some("333")),            // freshest, but name is null
      ("z", 1L, None, None)                    // no non-null values at all
    ).toDF("key", "seq", "name", "phone")
    val got = Aggregates.goldenRecord(rows, col("key"), Seq(col("seq")),
        Seq("g_name" -> col("name"), "g_phone" -> col("phone")),
        extra = Seq(count(lit(1)).as("n")))
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), Option(r.getString(2)), r.getAs[Long]("n"))).toMap
    assert(got("k") === ((Some("new-name"), Some("333"), 3L)))
    assert(got("z") === ((None, None, 1L)))
  }

  test("goldenRecord equals the window formulation on a larger deterministic input") {
    import spark.implicits._
    val df = spark.range(0, 500).select(
      (col("id") % 37).as("key"), col("id").as("seq"),
      when(col("id") % 3 === 0, concat(lit("v"), col("id"))).as("v"))
    val got = Aggregates.goldenRecord(df, col("key"), Seq(col("seq")),
        Seq("latest_v" -> col("v")))
      .as[(Long, Option[String])].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("seq").desc)
    val want = df.where(col("v").isNotNull)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("key"), col("v")).as[(Long, String)].collect().toMap
    assert(got.size === 37)
    got.foreach { case (k, v) => assert(v === want.get(k)) }
  }

  test("tableChecksum: row-order/partition invariant; any single-value edit moves it; null != empty string") {
    import spark.implicits._
    val base = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")).toDF("id", "u", "v")
    def ck(df: org.apache.spark.sql.DataFrame): (Long, String) =
      Aggregates.tableChecksum(df, Seq(col("id"), col("u"), col("v")))
        .as[(Long, String)].collect().head
    val c0 = ck(base)
    assert(c0._1 === 3L)
    assert(ck(base.repartition(7)) === c0, "partition-layout invariant")
    assert(ck(base.orderBy(col("id").desc)) === c0, "row-order invariant")
    val edited = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "Z")).toDF("id", "u", "v")
    assert(ck(edited) !== c0, "a one-character edit moves the checksum")
    val withNull = Seq((1L, null.asInstanceOf[String], "x")).toDF("id", "u", "v")
    val withEmpty = Seq((1L, "", "x")).toDF("id", "u", "v")
    assert(ck(withNull) !== ck(withEmpty), "null and empty string digest differently")
  }
}
