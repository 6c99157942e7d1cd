package graft

import org.apache.spark.sql.functions._
import graft.ops.{Transforms, Sources}
import org.apache.spark.sql.functions.{col, lit}

class TransformsSpec extends SparkSpec {
  import spark.implicits._

  test("op9: multi-format date parse nulls month-00 dates (reference strptime-fail semantics)") {
    val df = Seq("19250404", "1925-04-04", "19250004", "00000000", "garbage")
      .toDF("raw")
      .select(Transforms.parseDateMulti(col("raw")).cast("string").as("d"))
    assert(df.as[Option[String]].collect().toSeq ==
      Seq(Some("1925-04-04"), Some("1925-04-04"), None, None, None))
  }

  test("op9: shape guard never changes a parse result (over-approximation contract, adversarial inputs)") {
    // the guard may only SKIP attempts to_date would null anyway — for
    // every input and format, guarded == unguarded. Inputs cover the
    // probed accept-set corners: signed/wide years (+12345-01-01 and
    // -0100-01-01 DO parse under yyyy-MM-dd), width violations, whitespace,
    // embedded junk, month/day zero, Feb 30, empty, and plain valid forms.
    val inputs = Seq(
      "19250404", "1925-04-04", "2023-12-31", "20231231",
      "12345-01-01", "+12345-01-01", "-0100-01-01", "999-01-01", "0999-01-01",
      "123456789", "+123456789", "2023-1-1", "00000000", "0000-00-00",
      "20230230", "2023-02-30", " 20230101", "20230101 ", " 2023-01-01",
      "2023/01/01", "01-01-2023", "abcdefgh", "2023-ab-01", "", "-", "+",
      "99999999", "10000101", "9999-12-31",
      // month/day range-class corners: the guard's 01-12 / 01-31 classes
      // must reject ONLY what the formatter rejects (00, 13+, 32+), while
      // calendar-dependent invalids (Feb 30, Apr 31) pass the guard and
      // null in the parser
      "20231301", "2023-13-01", "20230132", "2023-01-32", "20230100",
      "2023-01-00", "20230001", "2023-00-01", "00010101", "0001-01-01",
      "20230431", "2023-04-31", "20231231", "20230930")
    val formats = Seq("yyyyMMdd", "yyyy-MM-dd", "yyyy/MM/dd", "dd-MM-yyyy", "M/d/yyyy")
    val df = inputs.toDF("raw")
    for (f <- formats) {
      val guarded = Transforms.parseDateMulti(col("raw"), Seq(f)).cast("string")
      val unguarded = to_date(col("raw"), f).cast("string")
      val rows = df.select(col("raw"), guarded.as("g"), unguarded.as("u"))
        .as[(String, Option[String], Option[String])].collect()
      val diff = rows.filter { case (_, g, u) => g != u }
      assert(diff.isEmpty, s"format $f: guard changed results: ${diff.mkString(", ")}")
    }
    // multi-format default: same contract end-to-end
    val g2 = df.select(Transforms.parseDateMulti(col("raw")).cast("string").as("d"))
      .as[Option[String]].collect().toSeq
    val u2 = df.select(coalesce(to_date(col("raw"), "yyyyMMdd"), to_date(col("raw"), "yyyy-MM-dd"))
      .cast("string").as("d")).as[Option[String]].collect().toSeq
    assert(g2 == u2)
    // guard derivation: the safe subset guards, the variable-width one doesn't
    assert(Transforms.shapeGuard("yyyyMMdd").isDefined)
    assert(Transforms.shapeGuard("yyyy-MM-dd").isDefined)
    assert(Transforms.shapeGuard("M/d/yyyy").isEmpty, "single-letter tokens must stay unguarded")
    assert(Transforms.shapeGuard("MMM yyyy").isEmpty, "text tokens must stay unguarded")
    assert(Transforms.shapeGuard("yy-MM-dd").isEmpty, "non-4-width year runs must stay unguarded")
    // quoted literals are FORMAT SYNTAX the quoting loop can't see: the
    // parser accepts "20240101 " under "yyyyMMdd' '" but a naive guard
    // would reject it — such formats must bail to unguarded
    assert(Transforms.shapeGuard("yyyyMMdd' '").isEmpty, "quoted-literal formats must stay unguarded")
    assert(Transforms.shapeGuard("yyyy'T'MM").isEmpty, "quoted-letter formats must stay unguarded")
  }

  test("op5: fixed-width slicing matches the reference's byte offsets (Report.md sample row)") {
    // Python slices [0:80],[81:89],[154:162],[162:167] == SQL substring (1,80),(82,8),(155,8),(163,5)
    val name = "THERON*JEANNINE EMILIENNE MARIA/"
    val line = name.padTo(80, ' ') + "2" + "19250404" + "51582TRIGNY".padTo(65, ' ') + "20220804" + "01007" + "19"
    val out = Sources.fixedWidth(Seq(line).toDF("value"), "value", Sources.deathRecordFields)
      .as[(String, String, String, String)].head()
    assert(out == ((name, "19250404", "20220804", "01007")))
  }

  test("op11: lat,lon split and cast") {
    val (la, lo) = Transforms.splitPoint(lit("47.733,-1.38"))
    val (a, b) = Seq(1).toDF("x").select(la, lo).as[(Double, Double)].head()
    assert(a == 47.733 && b == -1.38)
  }

  test("op12: hash id is deterministic and algo-selectable") {
    val df = Seq(("BELLEVILLE", 1200.0)).toDF("plant", "mw")
    val id1 = df.select(Transforms.hashId(Seq(col("plant"), col("mw").cast("string"))).as("id")).head().getString(0)
    val id2 = df.select(Transforms.hashId(Seq(col("plant"), col("mw").cast("string"))).as("id")).head().getString(0)
    assert(id1 == id2 && id1.length == 40) // sha1 hex
    val md = df.select(Transforms.hashId(Seq(col("plant")), algo = "md5").as("id")).head().getString(0)
    assert(md.length == 32)
  }

  test("op10: validity filter drops null and NaN") {
    val df = Seq((Some(1.0), "a"), (Some(Double.NaN), "b"), (None, "c")).toDF("v", "k")
    val kept = Transforms.filterValid(df, Seq("v")).select("k").as[String].collect().toSet
    assert(kept == Set("a"))
  }

  test("unpivot melts wide measures to long rows; round-trips through pivot") {
    val wide = Seq((1L, 10.0, 100.0), (2L, 20.0, 200.0)).toDF("id", "m1", "m2")
    val long = Transforms.unpivot(wide, ids = Seq("id"), measures = Seq("m1", "m2"))
    assert(long.columns.toSeq == Seq("id", "measure", "value"))
    val got = long.as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "m1", 10.0), (1L, "m2", 100.0), (2L, "m1", 20.0), (2L, "m2", 200.0)))
    // pivoting back restores the wide shape
    val back = long.groupBy("id").pivot("measure", Seq("m1", "m2")).sum("value")
      .as[(Long, Double, Double)].collect().toSet
    assert(back == Set((1L, 10.0, 100.0), (2L, 20.0, 200.0)))
    // melt is a pure projection: no exchange in the plan
    assert(!long.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("zValue interleaves bits (reference impl), quadrants order, z-write clusters files") {
    // reference interleave in plain Scala
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val pts = for (x <- 0L to 15L; y <- 0L to 15L) yield (x, y)
    val got = pts.toDF("x", "y")
      .select($"x", $"y", graft.ops.Layout.zValue($"x", $"y", bits = 4).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == morton(x, y, 4), s"($x,$y)") }
    // quadrant dominance: every lower-left point sorts before every upper-right point
    val zs = got.map { case (x, y, z) => ((x, y), z) }.toMap
    for (a <- pts if a._1 < 8 && a._2 < 8; b <- Seq((8L, 8L), (15L, 15L)))
      assert(zs(a) < zs(b))
    // z-ordered write partitions by z-range and round-trips
    val dir = tempDir("graft-z").toString + "/t"
    graft.ops.Layout.writeZOrdered(pts.toDF("x", "y"), dir, $"x", $"y", bits = 4, numFiles = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == pts.length)
    // each file covers a disjoint z-range: per-file z-spans must not overlap
    val perFile = back
      .select(graft.ops.Layout.zValue($"x", $"y", bits = 4).as("z"),
        input_file_name().as("f"))
      .groupBy($"f").agg(min($"z").as("lo"), max($"z").as("hi"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    perFile.sliding(2).foreach {
      case Array(a, b) => assert(a._3 < b._2, s"file z-ranges overlap: $a vs $b")
      case _ =>
    }
  }
  // ---- meanImputeReport ----

  test("meanImputeReport: exact mean, missing census, and assembled total") {
    import spark.implicits._
    val df = Seq(("a", Some(2.0)), ("a", None), ("a", Some(4.0)),
      ("b", Some(10.0)), ("b", None), ("b", None)).toDF("g", "v")
    val got = Transforms.meanImputeReport(df, col("g"), col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_missing"),
         r.getAs[Double]("mean_used"), r.getAs[Double]("total_after"))).toMap
    assert(got("a") === ((3L, 1L, 3.0, 9.0)))   // 6 + 1·3
    assert(got("b") === ((3L, 2L, 10.0, 30.0))) // 10 + 2·10
  }

  test("meanImputeReport: an all-null group yields null mean and total, never a crash") {
    import spark.implicits._
    val df = Seq(("x", None: Option[Double]), ("x", None)).toDF("g", "v")
    val r = Transforms.meanImputeReport(df, col("g"), col("v")).head()
    assert(r.getAs[Long]("n_missing") === 2L)
    assert(r.isNullAt(r.fieldIndex("mean_used")) && r.isNullAt(r.fieldIndex("total_after")))
  }

  test("meanImputeReport: NaN/Infinity values join the missing population — numerator and denominator agree") {
    // probed regression: the decimal cast NULLed NaN out of the SUM while
    // count(value) still counted it — a [2.0, NaN, null] group reported
    // mean 1.0 instead of 2.0
    val df = Seq(("g", Some(2.0)), ("g", Some(Double.NaN)), ("g", None: Option[Double]),
      ("g", Some(Double.PositiveInfinity))).toDF("grp", "v")
    val r = graft.ops.Transforms.meanImputeReport(df, col("grp"), col("v")).head()
    assert(r.getLong(1) == 4L, "n_rows counts every row")
    assert(r.getLong(2) == 3L, s"NaN/Inf/null are all missing: ${r.getLong(2)}")
    assert(r.getDouble(3) == 2.0, s"mean over the one valid value: ${r.getDouble(3)}")
    assert(r.getDouble(4) == 8.0, s"2.0 + 3 imputed * 2.0: ${r.getDouble(4)}")
  }

  test("scd2Apply: a NULL natural key versions like any other key (null-safe join regression)") {
    // probed regression: the usingColumns EqualTo never matched a
    // null-keyed current row to its null-keyed update — the old interval
    // stayed open AND a second open row inserted
    val dim = Seq((Option.empty[String], "a", 1L, Option.empty[Long])).toDF("key", "attr", "valid_from", "valid_to")
    val upd = Seq((Option.empty[String], "b", 5L)).toDF("key", "attr", "ts")
    val got = graft.ops.Transforms.scd2Apply(dim, upd)
      .select("key", "attr", "valid_from", "valid_to", "_action")
      .as[(Option[String], String, Long, Option[Long], String)].collect().sortBy(_._5)
    assert(got.toSeq == Seq(
      (None, "a", 1L, Some(5L), "closed"),
      (None, "b", 5L, None, "opened")), s"got: ${got.mkString(",")}")
  }

  test("tableDiff: a compared column literally named _a_present does not collide with the presence markers") {
    val v0 = Seq((1L, "x")).toDF("k", "_a_present")
    val v1 = Seq((1L, "y"), (2L, "z")).toDF("k", "_a_present")
    val got = graft.ops.Transforms.tableDiff(v0, v1, Seq("k"), Seq("_a_present"))
      .select("k", "diff_status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "changed", 2L -> "added"), s"got: $got")
  }

  test("scd2Apply: change closes+opens, same attr noops, new key inserts, history untouched; idempotent on re-apply") {
    import spark.implicits._
    val dim = Seq(
      (1L, "a", 0L, Some(10L)), (1L, "b", 10L, None),   // key 1: history + current b
      (2L, "x", 0L, None)).map { case (k, a, f, t) => (k, a, f, t.map(Long.box).orNull) }
      .toDF("key", "attr", "valid_from", "valid_to")
      .select($"key", $"attr", $"valid_from", $"valid_to".cast("long"))
    val upd = Seq((1L, "c", 20L), (2L, "x", 30L), (3L, "n", 5L)).toDF("key", "attr", "ts")
    val out = graft.ops.Transforms.scd2Apply(dim, upd)
    val rows = out.as[(Long, String, Long, Option[Long], String)].collect().toSet
    assert(rows === Set(
      (1L, "a", 0L, Some(10L), "history"),
      (1L, "b", 10L, Some(20L), "closed"),
      (1L, "c", 20L, None, "opened"),
      (2L, "x", 0L, None, "noop"),
      (3L, "n", 5L, None, "inserted")))
    // idempotency: re-applying the same batch to the merged dim is all noops
    val again = graft.ops.Transforms.scd2Apply(out.drop("_action"), upd)
    assert(again.where($"_action".isin("closed", "opened", "inserted")).count() === 0L)
  }

  test("scd2Apply: NULL attr values close and open like any other value (presence != attr nullness)") {
    import spark.implicits._
    // current row with attr = NULL updated to 'x' must CLOSE (the old
    // attr-null presence flags destroyed its interval); an update SETTING
    // attr to NULL must apply, not classify as noop
    val dim = Seq((1L, Option.empty[String], 100L, Option.empty[Long]),
        (2L, Some("y"), 50L, Option.empty[Long]))
      .toDF("key", "attr", "valid_from", "valid_to")
      .select($"key", $"attr", $"valid_from", $"valid_to".cast("long"))
    val upd = Seq((1L, Some("x"), 200L), (2L, (Option.empty[String]), 300L))
      .toDF("key", "attr", "ts")
    val out = graft.ops.Transforms.scd2Apply(dim, upd)
      .as[(Long, Option[String], Long, Option[Long], String)].collect().toSet
    assert(out === Set(
      (1L, None, 100L, Some(200L), "closed"),
      (1L, Some("x"), 200L, None, "opened"),
      (2L, Some("y"), 50L, Some(300L), "closed"),
      (2L, None, 300L, None, "opened")), s"got $out")
  }

  test("tableDiff: added/removed/changed/unchanged classified; null transitions are changes") {
    import spark.implicits._
    val v0 = Seq((1L, Some(10.0), "a"), (2L, Some(20.0), "b"),
        (3L, None: Option[Double], "c"), (4L, Some(40.0), "d"))
      .toDF("k", "p", "s")
    val v1 = Seq((1L, Some(10.0), "a"),          // unchanged
        (2L, Some(99.0), "b"),                   // changed (value)
        (3L, Some(30.0), "c"),                   // changed (null -> value)
        (5L, Some(50.0), "e"))                   // added; 4 removed
      .toDF("k", "p", "s")
    val d = graft.ops.Transforms.tableDiff(v0, v1, Seq("k"), Seq("p", "s"))
    val by = d.select($"k", $"diff_status").as[(Long, String)].collect().toMap
    assert(by === Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
    // old/new payloads: removed keys carry only _old, added only _new
    val r4 = d.where($"k" === 4).head()
    assert(r4.getAs[Double]("p_old") === 40.0 && r4.isNullAt(r4.fieldIndex("p_new")))
    val r5 = d.where($"k" === 5).head()
    assert(r5.isNullAt(r5.fieldIndex("p_old")) && r5.getAs[Double]("p_new") === 50.0)
    // an all-null compared row present on both sides is unchanged (null <=> null)
    val n0 = Seq((9L, None: Option[Double], null.asInstanceOf[String])).toDF("k", "p", "s")
    assert(graft.ops.Transforms.tableDiff(n0, n0, Seq("k"), Seq("p", "s"))
      .head().getAs[String]("diff_status") === "unchanged")
  }
}
